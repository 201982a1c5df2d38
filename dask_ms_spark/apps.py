"""Command-line apps (reference S11/S12/F4: the ``dask-ms`` CLI,
daskms/apps/convert.py:74-162, daskms/apps/fragments.py, and
daskms/apps/katdal_import.py).

Usage::

    python -m dask_ms_spark.apps convert IN OUT [--exclude C1,C2]
        [--group-columns G1,G2] [--index-columns I1,I2] [--where EXPR]
        [--format parquet] [--subtables S1,S2]
    python -m dask_ms_spark.apps fragments ancestry STORE
    python -m dask_ms_spark.apps fragments rebase STORE NEW_PARENT
    python -m dask_ms_spark.apps katdal-import URL OUT
    python -m dask_ms_spark.apps curate DOCS OUT [--min-words N]
        [--near-dup-threshold T] [--max-bucket-size B]
        [--splits train:0.9,val:0.05,test:0.05]

Each command is a thin driver over the library; the heavy lifting runs
on the cluster through the same code paths the API exposes.
"""

from __future__ import annotations

import argparse
import sys


def _parse_codec(spec: str | None) -> dict | None:
    """--zarr-compressor id[:level] -> zarr v2 codec dict."""
    if not spec:
        return None
    cid, _, lvl = spec.partition(":")
    out = {"id": cid}
    if lvl:
        out["level"] = int(lvl)
    return out


def _csv(value: str | None) -> list[str]:
    return [v for v in (value or "").split(",") if v]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="dask-ms-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    conv = sub.add_parser("convert", help="convert between table formats "
                          "(reference: dask-ms convert)")
    conv.add_argument("input")
    conv.add_argument("output")
    conv.add_argument("--exclude", default="", help="columns to drop")
    conv.add_argument("--group-columns", default="")
    conv.add_argument("--index-columns", default="")
    conv.add_argument("--where", default=None, help="row filter expression")
    conv.add_argument("--taql-where", default=None,
                      help="TAQL row filter (reference syntax; "
                      "translated, see dask_ms_spark.taql)")
    conv.add_argument("--zarr-max-chunk-mem", type=int, default=None,
                      help="byte budget per zarr chunk file: "
                      "row/cell chunking derived automatically "
                      "(rechunk_by_size)")
    conv.add_argument("--zarr-compressor", default=None,
                      help="codec for zarr output as id[:level], "
                      "e.g. zlib:6 or gzip:4 (stdlib codecs)")
    conv.add_argument("--format", default="parquet",
                      choices=["parquet", "casa", "zarr"])
    conv.add_argument("--subtables", default="",
                      help="subtables to convert alongside the main table")

    frag = sub.add_parser("fragments", help="fragment lineage tools "
                          "(reference: dask-ms fragments)")
    frag_sub = frag.add_subparsers(dest="frag_command", required=True)
    anc = frag_sub.add_parser("ancestry")
    anc.add_argument("store")
    reb = frag_sub.add_parser("rebase")
    reb.add_argument("store")
    reb.add_argument("new_parent")

    kat = sub.add_parser("katdal-import", help="MeerKAT archive ingest "
                         "(reference: dask-ms katdal_import)")
    kat.add_argument("url")
    kat.add_argument("output")

    cur = sub.add_parser(
        "curate",
        help="training-corpus curation: quality gate -> exact dedup "
             "-> near-dup drop -> deterministic split, written as "
             "split-partitioned parquet plus a dataset card")
    cur.add_argument("input", help="documents table (parquet/jsonl) "
                     "with doc_id + text columns")
    cur.add_argument("output")
    cur.add_argument("--min-words", type=int, default=20)
    cur.add_argument("--near-dup-threshold", type=float, default=0.8)
    cur.add_argument("--max-bucket-size", type=int, default=500)
    cur.add_argument("--splits", default="train:0.9,val:0.05,test:0.05")
    cur.add_argument("--decontaminate", default=None, metavar="EVAL",
                     help="eval corpus (parquet/jsonl with doc_id + "
                     "text); training docs sharing >= --contamination"
                     "-fraction of their shingles with it are dropped")
    cur.add_argument("--contamination-fraction", type=float,
                     default=0.2)

    bda = sub.add_parser(
        "bda",
        help="baseline-dependent averaging: adaptive time bins per "
             "baseline (bin width shrinks with uv-distance), DATA "
             "averaged flag-aware, written as parquet "
             "(the ratt-ru/xova reduction as one Spark plan)")
    bda.add_argument("input", help="MS-shaped parquet table")
    bda.add_argument("output")
    bda.add_argument("--time-col", default="TIME")
    bda.add_argument("--baseline-cols", default="ANTENNA1,ANTENNA2")
    bda.add_argument("--uvdist-col", default="UVDIST")
    bda.add_argument("--data-col", default=None)
    bda.add_argument("--flag-col", default=None)
    bda.add_argument("--weight-col", default=None)
    bda.add_argument("--base-interval", type=float, required=True,
                     help="shortest-baseline bin width, seconds")
    bda.add_argument("--ref-uvdist", type=float, required=True,
                     help="uv-distance that gets factor 1 (no extra "
                     "averaging)")
    bda.add_argument("--max-factor", type=int, default=16)
    bda.add_argument("--time-origin", type=float, default=0.0)
    bda.add_argument("--weight-spectrum-col", default=None)
    bda.add_argument("--chan-average", action="store_true",
                     help="also channel-average each bin by its "
                     "factor (the full xova shape)")

    args = parser.parse_args(argv)

    if args.command == "convert":
        from .session import get_spark
        from .sources.convert import convert_store

        spark = get_spark("dask-ms-spark-convert")
        convert_store(
            spark, args.input, args.output,
            subtables=_csv(args.subtables),
            exclude_columns=_csv(args.exclude),
            group_cols=_csv(args.group_columns),
            index_cols=_csv(args.index_columns),
            where=args.where, output_format=args.format,
            taql_where=args.taql_where,
            compressor=_parse_codec(args.zarr_compressor),
            max_chunk_mem=args.zarr_max_chunk_mem)
        return 0

    if args.command == "fragments":
        from .operators.overlay import get_ancestry, rebase_fragment

        if args.frag_command == "ancestry":
            for url in get_ancestry(args.store):
                print(url)
            return 0
        rebase_fragment(args.store, args.new_parent)
        return 0

    if args.command == "curate":
        return _curate(args)

    if args.command == "bda":
        from .operators.bda import bda_average
        from .session import get_spark
        from .sources.parquet import scan_parquet

        spark = get_spark("dask-ms-spark-bda")
        df = scan_parquet(spark, args.input)
        out = bda_average(
            df, args.time_col, _csv(args.baseline_cols),
            args.uvdist_col, args.base_interval, args.ref_uvdist,
            max_factor=args.max_factor, data_col=args.data_col,
            flag_col=args.flag_col, weight_col=args.weight_col,
            weight_spectrum_col=args.weight_spectrum_col,
            chan_average=args.chan_average,
            time_origin=args.time_origin)
        out.write.mode("overwrite").parquet(args.output)
        n_in, n_out = df.count(), out.count()
        print(f"bda: {n_in} rows -> {n_out} bins "
              f"({n_in / max(n_out, 1):.2f}x compression)")
        return 0

    if args.command == "katdal-import":
        from .session import get_spark
        from .sources.katdal import katdal_import

        katdal_import(get_spark("dask-ms-spark-katdal"), args.url,
                      args.output)
        return 0

    return 2


def _curate(args) -> int:
    """The standard pre-training curation funnel as ONE driver
    program over the library operators — every stage is the same
    declarative plan the oracled queries use (quality_filter,
    exact_dedup, minhash_dedup with bucket caps, deterministic_split),
    so the funnel scales exactly as SCALE.md documents for each
    stage.  Writes split-partitioned parquet plus ``_card.json``
    (underscore-prefixed so Spark's file index skips it)
    (per-split/lang volumes and the stage-by-stage funnel).

    Jobs, in order: the input count; the persisted quality +
    exact-dedup survivors' count (the quality gate is map-side and
    the parallelism probes start no job); the near-dup, contamination
    and split stages inside the write; one aggregation over the
    written parquet for the card, whose per-split counts sum to the
    final count."""
    import json
    import os

    from pyspark.sql import functions as F

    from .llm.corpus import quality_filter
    from .llm.dedup import exact_dedup, minhash_dedup
    from .llm.sampling import deterministic_split
    from .session import get_spark
    from .sources.storage import xds_from_storage_table

    weights = {}
    for part in args.splits.split(","):
        name, _, w = part.partition(":")
        weights[name.strip()] = float(w)

    spark = get_spark("dask-ms-spark-curate")
    (ds,) = xds_from_storage_table(spark, args.input)
    docs = ds.df
    n_input = docs.count()

    from .cache import cache_scope, scoped_persist

    with cache_scope():
        ql = quality_filter(docs, min_words=args.min_words)
        kept = docs.join(ql.where("keep").select("doc_id"), "doc_id")
        # exact dedup: survivors are each group's keep_id
        keep_ids = exact_dedup(kept).select(
            F.col("keep_id").alias("doc_id"))
        # persist the post-quality/exact-dedup survivors ONCE: the
        # funnel count, the minhash stage, the contamination stage
        # and the final write all consume this frame — unpersisted,
        # the quality+dedup lineage re-ran per consumer, ~4x the
        # necessary work (review r9); the scope releases it on exit
        kept = scoped_persist(
            kept.join(keep_ids, "doc_id", "left_semi"))
        n_quality_exact = kept.count()

        drops = minhash_dedup(
            kept, threshold=args.near_dup_threshold,
            max_bucket_size=args.max_bucket_size) \
            .select(F.col("drop_id").alias("doc_id"))
        kept = kept.join(drops, "doc_id", "left_anti")
        n_contaminated = 0
        if args.decontaminate:
            from .llm.contamination import contamination_report

            (ev,) = xds_from_storage_table(spark, args.decontaminate)
            bad = (contamination_report(kept, ev.df)
                   .where(F.col("contamination")
                          >= args.contamination_fraction)
                   .select("doc_id"))
            n_contaminated = bad.count()
            kept = kept.join(bad, "doc_id", "left_anti")
        final = deterministic_split(kept, "doc_id", weights)
        final.write.mode("overwrite").partitionBy("split") \
            .parquet(args.output)

    # counts and split stats come from the WRITTEN parquet, not a
    # re-execution of the curation lineage: one aggregation, whose
    # per-split counts also sum to the final count
    try:
        out = spark.read.parquet(args.output)
    except Exception:     # everything dropped: no partition dirs
        split_rows = []
    else:
        by = ["split"] + (["lang"] if "lang" in out.columns else [])
        split_rows = [r.asDict() for r in
                      out.groupBy(*by)
                      .agg(F.count(F.lit(1)).alias("n_docs"),
                           F.sum(F.length("text")).alias("n_chars"))
                      .orderBy(*by).collect()]
    n_out = sum(r["n_docs"] for r in split_rows)
    card = {
        "funnel": {"input": n_input,
                   "after_quality_and_exact_dedup": n_quality_exact,
                   "n_contaminated_dropped": n_contaminated,
                   "final": n_out},
        "splits": split_rows,
        "params": {"min_words": args.min_words,
                   "near_dup_threshold": args.near_dup_threshold,
                   "max_bucket_size": args.max_bucket_size,
                   "splits": weights},
    }
    from .sources import sidecar

    sidecar.write_text(args.output, "_card.json",
                       json.dumps(card, indent=2, sort_keys=True))
    print(json.dumps(card["funnel"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
