"""The benchmark's workloads.  Each is a closed loop with one client:
one operation at a time, the next sent only when the previous one has
returned.  An operation is one public library call plus its action.

``ms_io`` exercises the dask-ms reference surface (grouped/sorted,
TAQL-filtered reads, an expression column update written back,
parquet -> zarr conversion, a grouped zarr read); ``curate`` runs the
corpus-curation CLI and reads its split output back.  See README.md
for why each was chosen and which layers each one loads.
"""

from __future__ import annotations

import contextlib
import io
import json
import os

import numpy as np
import pyarrow.parquet as pq

import gen

GROUP_COLS = ["FIELD_ID", "DATA_DESC_ID"]
INDEX_COLS = ["TIME", "ANTENNA1", "ANTENNA2"]
TAQL = "ANTENNA1 < 5 && FIELD_ID == 0"
MS_N_TIME = 8             # 351 baselines x 8 times x 2 fields x 1 ddid
CORPUS_DOCS = 2000


def noop(datasets) -> None:
    """The action of a read: every dataset fully computed, nothing kept."""
    for ds in datasets:
        ds.df.write.format("noop").mode("overwrite").save()


def _data_sum(F, col: str):
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)


class Workload:
    """Base: inputs generated under ``work/inputs``; ``ops()`` lists
    the operations of one iteration as ``(name, kind, fn)``.

    ``warmup_rounds`` runs before the measured phase, each round being
    the whole iteration (``None``) or the named ops only.  Latency keeps
    falling for several calls of each op (JIT of Catalyst, codegen and
    py4j paths), so the warm-up repeats the ops whose curve is steepest.
    ``iterations`` is the fixed number of scored iterations; with at
    most ten ops scored, ``op_tail_s`` is always their maximum.
    ``registry_pass`` runs the registered queries after the measured
    phase of a traced run (see registry.py).
    """

    name = ""
    warmup_rounds: tuple = (None,)
    iterations = 2
    registry_pass = False

    def __init__(self, dms, spark, work: str, seed: int, rec):
        self.dms, self.spark, self.work = dms, spark, work
        self.seed, self.rec = seed, rec
        self.inputs = os.path.join(work, "inputs")
        self.released: list[int] = []   # release_caches() per scored run

    def generate(self) -> None:
        """Write the seeded inputs under ``inputs``."""
        self._generate(self.inputs)

    def after_iteration(self, ops) -> None:
        """Untimed per-iteration bookkeeping and checks: frames the
        library persisted outside a cache scope are released, as a
        long-running caller would."""
        released = self.dms.release_caches()
        if ops[0].phase == "run":
            self.released.append(released)


class MsIo(Workload):
    name = "ms_io"
    # one whole iteration, then the sub-second ops again: grouped_read
    # still falls from ~1.7 s to ~0.8 s over its first six calls, while
    # convert and zarr_read are within ~10% of steady by their second
    warmup_rounds = (None,) + (("grouped_read", "taql_read",
                                "expr_write"),) * 3

    def _generate(self, dest: str) -> None:
        table = gen.ms_table(self.seed, MS_N_TIME)
        gen.write_parquet_dir(table, os.path.join(dest, "ms.parquet"),
                              gen.MS_FILES)
        self.items_per_iteration = table.num_rows
        self.input_bytes = table.nbytes
        self._expect(table)

    def _expect(self, table) -> None:
        cols = ["ROWID", "FIELD_ID", "DATA_DESC_ID", "TIME", "ANTENNA1",
                "ANTENNA2"]
        exp = table.select(cols).to_pandas()
        data = np.stack(table.column("DATA").to_numpy(zero_copy_only=False))
        exp["DSUM"] = data.astype(np.float64).sum(axis=1)
        self.expected = exp

    @property
    def ms(self) -> str:
        return os.path.join(self.inputs, "ms.parquet")

    @property
    def out_parquet(self) -> str:
        return os.path.join(self.work, "out", "corrected.parquet")

    @property
    def out_zarr(self) -> str:
        return os.path.join(self.work, "out", "ms.zarr")

    def ops(self):
        dms, spark, rec = self.dms, self.spark, self.rec
        last = self.last = {}

        def grouped_read(op):
            dss = dms.xds_from_table(spark, self.ms, group_cols=GROUP_COLS,
                                     index_cols=INDEX_COLS)
            rec.constructed(op)
            noop(dss)
            last["grouped_read"] = dss

        def taql_read(op):
            dss = dms.xds_from_table(spark, self.ms, taql_where=TAQL)
            rec.constructed(op)
            noop(dss)
            last["taql_read"] = dss

        def expr_write(op):
            dss = dms.xds_from_table(spark, self.ms, group_cols=GROUP_COLS)
            dss = [dms.Dataset(dms.apply_expr(ds.df,
                                              CORRECTED_DATA="DATA * 2 - 1"),
                               ds.attrs) for ds in dss]
            rec.constructed(op)
            dms.xds_to_table(dss, self.out_parquet)

        def convert(op):
            rec.constructed(op)
            dms.convert_table(spark, self.ms, self.out_zarr,
                              group_cols=GROUP_COLS, output_format="zarr")

        def zarr_read(op):
            dss = dms.xds_from_table(spark, self.out_zarr,
                                     group_cols=GROUP_COLS)
            rec.constructed(op)
            noop(dss)
            last["zarr_read"] = dss

        return [("grouped_read", "read", grouped_read),
                ("taql_read", "read", taql_read),
                ("expr_write", "write", expr_write),
                ("convert", "write", convert),
                ("zarr_read", "read", zarr_read)]

    def outputs(self) -> dict[str, str]:
        return {"parquet": self.out_parquet, "zarr": self.out_zarr}

    def check(self) -> list[tuple[str, str]]:
        """Compare the last iteration's outputs with the generated
        input.  Returns ``(op name, problem)`` pairs."""
        from pyspark.sql import functions as F

        bad: list[tuple[str, str]] = []
        exp = self.expected
        groups = {k: g.sort_values("ROWID").reset_index(drop=True)
                  for k, g in exp.groupby(GROUP_COLS)}

        # grouped read: one dataset per (FIELD_ID, DATA_DESC_ID), row
        # counts per group, rows in index order
        dss = self.last.get("grouped_read") or []
        got = {(ds.attrs.get("FIELD_ID"), ds.attrs.get("DATA_DESC_ID")):
               ds for ds in dss}
        if sorted(got) != sorted(groups):
            bad.append(("grouped_read", f"groups {sorted(got)}"))
        else:
            counts = (self.dms.concat(dss).groupBy(*GROUP_COLS).count()
                      .toPandas())
            for _, row in counts.iterrows():
                key = (row.FIELD_ID, row.DATA_DESC_ID)
                if row["count"] != len(groups[key]):
                    bad.append(("grouped_read", f"count of group {key}"))
            idx = dss[0].df.select(*INDEX_COLS).toPandas()
            srt = idx.sort_values(INDEX_COLS, kind="mergesort")
            if not idx.reset_index(drop=True).equals(
                    srt.reset_index(drop=True)):
                bad.append(("grouped_read", "rows not in index order"))

        # TAQL read: row count against the input computed directly
        want = int(((exp.ANTENNA1 < 5) & (exp.FIELD_ID == 0)).sum())
        taql = self.last.get("taql_read") or []
        n = self.taql_rows = sum(ds.df.count() for ds in taql)
        if n != want:
            bad.append(("taql_read", f"{n} rows, expected {want}"))

        # parquet output: same ROWIDs, ids and DATA per row; the
        # updated column equals DATA * 2 - 1.  A missing or unreadable
        # output is a wrong result, not a crash.
        try:
            pdf = (self.spark.read.parquet(self.out_parquet)
                   .select("ROWID", *GROUP_COLS, *INDEX_COLS,
                           _data_sum(F, "DATA").alias("DSUM"),
                           _data_sum(F, "CORRECTED_DATA").alias("CSUM"))
                   .toPandas().sort_values("ROWID")
                   .reset_index(drop=True))
        except Exception as err:  # noqa: BLE001
            bad.append(("expr_write", f"unreadable output: {err}"))
        else:
            ref = exp.sort_values("ROWID").reset_index(drop=True)
            cells = gen.N_CHAN * gen.N_CORR * 2
            if len(pdf) != len(ref) or not (
                    pdf.ROWID.values == ref.ROWID.values).all():
                bad.append(("expr_write", "ROWID set differs"))
            elif not all((pdf[c].values == ref[c].values).all()
                         for c in GROUP_COLS + INDEX_COLS):
                bad.append(("expr_write", "row keys differ"))
            elif not np.allclose(pdf.DSUM, ref.DSUM, rtol=0, atol=1e-6):
                bad.append(("expr_write", "DATA checksum differs"))
            elif not np.allclose(pdf.CSUM, 2 * ref.DSUM - cells,
                                 rtol=0, atol=1e-3):
                bad.append(("expr_write", "CORRECTED_DATA wrong"))
            for key, g in pdf.groupby(GROUP_COLS):
                if not np.isclose(g.DSUM.sum(), groups[key].DSUM.sum(),
                                  rtol=0, atol=1e-4):
                    bad.append(("expr_write", f"group {key} checksum"))

        # zarr read-back: the zarr writer stores each group with dense
        # ROWIDs 0..n-1 in original ROWID order, so dense row r of a
        # group is the group's r-th smallest input ROWID
        zdss = self.last.get("zarr_read") or []
        zgot = {(ds.attrs.get("FIELD_ID"), ds.attrs.get("DATA_DESC_ID")):
                ds for ds in zdss}
        if sorted(zgot) != sorted(groups):
            bad.append(("zarr_read", f"groups {sorted(zgot)}"))
            bad.append(("convert", "zarr groups differ"))
            return bad
        zall = self.dms.concat(zdss).select(
            *GROUP_COLS, "ROWID", *INDEX_COLS,
            _data_sum(F, "DATA").alias("DSUM")).toPandas()
        for key, z in zall.groupby(GROUP_COLS):
            z = z.sort_values("ROWID").reset_index(drop=True)
            ref = groups[key]
            if len(z) != len(ref) or not (
                    z.ROWID.values == np.arange(len(ref))).all():
                bad.append(("zarr_read", f"group {key} ROWIDs"))
            elif not all((z[c].values == ref[c].values).all()
                         for c in INDEX_COLS):
                bad.append(("zarr_read", f"group {key} row keys"))
            elif not np.isclose(z.DSUM.sum(), ref.DSUM.sum(), rtol=0,
                                atol=1e-4) or not np.allclose(
                    z.DSUM, ref.DSUM, rtol=0, atol=1e-6):
                bad.append(("zarr_read", f"group {key} DATA checksum"))
        return bad


class Curate(Workload):
    name = "curate"
    # the third call of the CLI is still ~10% slower than the fourth
    warmup_rounds = (None, None)
    iterations = 3
    registry_pass = True

    def _generate(self, dest: str) -> None:
        corpus = gen.corpus(self.seed, CORPUS_DOCS)
        os.makedirs(dest, exist_ok=True)
        pq.write_table(corpus.table, os.path.join(dest, "docs.parquet"),
                       compression="snappy")
        self.corpus = corpus
        self.items_per_iteration = corpus.table.num_rows
        self.input_bytes = corpus.table.nbytes
        self.funnels: list[dict] = []

    @property
    def out(self) -> str:
        return os.path.join(self.work, "out", "curated")

    def ops(self):
        dms, spark, rec = self.dms, self.spark, self.rec
        docs = os.path.join(self.inputs, "docs.parquet")
        last = self.last = {}

        def curate(op):
            from dask_ms_spark import apps

            rec.constructed(op)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                code = apps.main(["curate", docs, self.out])
            if code != 0:
                raise RuntimeError(f"curate exited {code}")
            last["funnel"] = json.loads(buf.getvalue().strip()
                                        .splitlines()[-1])

        def read_splits(op):
            dss = dms.xds_from_table(spark, self.out, group_cols=["split"])
            rec.constructed(op)
            noop(dss)
            last["read_splits"] = dss

        return [("curate", "write", curate),
                ("read_splits", "read", read_splits)]

    def outputs(self) -> dict[str, str]:
        return {"parquet": self.out}

    def after_iteration(self, ops) -> None:
        """Every iteration's funnel must equal the first one and the
        generator's planted counts."""
        super().after_iteration(ops)
        op = next(o for o in ops if o.name == "curate")
        funnel = self.last.pop("funnel", None)
        self.funnels.append(funnel)
        want_exact = self.corpus.n_after_quality_and_exact
        if op.error is None and (
                funnel is None or funnel != self.funnels[0]
                or funnel["input"] != CORPUS_DOCS
                or funnel["after_quality_and_exact_dedup"] != want_exact):
            op.wrong = True

    def check(self) -> list[tuple[str, str]]:
        bad: list[tuple[str, str]] = []
        funnel = self.funnels[-1] if self.funnels else None
        if funnel is None:
            return [("curate", "no funnel")]
        out = self.spark.read.parquet(self.out).select("doc_id", "split")
        pdf = out.toPandas()
        if len(pdf) != funnel["final"] or pdf.doc_id.duplicated().any():
            bad.append(("curate", f"{len(pdf)} output rows, funnel says "
                        f"{funnel['final']}"))
        planted = set(self.corpus.exact_dup_ids) & set(pdf.doc_id)
        if planted:
            bad.append(("curate", f"{len(planted)} planted exact "
                        "duplicates kept"))
        dss = self.last.get("read_splits") or []
        n = sum(ds.df.count() for ds in dss)
        if n != funnel["final"] or {ds.attrs.get("split") for ds in dss} \
                != set(pdf.split):
            bad.append(("read_splits", f"{n} rows read back"))
        return bad


WORKLOADS = {w.name: w for w in (MsIo, Curate)}
