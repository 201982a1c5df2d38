"""Parquet source/sink (reference S4/S9).

The reference discovers ``*.parquet`` fragments, groups them by
Hive-style ``FIELD=val`` dirs and reassembles chunked arrays
(daskms/experimental/arrow/reads.py:209-346); its sink writes one file
per row-chunk under Hive partition dirs
(daskms/experimental/arrow/writes.py:100-178).

On Spark both directions are native: ``spark.read.parquet`` does
partition discovery + pruning, ``df.write.partitionBy(...).parquet``
produces the identical Hive layout.  What remains is the dataset-list
facade and the partition-key round trip (G3).

:func:`scan_parquet` reads ONE path and holds the reference's
open-once table handle (daskms/table_proxy.py:146-169) in Spark terms:
an unchanged local store is opened with the schema Spark inferred the
first time, so a re-read starts no schema-inference job.  A URI or a
glob reads as plain ``spark.read.parquet``.  The library's
single-path reads go through it: this module's readers, the schema
peek of ``sources.storage``, the ``apps`` CLI input,
``streaming.events``, the rollup and delta-log stores of
``streaming.maintenance``, ``operators.overlay`` fragment chains,
``operators.snapshot``, ``operators.flagversions`` and the IVF/PQ
index loads of ``llm.similarity``.  ``apps`` reads back the store it
has just written directly, as no memo could hit there.  Multi-path
reads (``spark.read.parquet(*dirs)`` over committed version dirs, as
in ``streaming.maintenance.read_join_view``,
``operators.backfill.read_backfill`` and ``sources.manifest``) do not
go through it and infer their schema on every call.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from ..dataset import Dataset, concat, partition_datasets
from ..types import PARTITION_KEY

__all__ = ["scan_parquet", "xds_from_parquet", "xds_to_parquet",
           "read_table", "compact_parquet", "table_health"]

# Session confs that change what parquet schema inference returns;
# their values are part of every memo key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_MEMO_ENTRIES = 64
# per session: memo key -> the JVM StructType Spark inferred, least
# recently used first; driver threads share it under the lock
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()
_MEMO_LOCK = threading.Lock()


def _store_files(path: str) -> tuple | None:
    """``(relative path, size, mtime_ns)`` of every file of a local
    store, sorted; ``None`` for a URI, a glob or an unreadable path
    (those are never memoised)."""
    if "://" in path or path.startswith("file:") or \
            any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        files = []
        for root, _, names in os.walk(path, followlinks=True):
            for name in names:
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema job on re-reads.

    Spark infers a parquet schema with a one-task job on every read.
    The schema it inferred (the JVM ``StructType``, so types, field
    metadata and partition columns round-trip exactly) is memoised
    per session, keyed by the absolute path, the session confs that
    change inference, and each file's relative path, size and
    ``mtime_ns``; a hit hands it to the reader, so no job starts.  Any
    change to the store or to those confs misses, and a miss (or any
    non-local URI) reads exactly as ``spark.read.parquet`` does.
    """
    files = _store_files(path)
    if files is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path),
           tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS), files)
    with _MEMO_LOCK:
        memo = _SCHEMA_MEMO.setdefault(spark, {})
        schema = memo.pop(key, None)
        if schema is not None:
            memo[key] = schema    # most recently used last
    if schema is not None:
        reader = spark.read
        reader._jreader.schema(schema)
        return reader.parquet(path)
    df = spark.read.parquet(path)
    schema = df._jdf.schema()
    with _MEMO_LOCK:
        memo[key] = schema
        while len(memo) > _MEMO_ENTRIES:
            memo.pop(next(iter(memo)))
    return df


def read_table(spark: SparkSession, path: str,
               columns: Iterable[str] | None = None) -> DataFrame:
    """Plain lazy parquet scan; column pruning via select."""
    df = scan_parquet(spark, path)
    if columns is not None:
        df = df.select(*columns)
    return df


def xds_from_parquet(spark: SparkSession, store: str,
                     columns: Iterable[str] | None = None,
                     group_cols: Iterable[str] = (),
                     index_cols: Iterable[str] = (),
                     where: str | None = None) -> list[Dataset]:
    """Read a parquet store into one Dataset per group (reference
    ``xds_from_parquet``, daskms/experimental/arrow/reads.py:209-346,
    plus the grouping semantics of ``xds_from_table``,
    daskms/dask_ms.py:128-294).

    ``where`` is pushed into the scan by Catalyst (PushedFilters);
    ``group_cols`` matching Hive partition dirs prune partitions.
    """
    df = scan_parquet(spark, store)
    return partition_datasets(df, group_cols, index_cols, where, columns)


def xds_to_parquet(datasets: list[Dataset] | Dataset | DataFrame, store: str,
                   partition_cols: Iterable[str] | None = None,
                   mode: str = "overwrite",
                   table_keywords: dict | None = None,
                   column_keywords: dict | None = None) -> None:
    """Write datasets to a Hive-partitioned parquet store (reference
    ``xds_to_parquet``, daskms/experimental/arrow/writes.py:100-178).

    Partition columns default to the datasets' recorded partition key,
    giving the same ``FIELD=val`` directory layout the reference emits.
    ``table_keywords``/``column_keywords`` mirror ``xds_to_table``'s
    metadata args (daskms/writes.py:723-739) via a JSON sidecar.
    """
    if isinstance(datasets, Dataset):
        datasets = [datasets]
    if isinstance(datasets, list):
        if partition_cols is None:
            key = datasets[0].attrs.get(PARTITION_KEY, ())
            partition_cols = [c for c, _ in key]
        df = concat(datasets)
    else:
        df = datasets
        partition_cols = list(partition_cols or ())

    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(store)

    if table_keywords or column_keywords:
        from .keywords import write_keywords

        write_keywords(store, table_keywords, column_keywords)


def compact_parquet(spark: SparkSession, store: str, out_store: str,
                    sort_cols: Iterable[str] = (),
                    target_files: int | None = None) -> int:
    """Rewrite a parquet store into fewer, larger, optionally sorted
    files — the small-files maintenance pass every incremental-append
    table needs at scale (each streaming micro-batch or per-chunk
    writer leaves one file; metadata and open() overhead then dominate
    the scan).

    With ``sort_cols`` the rewrite range-partitions on those keys, so
    each output file covers a disjoint key range and parquet min/max
    row-group stats prune scans with key predicates — the same
    locality the reference gets from its sorted row-run layout
    (daskms/ordering.py:18-57), achieved declaratively.  Returns the
    number of output files written.
    """
    df = scan_parquet(spark, store)
    if target_files is None:
        target_files = max(1, df.rdd.getNumPartitions() // 8)
    sort_cols = list(sort_cols)
    if sort_cols:
        df = (df.repartitionByRange(target_files, *sort_cols)
                .sortWithinPartitions(*sort_cols))
    else:
        df = df.coalesce(target_files)
    df.write.mode("overwrite").parquet(out_store)
    out = [f for f in _list_files(spark, out_store)
           if f.endswith(".parquet")]
    return len(out)


def _list_files(spark: SparkSession, store: str) -> list[str]:
    import os

    if os.path.isdir(store):
        return [os.path.join(r, f) for r, _, fs in os.walk(store)
                for f in fs]
    # non-local stores: go through the JVM Hadoop FS
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(store)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    names = []
    while it.hasNext():
        names.append(it.next().getPath().toString())
    return names


def table_health(spark: SparkSession, store: str,
                 target_file_bytes: int = 128 << 20) -> "DataFrame":
    """Parquet-store health report: one row per data file (rows,
    bytes, row groups, fraction of target size) plus the layout
    verdicts a maintenance scheduler acts on — the advisor that tells
    you when :func:`compact_parquet` is due.

    Footer reads are DISTRIBUTED: file paths parallelize into tasks
    and each executor opens only its own footers (pyarrow), so the
    report scales to million-file stores where a driver-side loop
    would take hours.  Listing stays driver-side (it is one namenode
    call, not one per file).
    """
    from pyspark.sql import functions as F

    import os as _os

    if _os.path.isfile(store):
        paths = [store]
    else:
        # normalise Hadoop file: URIs back to local paths for pyarrow
        paths = [p[len("file:"):] if p.startswith("file:") else p
                 for p in _list_files(spark, store)
                 if p.endswith(".parquet")]
    pdf = spark.createDataFrame([(p,) for p in paths], "path string") \
        .repartition(max(1, min(len(paths),
                                spark.sparkContext.defaultParallelism)))

    def footers(batches):
        import os

        import pandas as pd
        import pyarrow.parquet as pq

        for b in batches:
            out = []
            for p in b["path"]:
                md = pq.ParquetFile(p).metadata
                out.append((p, md.num_rows,
                            os.path.getsize(p), md.num_row_groups))
            yield pd.DataFrame(out, columns=["path", "n_rows",
                                             "n_bytes", "n_row_groups"])

    detail = pdf.mapInPandas(
        footers, "path string, n_rows long, n_bytes long, "
                 "n_row_groups long")
    return detail.withColumn(
        "fill_fraction",
        F.round(F.col("n_bytes") / F.lit(float(target_file_bytes)), 4)) \
        .withColumn("is_small", F.col("n_bytes")
                    < F.lit(target_file_bytes // 4))
