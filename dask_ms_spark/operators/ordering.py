"""Sorts & ordering (reference §2.4: O1-O4).

The reference's sorted reads are TAQL ``ORDERBY`` row-id queries
(daskms/ordering.py:64-99) plus per-group ``np.lexsort``
(daskms/ordering.py:102-117); row-run coalescing and permutation
restore (daskms/ordering.py:18-57) are storage artifacts that parquet +
Catalyst make unnecessary.

Spark-first mappings:
* global sorted read  -> ``orderBy`` (range-partitioned sort, O1);
* within-group sort   -> window functions or ``sortWithinPartitions``
  after a hash repartition on the group key (no global sort, O2);
* deterministic ROWID -> rank over the natural key — at scale prefer a
  stored ROWID column written at ingest over recomputing (a global
  row_number is a single-partition bottleneck; the keyed form here
  stays parallel).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..types import ROWID

__all__ = ["sorted_read", "within_group_sort", "attach_rowid",
           "partition_ordinals", "group_rank", "top_k", "zorder_key"]


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` of each column.

    Sorting/range-partitioning a table by this key clusters rows that
    are close in EVERY listed dimension into the same parquet files
    and row groups, so min/max stats prune scans filtered on *any*
    subset of the columns — the multi-column locality a single-column
    sort can't give (the lakehouse ``OPTIMIZE ZORDER BY`` layout; pair
    with :func:`~dask_ms_spark.sources.parquet.compact_parquet` via
    ``sort_cols=["__z"]`` after ``withColumn("__z", zorder_key(...))``).

    Values are clamped to [0, 2^bits); negative inputs clamp to 0 and
    NULLs map to coordinate 0 (explicitly — Spark's least/greatest
    SKIP nulls, which would otherwise send NULL rows to the top
    corner), so null rows cluster together at the origin.  Pre-scale
    real-valued or wide-range columns into bucket ranks first.  Pure
    integer codegen: bits x len(cols) shift/mask terms, no shuffle,
    composes into any projection.
    """
    n = len(cols)
    if not 1 <= n * bits <= 62:
        raise ValueError("need 1 <= len(cols) * bits <= 62")
    key = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        clamped = F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.coalesce(col.cast("bigint"),
                               F.lit(0).cast("bigint")),
                    F.lit((1 << bits) - 1)))
        for b in range(bits):
            bit = F.shiftright(clamped, b).bitwiseAND(F.lit(1))
            key = key + (bit * F.lit(1 << (b * n + i))).cast("bigint")
    return key


def sorted_read(df: DataFrame, index_cols: Iterable[str]) -> DataFrame:
    """Global sorted read (O1, daskms/ordering.py:64-99) — a
    range-partitioned total sort; avoid at 100 TB unless the consumer
    truly needs global order (per-group order usually suffices)."""
    return df.orderBy(*index_cols)


def within_group_sort(df: DataFrame, group_cols: Iterable[str],
                      index_cols: Iterable[str]) -> DataFrame:
    """Within-group sort (O2, daskms/ordering.py:102-117): hash
    repartition on the group key then sort each partition — one shuffle,
    no global range exchange."""
    group_cols = list(group_cols)
    index_cols = list(index_cols)
    return (df.repartition(*[F.col(c) for c in group_cols])
              .sortWithinPartitions(*(group_cols + index_cols)))


def partition_ordinals(df: DataFrame, order_cols: Iterable[str],
                       pin: bool = False) -> DataFrame:
    """Range-partition ``df`` on ``order_cols``, sort each partition,
    and tag every row with its partition id ``__pid`` and its ordinal
    within the partition ``__loc`` — the shared spine of
    :func:`attach_rowid` and the zarr writer.  Equal key tuples land
    in one partition, so ``(__pid, __loc)`` is the key order up to
    ties among identical rows.

    Both values read off ``monotonically_increasing_id`` evaluated
    AFTER ``sortWithinPartitions`` — its documented encoding is
    ``(partition_id << 33) | record_number_within_partition`` — so
    they cost one narrow projection.  A ``row_number`` window keyed on
    the pid would force a second full-data hash exchange
    (RangePartitioning does not satisfy the window's
    ClusteredDistribution).

    ``pin=True`` materialises the partitioned frame eagerly: the
    RangePartitioner resamples its boundaries on every evaluation, so
    two evaluations of a deep plan need not agree on which rows share
    a partition, and anything derived from one evaluation (offsets,
    counts) must describe the rows of the other.  With a checkpoint
    directory configured (``sparkContext.setCheckpointDir`` — HDFS/S3
    on a cluster) the pin is ``checkpoint(eager=True)`` and survives
    executor loss; without one it is ``localCheckpoint`` — correct,
    but an executor loss after the pin fails the job, which must then
    be retried whole.
    """
    order_cols = list(order_cols)
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    parted = (df.repartitionByRange(n, *[F.col(c) for c in order_cols])
                .sortWithinPartitions(*order_cols)
                .withColumn("__mid", F.monotonically_increasing_id())
                .withColumn("__pid",
                            F.shiftright("__mid", 33).cast("int"))
                .withColumn("__loc",
                            F.col("__mid")
                            .bitwiseAND(F.lit((1 << 33) - 1))
                            .cast("long"))
                .drop("__mid"))
    if not pin:
        return parted
    if spark.sparkContext.getCheckpointDir() is not None:
        return parted.checkpoint(eager=True)
    return parted.localCheckpoint(eager=True)


def attach_rowid(df: DataFrame, order_cols: Iterable[str],
                 name: str = ROWID, stable: bool = False) -> DataFrame:
    """Deterministic ROWID from a natural ordering key (the reference's
    ROWID coordinate, daskms/reads.py:227).

    Distributed global row_number: :func:`partition_ordinals`, then
    add the cumulative row count of the partitions before each one.
    A naive ``row_number`` over an unpartitioned window serialises the
    whole table through one reducer; this form keeps every stage
    parallel: range-exchange -> sort -> project -> broadcast-join,
    ONE full-data shuffle, with the offsets branch aggregating
    #partitions counts map-side.  Ids are only tie-permuted among
    identical rows — the same guarantee a global window gives.
    (daskms/writes.py:363-425 appends do the equivalent chained
    row-count discovery.)

    ``stable=True`` pins the partitioned frame before branching
    (``partition_ordinals(pin=True)``).  Unpinned, the two branches
    agree only when Catalyst reuses the range exchange; on deep
    composed plans it may not, and resampled boundaries then yield
    duplicate ids.  Writers that need a structural guarantee pass
    ``stable=True``.
    """
    parted = partition_ordinals(df, order_cols, pin=stable)
    offs = (parted.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .withColumn("__off",
                        (F.sum("__cnt").over(Window.orderBy("__pid"))
                         - F.col("__cnt")).cast("long"))
            .select("__pid", "__off"))
    return (parted.join(F.broadcast(offs), "__pid")
            .withColumn(name, (F.col("__loc")
                               + F.col("__off")).cast("long"))
            .drop("__pid", "__off", "__loc"))


def group_rank(df: DataFrame, group_cols: Iterable[str],
               index_cols: Iterable[str], name: str = "rank") -> DataFrame:
    """Per-group ordinal (the reference's per-group lexsort positions,
    daskms/ordering.py:102-117) — fully parallel window."""
    w = Window.partitionBy(*group_cols).orderBy(*index_cols)
    return df.withColumn(name, F.row_number().over(w).cast("long"))


def top_k(df: DataFrame, group_cols: Iterable[str],
          order_by: Iterable[Column | str], k: int,
          rank_name: str = "rn") -> DataFrame:
    """Per-group top-k (no reference analogue — SURVEY §2.4 notes the
    gap).  Window row_number + filter: Spark pushes a per-partition
    top-k (TakeOrderedAndProject / WindowGroupLimit) so only k rows per
    group survive the shuffle."""
    w = Window.partitionBy(*group_cols).orderBy(*[
        F.col(c) if isinstance(c, str) else c for c in order_by])
    return (df.withColumn(rank_name, F.row_number().over(w).cast("long"))
              .where(F.col(rank_name) <= k))
