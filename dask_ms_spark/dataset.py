"""Dataset facade: the reference's list-of-Datasets model on DataFrames.

The reference returns one xarray-like ``Dataset`` per unique combination
of ``group_cols`` values (daskms/dask_ms.py:131-137,
daskms/reads.py:368-432); grouping values are stored as dataset attrs
keyed by ``DASKMS_PARTITION_KEY`` (daskms/reads.py:415-424).

Here a :class:`Dataset` is a thin wrapper over a lazy ``DataFrame`` plus
an ``attrs`` dict.  Nothing is materialised at construction: each
partition's DataFrame is the base scan with the group predicate applied,
so Catalyst partition-prunes when the underlying parquet is Hive
partitioned on the group columns, and plain filter-pushes otherwise.
At 100 TB scale this means opening N datasets costs one small metadata
aggregation (the distinct-groups query — the analogue of the
reference's eager TAQL GROUPBY ordering query,
daskms/ordering.py:165-192), never N full scans.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .types import PARTITION_KEY, ROWID

__all__ = ["Dataset", "partition_datasets", "regroup_stored", "concat"]

# Special group column: one dataset per row (daskms/dask_ms.py:165-177),
# used by the reference for non-uniform subtables.  With ArrayType
# columns rows are natively ragged, so this is rarely needed — it is
# kept for API parity.
GROUP_BY_ROW = "__row__"


@dataclass
class Dataset:
    """One partition of a table: a lazy DataFrame + partition attrs.

    ``attrs[PARTITION_KEY]`` lists ``(column, dtype)`` pairs identifying
    the partitioning, mirroring DASKMS_PARTITION_KEY
    (daskms/constants.py:1).
    """

    df: DataFrame
    attrs: dict[str, Any] = field(default_factory=dict)

    # -- xarray-ish conveniences -------------------------------------
    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def assign(self, **cols: Column) -> "Dataset":
        """Attach derived columns (reference: Dataset.assign,
        daskms/dataset.py:332-346)."""
        df = self.df
        for name, col in cols.items():
            df = df.withColumn(name, col)
        return Dataset(df, dict(self.attrs))

    def select(self, *names: str) -> "Dataset":
        return Dataset(self.df.select(*names), dict(self.attrs))

    def where(self, predicate: str | Column) -> "Dataset":
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return Dataset(self.df.where(pred), dict(self.attrs))

    def sort(self, *index_cols: str) -> "Dataset":
        return Dataset(self.df.orderBy(*index_cols), dict(self.attrs))

    def compute(self):
        """Materialise to a pandas DataFrame — the reference's
        ``dask.compute(dataset)`` step (daskms/reads.py:166-189), via
        Arrow transfer."""
        return self.df.toPandas()

    def __repr__(self) -> str:  # pragma: no cover
        keys = {k: v for k, v in self.attrs.items() if k != PARTITION_KEY}
        return f"Dataset(attrs={keys}, columns={self.df.columns})"


def partition_datasets(df: DataFrame,
                       group_cols: Iterable[str],
                       index_cols: Iterable[str] = (),
                       where: str | Column | None = None,
                       columns: Iterable[str] | None = None) -> list[Dataset]:
    """Split ``df`` into one Dataset per distinct ``group_cols`` tuple.

    Pipeline mirrors the reference's read factory
    (daskms/reads.py:368-432):

    1. apply the row filter (predicate pushdown, P2 —
       daskms/ordering.py:68-71);
    2. run ONE small distinct-groups aggregation (the TAQL GROUPBY
       analogue, daskms/ordering.py:165-192) — this is the only eager
       step and touches only the group columns (column-pruned scan).
       It costs two Spark jobs: the distinct's shuffle, then one final
       task that sorts the distinct tuples, which are few by
       construction (a global ``orderBy`` would add a range-sampling
       job and a second shuffle: four jobs).  The order is
       ``orderBy``'s: ascending, NULLs first, NaN last;
    3. per group, return a lazily-filtered view sorted by
       ``index_cols`` (within-group sort, O2 —
       daskms/ordering.py:102-117).
    """
    group_cols = list(group_cols)
    index_cols = list(index_cols)

    if where is not None:
        df = df.where(F.expr(where) if isinstance(where, str) else where)

    if not group_cols:
        out = df.orderBy(*index_cols) if index_cols else df
        if columns is not None:
            out = out.select(*columns)
        return [Dataset(out, {})]

    if group_cols == [GROUP_BY_ROW]:
        # One dataset per row — only sane for tiny subtables; collect()
        # here matches the reference's per-row grouping of small
        # non-uniform subtables (daskms/reads.py:492-517).  The
        # requested ordering/projection apply BEFORE collection, and
        # the stamped ROWIDs are DENSE 0..N-1 in that order —
        # monotonically_increasing_id's partition-encoded values would
        # not key against any dense-ROWID table (review r9).
        ordered = df.orderBy(*index_cols) if index_cols else df
        if columns is not None:
            keep = [c for c in columns if c != ROWID]
            ordered = ordered.select(*keep)
        rows = ordered.collect()
        sess = df.sparkSession
        schema = ordered.withColumn(
            ROWID, F.lit(0).cast("long")).schema  # one shared instance
        return [Dataset(sess.createDataFrame([tuple(r) + (i,)], schema),
                        {ROWID: i}) for i, r in enumerate(rows)]

    # Eager metadata-only query: distinct group tuples (small), sorted
    # in one task.
    groups = [tuple(r) for r in
              df.select(*group_cols).distinct().coalesce(1)
              .sortWithinPartitions(*group_cols).collect()]

    partition_key = tuple((c, df.schema[c].dataType.simpleString())
                          for c in group_cols)

    datasets = []
    for values in groups:
        pred = None
        for c, v in zip(group_cols, values):
            clause = F.col(c).eqNullSafe(F.lit(v))
            pred = clause if pred is None else (pred & clause)
        datasets.append(_group_view(df.where(pred), group_cols, values,
                                    index_cols, columns, partition_key))
    return datasets


def _group_view(part: DataFrame, group_cols: list[str], values: tuple,
                index_cols: list[str], columns: Iterable[str] | None,
                partition_key: tuple) -> Dataset:
    """One group's Dataset: sorted by ``index_cols``, projected to
    ``columns`` (group columns live in the attrs)."""
    if index_cols:
        part = part.orderBy(*index_cols)
    if columns is not None:
        keep = [c for c in columns if c not in group_cols]
        part = part.select(*keep) if keep else part
    attrs = dict(zip(group_cols, values))
    attrs[PARTITION_KEY] = partition_key
    return Dataset(part, attrs)


# partition-key types whose values survive a JSON attrs round trip
# exactly (a stored timestamp value comes back as its string)
_EXACT_KEY_TYPES = {"boolean", "tinyint", "smallint", "int", "bigint",
                    "float", "double", "string"}


def regroup_stored(datasets: list[Dataset], group_cols: Iterable[str],
                   index_cols: Iterable[str] = (),
                   where: str | Column | None = None,
                   columns: Iterable[str] | None = None
                   ) -> list[Dataset] | None:
    """:func:`partition_datasets` over datasets that are ALREADY
    partitioned, from their attrs alone: one Dataset per distinct
    ``group_cols`` value tuple, the union of the datasets sharing it,
    ordered by value as :func:`partition_datasets` orders them.
    Returns ``None`` unless every dataset's ``PARTITION_KEY`` covers
    ``group_cols`` (same types, JSON-exact values).

    Without ``where`` no job runs; each Dataset's plan touches only
    its own members.  With ``where``, one job over the filtered
    members drops the groups it empties, as the distinct-groups query
    of :func:`partition_datasets` would.
    """
    group_cols = list(group_cols)
    keys = {tuple(map(tuple, ds.attrs.get(PARTITION_KEY, ())))
            for ds in datasets}
    if not group_cols or len(keys) != 1:
        return None
    key = dict(keys.pop())
    if any(key.get(c) not in _EXACT_KEY_TYPES for c in group_cols):
        return None
    if any(c not in ds.attrs for ds in datasets for c in group_cols):
        return None
    members: dict[tuple, list[Dataset]] = {}
    for ds in datasets:
        vals = tuple(ds.attrs[c] for c in group_cols)
        members.setdefault(vals, []).append(ds)
    order = sorted(members, key=lambda t: [(v is not None, v) for v in t])
    parts = [concat(members[v]) for v in order]
    if where is not None:
        pred = F.expr(where) if isinstance(where, str) else where
        parts = [p.where(pred) for p in parts]
        live = parts[0].select(F.lit(0).alias("__g"))
        for i, p in enumerate(parts[1:], 1):
            live = live.unionByName(p.select(F.lit(i).alias("__g")))
        keep = {r[0] for r in live.distinct().collect()}
        order = [v for i, v in enumerate(order) if i in keep]
        parts = [p for i, p in enumerate(parts) if i in keep]
    partition_key = tuple((c, key[c]) for c in group_cols)
    return [_group_view(p, group_cols, v, list(index_cols), columns,
                        partition_key) for v, p in zip(order, parts)]


def concat(datasets: list[Dataset]) -> DataFrame:
    """Concatenate datasets back into one DataFrame, re-materialising
    group columns as constants (the reference's group re-expansion,
    daskms/apps/convert.py:201-222; concatenation semantics
    daskms/dask_ms.py:36-39)."""
    if not datasets:
        raise ValueError("no datasets to concat")
    frames = []
    for ds in datasets:
        df = ds.df
        for key, value in ds.attrs.items():
            if key == PARTITION_KEY:
                continue
            if key not in df.columns:
                df = df.withColumn(key, F.lit(value))
        frames.append(df)
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
