"""Python DataSource V2 registration for the zarr and CASA sources
(reference S3/S1).

``xds_from_zarr`` is the dataset-list API (one Dataset per
``{table}_{i}`` group, the reference's read surface —
daskms/experimental/zarr/__init__.py:380-528).  This module exposes the
SAME chunk source (``zarr._group_source``, a
:class:`~.chunks.ChunkSource`) through PySpark 4's
``pyspark.sql.datasource`` API, so a zarr group is a first-class
relational source:

    spark.dataSource.register(ZarrDataSource)
    df = (spark.read.format("zarr")
          .option("group", "MAIN_0")         # optional when unambiguous
          .option("columns", "TIME,DATA")    # optional projection
          .load("/path/to/store.zarr"))

Both sources share one reader, ``_ChunkReader``: the driver touches
only metadata (the zarr ``.zarray``/``.zattrs`` JSON, a one-row CASA
probe); ``partitions()`` splits the row-chunks into at most
``max_partitions`` contiguous runs; ``read()`` runs executor-side and
yields one Arrow record batch per chunk through the same chunk read
and Arrow conversion as the dataset API (:func:`~.chunks.read_batches`).
Explicit ``rowid_min`` / ``rowid_max`` options prune whole chunks at
plan time — the Python-source analogue of parquet row-group pruning
(reference row-run selection, daskms/ordering.py:18-57).  The
partition cap is an option, not ``defaultParallelism``, because
PySpark plans a DataSource read in a Python worker that has no
SparkContext.

Why the bounds are OPTIONS and not ``pushFilters``: measured on this
Spark (4.1), the Python-source scan object is cached per relation and
a ``pushFilters``-narrowed scan is REUSED by later queries on the same
DataFrame — ``df.where("ROWID >= 20").collect()`` followed by
``df.count()`` returned the filtered count (5 of 37) for the
unfiltered query.  Stateful filter pushdown in a Python source is
therefore a silent-wrong-results hazard under relation reuse; explicit
per-load options carry the same pruning with none of the shared
mutable state.

``CasaDataSource`` exposes a CASA table the same way
(``spark.read.format("casa")``), reusing ``probe_casa_table`` /
``read_casa_chunk`` and the ``table_factory`` seam: each task opens
its own handle (the reference's TableProxy-per-worker pattern,
daskms/table_proxy.py:295-361), so tests drive the full DataSource
path with a fake factory and production rides python-casacore.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)
from pyspark.sql.types import StructType

from .casa import (DEFAULT_CASA_ROW_CHUNK, _casa_source, _casacore_factory,
                   _require_casacore, probe_casa_table)
from .chunks import ChunkSource, read_batches
from .zarr import _group_dirs, _group_source

__all__ = ["ZarrDataSource", "CasaDataSource", "register_python_sources"]


def _resolve_group(path: str, group: str | None) -> str:
    groups = _group_dirs(path)
    if not groups:
        # a bare group directory (arrays directly under path)
        if os.path.exists(os.path.join(path, ".zgroup")):
            return path
        raise ValueError(f"no zarr groups under {path}")
    if group is None:
        if len(groups) > 1:
            raise ValueError(
                f"store has {len(groups)} groups {groups[:4]}...; pass "
                ".option('group', <name>) — the multi-dataset surface "
                "is xds_from_zarr")
        return os.path.join(path, groups[0])
    if group not in groups:
        raise KeyError(f"group {group!r} not in {groups}")
    return os.path.join(path, group)


@dataclass
class _ChunkPartition(InputPartition):
    """A contiguous run of row-chunks ``[first, last]`` (inclusive).
    Grouping chunks per task matters: one task per 10k-row chunk
    measured 3x slower than the dataset API's scan (then a
    ``mapInPandas``) on a 2M-row store, purely from per-partition
    protocol overhead; with runs the two matched."""

    first_chunk: int
    last_chunk: int


class _ChunkReader(DataSourceReader):
    """The one reader of both sources: a :class:`~.chunks.ChunkSource`
    read in contiguous chunk runs through the shared chunk read and
    Arrow conversion (:func:`~.chunks.read_batches`).  The inclusive
    ROWID bounds ``rowid_min`` / ``rowid_max`` keep only the
    intersecting chunks in ``partitions()`` and trim the boundary
    chunks in ``read()``, so rows outside them never leave the
    reader."""

    # Default task granularity: 2x driver cores.  Measured sweep on a
    # 2M-row store (200 chunks, 32 cores): one-partition-per-chunk
    # 1.3-1.6 s, 64 partitions 0.54 s, 32 partitions 0.42 s — the
    # per-partition Python-source protocol overhead dominates below
    # ~2 chunks/task.  Cluster deployments where the driver's core
    # count is not representative should set .option("max_partitions")
    # to ~2-3x total executor cores.
    max_partitions: int = max(16, 2 * (os.cpu_count() or 8))

    def __init__(self, source: ChunkSource, rowid_min=None,
                 rowid_max=None):
        self.source = source
        self.lo_bound = 0 if rowid_min is None else max(0, int(rowid_min))
        top = max(source.nrow - 1, 0)
        self.hi_bound = top if rowid_max is None else min(top,
                                                          int(rowid_max))

    def partitions(self):
        row_chunk = self.source.row_chunk
        first = max(0, self.lo_bound // row_chunk)
        last = min(max(1, self.source.n_chunks) - 1,
                   self.hi_bound // row_chunk)
        if last < first:
            return [_ChunkPartition(first, first)]
        span = last - first + 1
        n_parts = min(span, max(1, self.max_partitions))
        # contiguous runs, remainder spread over the leading runs
        base, extra = divmod(span, n_parts)
        out, c = [], first
        for i in range(n_parts):
            size = base + (1 if i < extra else 0)
            out.append(_ChunkPartition(c, c + size - 1))
            c += size
        return out

    def read(self, partition: _ChunkPartition):
        return read_batches(
            self.source, range(partition.first_chunk,
                               partition.last_chunk + 1),
            self.lo_bound, self.hi_bound)


class ZarrReader(_ChunkReader):
    """The chunk reader over one zarr group."""

    def __init__(self, path: str, group: str | None,
                 columns: list[str] | None,
                 rowid_min: int | None = None,
                 rowid_max: int | None = None):
        super().__init__(_group_source(_resolve_group(path, group),
                                       columns), rowid_min, rowid_max)


class CasaReader(_ChunkReader):
    """The chunk reader over a CASA table; each task opens its own
    table handle via the factory (the reference's
    TableProxy-per-worker pattern)."""

    def __init__(self, table_factory, path: str,
                 columns: list[str] | None, row_chunk: int,
                 rowid_min: int | None = None,
                 rowid_max: int | None = None):
        super().__init__(_casa_source(table_factory, path, columns,
                                      row_chunk=row_chunk),
                         rowid_min, rowid_max)


class _ChunkDataSource(DataSource):
    """Options both sources share: ``load(path)``, ``columns``
    (comma-separated projection), ``rowid_min`` / ``rowid_max``
    (inclusive chunk-pruning bounds) and ``max_partitions``."""

    def _path_columns(self):
        path = self.options.get("path")
        if not path:
            raise ValueError(
                f"load(path) is required for format({self.name()!r})")
        columns = self.options.get("columns")
        return path, ([c.strip() for c in columns.split(",") if c.strip()]
                      if columns else None)

    def _reader(self, reader_cls, *args) -> _ChunkReader:
        opts = self.options
        reader = reader_cls(*args, opts.get("rowid_min"),
                            opts.get("rowid_max"))
        if opts.get("max_partitions") is not None:
            reader.max_partitions = max(1, int(opts["max_partitions"]))
        return reader


class ZarrDataSource(_ChunkDataSource):
    """``spark.read.format("zarr")`` over the repo's zarr-v2 store
    layout.  Options: ``group`` (required when the store holds several
    ``{table}_{i}`` groups), ``columns`` (comma-separated projection),
    ``rowid_min`` / ``rowid_max`` (inclusive chunk-pruning bounds)."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def schema(self) -> StructType:
        path, cols = self._path_columns()
        return _group_source(_resolve_group(path, self.options.get("group")),
                             cols).schema

    def reader(self, schema: StructType) -> ZarrReader:
        path, cols = self._path_columns()
        return self._reader(ZarrReader, path, self.options.get("group"),
                            cols)


class CasaDataSource(_ChunkDataSource):
    """``spark.read.format("casa")`` over a CASA table.  Options:
    ``columns`` (comma-separated projection), ``row_chunk``,
    ``rowid_min`` / ``rowid_max`` (inclusive chunk-pruning bounds).
    The table factory defaults to python-casacore (import-gated);
    tests subclass and override ``table_factory`` with a fake — the
    same seam ``xds_from_casa`` uses."""

    table_factory = None  # subclass override point (picklable callable)

    @classmethod
    def name(cls) -> str:
        return "casa"

    def _factory(self):
        if type(self).table_factory is not None:
            return type(self).table_factory
        _require_casacore()
        return _casacore_factory

    def schema(self) -> StructType:
        path, cols = self._path_columns()
        return probe_casa_table(self._factory(), path, cols)[0]

    def reader(self, schema: StructType) -> CasaReader:
        path, cols = self._path_columns()
        row_chunk = int(self.options.get("row_chunk",
                                         DEFAULT_CASA_ROW_CHUNK))
        return self._reader(CasaReader, self._factory(), path, cols,
                            row_chunk)


def register_python_sources(spark) -> None:
    """Register every Python DataSource this package provides.  The
    CASA source registers unconditionally; it raises the convert-path
    guidance only when a read is attempted without python-casacore."""
    from ..streaming.replay import ParquetReplayDataSource

    spark.dataSource.register(ZarrDataSource)
    spark.dataSource.register(CasaDataSource)
    spark.dataSource.register(ParquetReplayDataSource)
