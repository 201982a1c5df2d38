"""One chunk reader for every row-chunked source (zarr, CASA, katdal).

The reference reads every on-disk format the same way: a row-chunk
getter runs on a worker that holds its own table handle
(daskms/reads.py:40-189; the zarr getter,
daskms/experimental/zarr/__init__.py:367-372).  Here a format is a
:class:`ChunkSource` — its Spark schema, its row count and row chunk,
``open()`` returning a task's handle, and ``read_chunk(handle, ci, lo,
hi)`` returning the ``{column: numpy block}`` of rows ``[lo, hi)`` of
chunk ``ci`` — and two surfaces read it through :func:`read_batches`:

* :func:`scan_chunks`, the dataset API (``xds_from_zarr``,
  ``xds_from_casa``, ``xds_from_katdal``): ONE ``mapInArrow`` over
  ``spark.range(n_chunks)`` in ``min(n_chunks, defaultParallelism)``
  partitions (no empty Python task), each task opening its handle
  once;
* the Python DataSource reader of ``pyds.py``
  (``spark.read.format("zarr"|"casa")``), whose ROWID bounds trim the
  boundary chunks.

Each block becomes one Arrow column over its own buffer
(:func:`_arrow_column`); no per-row Python list is built.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["ChunkSource", "cell_slab", "read_batches", "scan_chunks"]


@dataclass
class ChunkSource:
    """A row-chunked source.  ``nrow`` and ``row_chunk`` count the
    units ``read_chunk`` is addressed in: table rows for zarr and
    CASA, dumps for katdal (whose blocks hold one row per baseline
    and dump)."""

    schema: StructType
    nrow: int
    row_chunk: int
    open: Callable[[], object]
    read_chunk: Callable[[object, int, int, int], dict]

    @property
    def n_chunks(self) -> int:
        return -(-self.nrow // self.row_chunk)


def cell_slab(cell_shape, sl: tuple) -> list[tuple[int, int, int]]:
    """Normalise python slices (or ints) over the cell (non-row) dims
    into one ``(start, stop, step)`` per axis, missing trailing axes
    taken whole; raises on a negative step or an empty axis."""
    if len(sl) > len(cell_shape):
        raise ValueError(
            f"slice rank {len(sl)} exceeds cell rank {len(cell_shape)}")
    out = []
    for axis, dim in enumerate(cell_shape):
        s = sl[axis] if axis < len(sl) else slice(None)
        if not isinstance(s, slice):           # plain int -> width-1
            i = int(s)
            if i < 0:                          # python index semantics
                i += dim
            s = slice(i, i + 1)
        start, stop, step = s.indices(dim)
        if step < 1:
            raise ValueError("negative slice steps are not supported")
        if stop <= start:
            raise ValueError(f"empty slice on axis {axis}: {s}")
        out.append((start, stop, step))
    return out


def _arrow_column(arr: "np.ndarray", typ) -> "pa.Array":
    """One Arrow column of type ``typ`` from a chunk's numpy block: a
    1-d block is the column itself; an N-d ``(rows, *cell)`` block
    becomes a list column over its one flat buffer, a complex block
    the re/im-interleaved float view of that buffer."""
    import pyarrow as pa

    if arr.dtype.kind == "M":       # epoch micros, whatever the unit
        arr = arr.astype("datetime64[us]").view(np.int64)
    elif arr.dtype.kind == "S":     # fixed-width bytes: no NUL padding
        arr = arr.astype(object)
    if arr.dtype.kind == "c" or arr.ndim > 2:
        # explicit flat width: reshape(n, -1) cannot infer it when the
        # block is empty
        arr = np.ascontiguousarray(arr).reshape(
            len(arr), int(np.prod(arr.shape[1:])))
        if arr.dtype.kind == "c":
            arr = arr.view(arr.real.dtype)
    if arr.ndim == 1:
        return pa.array(arr, type=typ)
    n, w = arr.shape
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * np.int32(w))
    return pa.ListArray.from_arrays(
        offsets, pa.array(arr.reshape(-1), type=typ.value_type), type=typ)


def read_batches(src: ChunkSource, chunk_ids: Iterable[int],
                 first_row: int = 0, last_row: int | None = None):
    """Yield one Arrow record batch per chunk of ``chunk_ids``, read
    through one handle.  Rows outside ``[first_row, last_row]`` are
    sliced off each block; that trim assumes block row ``i`` is unit
    ``lo + i``, as for zarr and CASA."""
    import pyarrow as pa

    schema = to_arrow_schema(src.schema)
    stop = src.nrow if last_row is None else min(src.nrow, last_row + 1)
    handle = src.open()
    try:
        for ci in chunk_ids:
            lo = ci * src.row_chunk
            hi = min(src.nrow, lo + src.row_chunk)
            a, b = max(lo, first_row), min(hi, stop)
            if b <= a:
                continue
            block = src.read_chunk(handle, ci, lo, hi)
            if (a, b) != (lo, hi):
                block = {c: v[a - lo:b - lo] for c, v in block.items()}
            yield pa.RecordBatch.from_arrays(
                [_arrow_column(block[f.name], f.type) for f in schema],
                schema=schema)
    finally:
        if hasattr(handle, "close"):
            handle.close()


def scan_chunks(spark: SparkSession, src: ChunkSource) -> DataFrame:
    """The lazy frame of every chunk of ``src``: one ``mapInArrow``
    over ``spark.range(n_chunks)`` in ``min(n_chunks,
    defaultParallelism)`` partitions.  No job runs here."""
    if src.nrow == 0:
        return spark.createDataFrame([], src.schema)

    def read_chunks(batches):
        return read_batches(src, (ci for b in batches
                                  for ci in b.column(0).to_pylist()))

    n = src.n_chunks
    return spark.range(0, n, 1, min(n, spark.sparkContext.defaultParallelism)
                       ).mapInArrow(read_chunks, src.schema)
