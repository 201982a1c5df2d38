"""CASA Measurement Set source/sink (reference S1/S2/S7).

The reference reads CASA tables through python-casacore with per-column
``getcol`` kernels (daskms/reads.py:40-189) serialised on a per-table
single I/O thread (daskms/table_executor.py:39-65).  Here the same
shape is Spark-native:

* the driver opens the table once for **metadata only** (row count,
  column names, a one-row dtype probe — the analogue of the
  reference's eager descriptor read);
* the table is a :class:`~.chunks.ChunkSource` read by the shared
  chunk kernel (one ``mapInArrow`` over ``spark.range(n_chunks)``,
  :func:`~.chunks.scan_chunks`): each task holds its own table handle
  (the reference's TableProxy-per-worker pattern,
  daskms/table_proxy.py) and calls ``getcol(col, startrow, nrow)`` —
  so the scan parallelises across row chunks without ever
  materialising the table on the driver;
* complex columns arrive as interleaved re/im float arrays and
  N-d cells as flat arrays, per ``types.py`` conventions.

python-casacore is not available in this environment, so the default
table factory is import-gated; the *table seam* (any object with
``colnames() / nrows() / getcol(...)`` — python-casacore's own public
surface) keeps the distributed plumbing real and testable with a fake.
Writes honour casacore's single-writer storage constraint (SURVEY
§2.11 I1): ``xds_to_casa`` / ``create_casa_table`` stream
ROWID-ordered rows through the driver in BOUNDED batches
(``toLocalIterator`` over a range-partitioned frame — the reference's
chunked writer-thread stream, daskms/writes.py:33-134) into
sequential ``putcol`` calls — the constraint is the storage format's,
not the engine's, and driver memory stays O(batch); the blessed scale
path remains convert-to-parquet (daskms/apps/convert.py:139-280).
"""

from __future__ import annotations

import math
from typing import Callable, Iterable

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql.types import (ArrayType, BooleanType, DataType, DoubleType,
                               FloatType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..dataset import Dataset, partition_datasets
from ..types import (ROWID, infer_ms_table, ms_column_dims,
                     tensor_field)
from .chunks import ChunkSource, cell_slab, scan_chunks

try:  # pragma: no cover - casacore absent in this environment
    import casacore.tables as _ct  # type: ignore

    HAVE_CASACORE = True
except Exception:  # pragma: no cover
    _ct = None
    HAVE_CASACORE = False

__all__ = ["HAVE_CASACORE", "xds_from_casa", "xds_to_casa", "xds_from_ms",
           "casa_table_descriptor", "create_casa_table",
           "probe_casa_table", "read_casa_chunk",
           "MS_GROUP_COLS", "MS_INDEX_COLS", "DEFAULT_CASA_ROW_CHUNK",
           "DEFAULT_CASA_WRITE_BATCH"]

# Reference defaults for Measurement Sets (daskms/dask_ms.py:12-13).
MS_GROUP_COLS = ("FIELD_ID", "DATA_DESC_ID")
MS_INDEX_COLS = ("TIME", "ANTENNA1", "ANTENNA2")

DEFAULT_CASA_ROW_CHUNK = 10_000  # daskms/reads.py:33 default chunking


def _require_casacore():
    if not HAVE_CASACORE:
        raise NotImplementedError(
            "python-casacore is not installed. Convert the CASA table to "
            "parquet first (dask_ms_spark.sources.convert.convert_table) "
            "— the reference's own scale path (daskms/apps/convert.py) — "
            "then read it with xds_from_parquet."
        )


def _casacore_factory(path: str):  # pragma: no cover - needs casacore
    return _ct.table(path, ack=False, readonly=True)


def _np_cell_to_spark(dtype: np.dtype, ndim: int) -> tuple[DataType, str]:
    """numpy column dtype -> (Spark type, transfer kind).

    kinds: ``scalar`` (1-d column), ``flat`` (N-d cell flattened),
    ``complex`` (re/im interleaved, doubling the flat width).
    """
    if np.issubdtype(dtype, np.complexfloating):
        elem = FloatType() if dtype.itemsize == 8 else DoubleType()
        return ArrayType(elem), "complex"
    if np.issubdtype(dtype, np.bool_):
        spark = BooleanType()
    elif np.issubdtype(dtype, np.integer):
        spark = IntegerType() if dtype.itemsize <= 4 else LongType()
    elif np.issubdtype(dtype, np.floating):
        spark = FloatType() if dtype.itemsize <= 4 else DoubleType()
    elif dtype.kind in ("U", "S", "O"):
        spark = StringType()
    else:
        raise NotImplementedError(f"unsupported CASA column dtype {dtype}")
    if ndim > 1:
        return ArrayType(spark), "flat"
    return spark, "scalar"


def probe_casa_table(table_factory: Callable, path: str,
                     columns: Iterable[str] | None = None,
                     slices: dict | None = None):
    """Driver-side metadata probe: open once, read column names, row
    count and a ONE-row dtype exemplar per column (the reference's
    eager descriptor + exemplar-row read, daskms/columns.py:103-262).
    Returns ``(schema, specs, slabs, nrow)`` — everything both the
    dataset API and the Python DataSource need to plan a scan."""
    slices = dict(slices or {})
    t = table_factory(path)
    try:
        names = list(columns) if columns else list(t.colnames())
        missing = set(names) - set(t.colnames())
        if missing:
            raise KeyError(f"columns not in table: {sorted(missing)}")
        bad_slices = set(slices) - set(names)
        if bad_slices:
            raise KeyError(
                f"sliced columns not in read set: {sorted(bad_slices)}")
        nrow = int(t.nrows())
        ms_table = infer_ms_table(path)
        specs: dict[str, str] = {}
        slabs: dict[str, tuple[list[int], list[int], list[int]]] = {}
        fields = [StructField(ROWID, LongType(), False)]
        for c in names:
            probe = np.asarray(t.getcol(c, 0, min(1, nrow)))
            spark_t, kind = _np_cell_to_spark(probe.dtype, probe.ndim)
            if c in slices:
                if probe.ndim < 2:
                    raise ValueError(
                        f"column {c} is scalar; slices apply to "
                        "tensor columns only")
                blc, stop, inc = zip(*cell_slab(probe.shape[1:],
                                                tuple(slices[c])))
                # getcolslice (blc, trc, inc): trc is inclusive
                slabs[c] = (list(blc), [s - 1 for s in stop], list(inc))
            specs[c] = kind
            if probe.ndim >= 2 and isinstance(spark_t, ArrayType):
                # tensor column: attach MS dim names (or {col}-{i}
                # auto-names) as field metadata — the reference's
                # table_schemas.py dims, now riding the StructField
                fields.append(tensor_field(
                    c, spark_t.elementType,
                    ms_column_dims(ms_table, c, probe.ndim - 1)))
            else:
                fields.append(StructField(c, spark_t))
    finally:
        if hasattr(t, "close"):
            t.close()
    return StructType(fields), specs, slabs, nrow


def read_casa_chunk(table, specs: dict, slabs: dict,
                    lo: int, hi: int) -> dict:
    """Executor-side chunk kernel: the ``[lo, hi)`` rows of every
    planned column as numpy blocks (``getcol``, or ``getcolslice`` for
    a sliced column), plus ``ROWID``.  Blocks keep their cell shape
    and complex dtype; the Arrow conversion of
    :func:`~.chunks.read_batches` flattens cells and interleaves
    re/im per ``types.py``.  Shared by ``xds_from_casa`` and the
    Python DataSource."""
    out = {ROWID: np.arange(lo, hi, dtype=np.int64)}
    for c in specs:
        if c in slabs:
            blc, trc, inc = slabs[c]
            out[c] = np.asarray(table.getcolslice(
                c, blc, trc, inc, lo, hi - lo))
        else:
            out[c] = np.asarray(table.getcol(c, lo, hi - lo))
    return out


def _casa_source(table_factory: Callable, path: str,
                columns: Iterable[str] | None = None,
                slices: dict | None = None,
                row_chunk: int = DEFAULT_CASA_ROW_CHUNK) -> ChunkSource:
    """The :class:`~.chunks.ChunkSource` of a CASA table: probed once
    on the driver, each task opening its own handle."""
    schema, specs, slabs, nrow = probe_casa_table(
        table_factory, path, columns, slices)
    return ChunkSource(
        schema, nrow, row_chunk, lambda: table_factory(path),
        lambda t, ci, lo, hi: read_casa_chunk(t, specs, slabs, lo, hi))


def xds_from_casa(spark: SparkSession, path: str,
                  columns: Iterable[str] | None = None,
                  group_cols: Iterable[str] = (),
                  index_cols: Iterable[str] = (),
                  where: str | None = None,
                  table_factory: Callable | None = None,
                  row_chunk: int = DEFAULT_CASA_ROW_CHUNK,
                  slices: dict | None = None,
                  taql_where: str | None = None,
                  taql_mscal: dict | None = None,
                  chunks: dict | None = None) -> list[Dataset]:
    """Read a CASA table into Datasets via distributed chunked getcol
    (reference ``xds_from_table``, daskms/dask_ms.py:128-294 over the
    per-chunk getter kernels of daskms/reads.py:40-189).

    ``table_factory(path)`` must return a python-casacore-shaped
    table: ``colnames()``, ``nrows()``, ``getcol(col, startrow,
    nrow)``, ``close()``.  Defaults to ``casacore.tables.table``
    (import-gated); tests inject a fake.

    ``slices`` maps a tensor column name to a tuple of python slices
    over its cell (non-row) dimensions; sliced columns are read with
    ``getcolslice(col, blc, trc, inc, startrow, nrow)`` so only the
    requested hyperslab's bytes leave storage (the reference's
    source-level slab read, daskms/reads.py:58-75) — for a wide DATA
    column read at one channel, an I/O reduction of the full
    channel-count factor, not a post-read projection.
    """
    if chunks:
        # reference-compat: xds_from_table(..., chunks={"row": N})
        # (daskms/dask_ms.py:128-294).  Only the row axis maps to a
        # scan split here; cell-axis chunking is parquet/zarr layout
        # territory (convert with cell_chunks=), so unknown keys
        # raise rather than silently ignoring a user's intent.
        extra = set(chunks) - {"row"}
        if extra:
            raise ValueError(
                f"chunks keys {sorted(extra)} unsupported: only 'row' "
                "maps to a Spark scan split; re-chunk cell axes at "
                "write time (cell_chunks=/getcolslice slices=)")
        row_chunk = int(chunks["row"])
    if table_factory is None:
        _require_casacore()
        table_factory = _casacore_factory
    src = _casa_source(table_factory, path, columns, slices, row_chunk)
    if taql_where:
        # reference call sites pass TAQL (daskms/dask_ms.py:236-241);
        # here the same filter becomes a Catalyst predicate over the
        # distributed scan — semantics preserved, engine swapped.
        # The probed schema is bound so the casacore array aggregates
        # (MEAN(SIGMA) < 2 and friends) translate without the caller
        # spelling schema= by hand (review r9: the feature landed one
        # format below its motivating idiom).
        from ..taql import taql_where_to_sql

        translated = taql_where_to_sql(taql_where, schema=src.schema,
                                       mscal=taql_mscal)
        where = f"({where}) AND ({translated})" if where else translated
    return partition_datasets(scan_chunks(spark, src), group_cols,
                              index_cols, where, None)


def xds_from_ms(spark: SparkSession, path: str, **kw) -> list[Dataset]:
    """MS defaults: group by FIELD_ID/DATA_DESC_ID, index by
    TIME/ANTENNA1/ANTENNA2 (reference daskms/dask_ms.py:297-338)."""
    kw.setdefault("group_cols", MS_GROUP_COLS)
    kw.setdefault("index_cols", MS_INDEX_COLS)
    return xds_from_casa(spark, path, **kw)


_SPARK_TO_CASA_VT = {
    "boolean": "boolean",
    "short": "int",
    "int": "int",
    "integer": "int",
    "bigint": "int",       # casacore has no 64-bit column int
    "long": "int",
    "float": "float",
    "double": "double",
    "string": "string",
}


# Default bounded write batch: ~64k rows per driver-resident block.
# At a typical MS row width (a few KB of DATA/FLAG cells) this is tens
# of MB resident, against GBs..TBs for a whole-table toPandas.
DEFAULT_CASA_WRITE_BATCH = 65_536


def _iter_rowid_batches(df, names: list, batch_rows: int,
                        nrow: int | None = None):
    """Yield pandas batches of at most ``batch_rows`` rows, globally
    ordered by ROWID, holding O(batch_rows) rows in driver memory.

    The frame is range-partitioned on ROWID into ``ceil(nrow /
    batch_rows)`` partitions and sorted within each;
    ``toLocalIterator(prefetchPartitions=False)`` then materialises
    ONE partition at a time on the driver — the reference's bounded
    chunk stream through its single writer thread
    (daskms/writes.py:33-134), re-expressed as Spark's sequential
    partition fetch.  casacore is single-WRITER (SURVEY §2.11 I1), so
    serialised writes are inherent; resident ones are not.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    if batch_rows < 1:
        raise ValueError(f"batch_rows must be >= 1, got {batch_rows}")
    if nrow is None:
        nrow = df.count()
    if nrow == 0:
        return
    n_parts = max(1, math.ceil(nrow / batch_rows))
    ordered = (df.select(ROWID, *names)
               .repartitionByRange(n_parts, F.col(ROWID))
               .sortWithinPartitions(ROWID))
    cols = [ROWID, *names]
    buf = []
    for row in ordered.toLocalIterator(prefetchPartitions=False):
        buf.append(row)
        if len(buf) >= batch_rows:
            yield pd.DataFrame(buf, columns=cols)
            buf = []
    if buf:
        yield pd.DataFrame(buf, columns=cols)


def _column_block(cell, is_complex: bool = False,
                  shape: tuple | None = None) -> np.ndarray:
    """Reassemble one pandas column slice into the ndarray ``putcol``
    expects: object cells stack to an array, interleaved re/im floats
    recombine to complex, fixed-shape tensors reshape to their cell
    shape."""
    n = len(cell)
    if cell.dtype == object:
        vals = np.asarray([np.asarray(v) for v in cell])
    else:
        vals = cell.to_numpy()
    if is_complex:
        vals = vals[:, 0::2] + 1j * vals[:, 1::2]
        if shape:
            vals = vals.reshape((n, *shape))
    elif shape and vals.ndim >= 2:
        vals = vals.reshape((n, *shape))
    return vals


def casa_table_descriptor(schema: StructType,
                          complex_cols: Iterable[str] = ()) -> dict:
    """Build a python-casacore ``tabledesc`` dict from a Spark schema
    (reference descriptor builders, daskms/descriptors/builder.py:63-122
    and daskms/descriptors/ms.py:21-309 — here reduced to the minimal
    MAIN-table form: scalar columns on StandardStMan, fixed-shape
    tensors on TiledColumnStMan, variable-shape tensors ndim=-1).

    Conventions (types.py): complex columns are interleaved re/im
    float arrays whose ``SHAPE_KEY`` metadata records the TRUE complex
    cell shape; plain tensor columns record their cell shape the same
    way.  ``ROWID`` is engine metadata and never becomes a column.
    """
    complex_cols = set(complex_cols)
    from ..types import field_shape

    desc: dict = {}
    for f in schema.fields:
        if f.name == ROWID:
            continue
        col: dict = {"comment": f"{f.name} column",
                     "dataManagerGroup": "StandardStMan",
                     "dataManagerType": "StandardStMan",
                     "keywords": {}, "maxlen": 0, "option": 0}
        if isinstance(f.dataType, ArrayType):
            elem = f.dataType.elementType.simpleString()
            if f.name in complex_cols:
                if elem not in ("float", "double"):
                    raise ValueError(
                        f"complex column {f.name} must be an "
                        "interleaved float/double array")
                col["valueType"] = ("complex" if elem == "float"
                                    else "dcomplex")
            else:
                try:
                    col["valueType"] = _SPARK_TO_CASA_VT[elem]
                except KeyError:
                    raise ValueError(
                        f"column {f.name}: unsupported array element "
                        f"type {elem}") from None
            shape = field_shape(f)
            if shape:
                # FixedShape|Direct -> tiled storage manager, the MS
                # layout for DATA-like columns
                col["ndim"] = len(shape)
                col["shape"] = list(shape)
                col["option"] = 5
                col["dataManagerType"] = "TiledColumnStMan"
                col["dataManagerGroup"] = f"{f.name}Tiled"
            else:
                col["ndim"] = -1      # variable-shape tensor
        else:
            try:
                col["valueType"] = _SPARK_TO_CASA_VT[
                    f.dataType.simpleString()]
            except KeyError:
                raise ValueError(
                    f"column {f.name}: unsupported type "
                    f"{f.dataType.simpleString()}") from None
        desc[f.name] = col
    return desc


def create_casa_table(datasets, path: str,
                      complex_cols: Iterable[str] = (),
                      create_factory: Callable | None = None,
                      order_cols: Iterable[str] = (),
                      batch_rows: int = DEFAULT_CASA_WRITE_BATCH,
                      descriptor: dict | str | None = None) -> int:
    """Create a CASA table from datasets and fill it (reference
    ``xds_to_table`` create mode, daskms/writes.py:258-308).

    ``create_factory(path, tabledesc, nrow)`` must return a writable
    python-casacore-shaped table; defaults to
    ``casacore.tables.table(path, tabledesc, nrow=nrow)``
    (import-gated).  Rows are laid out by ``ROWID`` when present,
    else by ``order_cols`` (:func:`~..operators.ordering.attach_rowid`
    — a distributed rank, no driver sort), else by an arbitrary but
    stable coalesce order.  Complex columns (interleaved re/im, true
    cell shape in ``SHAPE_KEY``) are re-assembled to complex ndarrays
    before ``putcol``; fixed-shape tensors are reshaped to their cell
    shape.  Filling STREAMS through the driver in bounded batches of
    ``batch_rows`` (ROWID-range-partitioned ``toLocalIterator``, one
    partition resident at a time) — casacore is single-writer (SURVEY
    §2.11 I1) so writes serialise, but driver memory stays O(batch),
    never O(table); the scale path remains convert-to-parquet.
    Returns rows written.

    ``descriptor`` accepts a ready tabledesc dict, a registered
    builder spec (``"ms"``, ``"ms('ANTENNA')"`` — see
    :mod:`.descriptors`, reference
    daskms/descriptors/builder_factory.py), or ``None`` for the
    minimal schema-derived form.  Group columns carried as dataset
    ATTRS (the grouped-read convention) are re-materialised as
    literal columns before writing — the reference's group
    re-expansion on CASA output (daskms/apps/convert.py:201-222).
    """
    from ..types import PARTITION_KEY, field_shape
    from .descriptors import descriptor_complex_cols, resolve_descriptor

    if isinstance(datasets, Dataset):
        datasets = [datasets]
    if not isinstance(datasets, list):
        datasets = [Dataset(datasets, {})]
    if not datasets:
        raise ValueError("no datasets to write")

    def expand(ds: Dataset):
        # reintroduce grouping columns dropped into attrs
        from pyspark.sql import functions as F

        df = ds.df
        for col, _dt in ds.attrs.get(PARTITION_KEY, ()):
            if col not in df.columns and col in ds.attrs:
                df = df.withColumn(col, F.lit(ds.attrs[col]))
        return df

    frames = [expand(ds) for ds in datasets]
    schema = frames[0].schema
    for fr in frames[1:]:
        if [f.name for f in fr.schema.fields] != \
                [f.name for f in schema.fields]:
            raise ValueError("datasets disagree on columns")
        # TYPES must agree too: unionByName would silently coerce
        # (int -> double) past the tabledesc built from frames[0],
        # and casacore putcol would truncate the widened values
        # (review r8)
        mism = [(f.name, f.dataType.simpleString(),
                 g.dataType.simpleString())
                for f, g in zip(schema.fields, fr.schema.fields)
                if f.dataType != g.dataType]
        if mism:
            raise ValueError(
                f"datasets disagree on column types {mism} — the "
                "descriptor is built from the first dataset; cast "
                "the frames to one schema first")
    desc = resolve_descriptor(descriptor, schema, complex_cols)
    complex_cols = descriptor_complex_cols(desc, schema, complex_cols)
    shapes = {f.name: field_shape(f) for f in schema.fields}

    if create_factory is None:
        _require_casacore()

        def create_factory(p, d, n):  # pragma: no cover - casacore
            return _ct.table(p, d, nrow=n, ack=False, readonly=False)

    from functools import reduce

    df = reduce(lambda a, b: a.unionByName(b), frames)
    if ROWID not in df.columns:
        order_cols = list(order_cols)
        if order_cols:
            from ..operators.ordering import attach_rowid

            df = attach_rowid(df, order_cols, stable=True)
        else:
            from pyspark.sql import functions as F

            df = df.coalesce(1).withColumn(
                ROWID, F.monotonically_increasing_id().cast("long"))

    nrow = df.count()
    t = create_factory(path, desc, nrow)
    try:
        names = [f.name for f in schema.fields if f.name != ROWID]
        # dense fill in ROWID ORDER: the created table has exactly
        # nrow rows, so ROWID defines placement order, not absolute
        # offsets — a filtered (gappy-ROWID) frame still fills rows
        # 0..nrow-1 instead of writing out of table bounds.  Batches
        # arrive ROWID-sorted, so the dense cursor just advances.
        start = 0
        for pdf in _iter_rowid_batches(df, names, batch_rows,
                                       nrow=nrow):
            n = len(pdf)
            for c in names:
                vals = _column_block(pdf[c], c in complex_cols,
                                     shapes.get(c))
                t.putcol(c, vals, start, n)
            start += n
    finally:
        if hasattr(t, "close"):
            t.close()
    return nrow


def xds_to_casa(datasets, path: str,
                columns: Iterable[str] | None = None,
                table_factory: Callable | None = None,
                batch_rows: int = DEFAULT_CASA_WRITE_BATCH) -> int:
    """Update columns of an existing CASA table from datasets
    (reference ``xds_to_table`` update mode, daskms/writes.py:742-782).

    casacore is single-writer (SURVEY §2.11 I1), so rows stream
    through the driver into sequential ``putcol(col, value, startrow,
    nrow)`` calls, ordered by ROWID, in bounded batches of
    ``batch_rows`` (driver memory O(batch), never O(table)); within a
    batch, scattered ROWIDs split into contiguous runs so every
    putcol row range is valid.  The storage format serialises writes
    no matter the engine; creation of new tables goes through
    :func:`create_casa_table` or the convert path.  Returns rows
    written.
    """
    if table_factory is None:
        _require_casacore()

        def table_factory(p):  # pragma: no cover - needs casacore
            return _ct.table(p, ack=False, readonly=False)

    if isinstance(datasets, Dataset):
        datasets = [datasets]
    if not isinstance(datasets, list):
        datasets = [Dataset(datasets, {})]

    t = table_factory(path)
    written = 0

    def col_info(c: str) -> tuple[bool, tuple | None]:
        """Complexity/cell-shape of the TARGET column from its own
        descriptor — the update path must re-assemble interleaved
        re/im floats and reshape flat tensors exactly like the create
        path, or a read-modify-write of DATA/FLAG putcols flat float
        blocks into complex/N-d columns (review r8).  Factories
        without getcoldesc (simple fakes) fall back to flat scalars."""
        try:
            cd = t.getcoldesc(c)
        except Exception:  # noqa: BLE001 - fake factories
            return False, None
        vt = str(cd.get("valueType", "")).upper()
        is_cx = vt in ("COMPLEX", "FCOMPLEX", "DCOMPLEX")
        shp = cd.get("shape")
        shape = tuple(int(x) for x in shp) if shp is not None \
            and len(tuple(shp)) else None
        return is_cx, shape

    try:
        for ds in datasets:
            df = ds.df
            if ROWID not in df.columns:
                raise ValueError(
                    "xds_to_casa updates require a ROWID column "
                    "addressing the target rows")
            names = [c for c in (columns or df.columns) if c != ROWID]
            info = {c: col_info(c) for c in names}
            for pdf in _iter_rowid_batches(df, names, batch_rows):
                rows = pdf[ROWID].to_numpy()
                # split into contiguous runs so putcol row ranges are
                # valid even for scattered updates (a run crossing a
                # batch boundary simply becomes two putcol calls)
                breaks = np.flatnonzero(np.diff(rows) != 1) + 1
                for seg in np.split(np.arange(len(rows)), breaks):
                    lo = int(rows[seg[0]])
                    n = len(seg)
                    for c in names:
                        is_cx, shape = info[c]
                        vals = _column_block(
                            pdf[c].iloc[seg[0]:seg[0] + n],
                            is_cx, shape)
                        t.putcol(c, vals, lo, n)
                    written += n
    finally:
        if hasattr(t, "close"):
            t.close()
    return written
