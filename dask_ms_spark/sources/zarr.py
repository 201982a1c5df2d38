"""Zarr source/sink (reference S3/S8).

The reference reads/writes zarr groups ``{table}_{i}`` per partition
with chunk-aligned getters/setters
(daskms/experimental/zarr/__init__.py:129-157, :209-217, :270-364,
:380-528).  This module implements the same store layout as a **zarr
v2 directory store** using numpy + stdlib only, so the round trip
runs (and is tested) without the zarr package: uncompressed chunks
(``compressor: null``) plus the stdlib-codable codecs
``{"id": "zlib"}`` / ``{"id": "gzip"}``; stores it writes are
standard zarr v2 and open unchanged with ``zarr.open_group`` when
the package is present.

Execution model — the part the reference does with dask, re-expressed
Spark-side:

* **write**: a fixed number of Spark jobs per store, not per group.
  The datasets are tagged with their group index and unioned (one
  plan per distinct schema), range-partitioned on (group, source
  ROWID) and pinned once (``partition_ordinals(pin=True)``).  ONE
  aggregation grouped by (group, partition) returns every group's
  validation and sizing statistics plus the per-partition row
  counts, from which the driver derives dense per-group ROWIDs
  (partition offset + local ordinal).  ONE ``applyInArrow`` keyed by
  (group, ``ROWID // row_chunk``) then writes each chunk's files for
  all columns in its own task, each tensor column packed from its
  Arrow list's one flat value buffer.  The driver only writes the
  tiny JSON metadata (``.zgroup``/``.zarray``/``.zattrs``) —
  mirroring the reference's eager DDL step — never the data.
* **read**: the driver reads only the JSON metadata; each group is
  a :class:`~.chunks.ChunkSource` whose chunk reads load chunk files
  on executors — the analogue of the reference's per-chunk
  ``zarr_getter`` (daskms/experimental/zarr/__init__.py:367-372) —
  scanned by the shared chunk kernel (:func:`~.chunks.scan_chunks`,
  one ``mapInArrow``; ``spark.read.format("zarr")`` reads the same
  source, ``pyds.py``).  No full-table driver materialisation on any
  path.  A grouped read
  whose keys the stored partition key covers builds its datasets
  from the stored groups (``dataset.regroup_stored``), so each
  dataset reads only its own groups' chunks and no job runs before
  the action.

Third-party stores with other codecs (blosc, ...) or filters are
read through the zarr package when installed (still chunk-at-a-time
on executors); without it they raise with the parquet conversion
path as the remedy.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import shutil
import zlib
from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DataType, DoubleType,
                               FloatType, IntegerType, LongType, ShortType,
                               StringType, StructField, StructType,
                               TimestampType)

from ..dataset import Dataset
from ..types import PARTITION_KEY, ROWID
from .chunks import ChunkSource, cell_slab, scan_chunks

try:  # pragma: no cover - zarr absent in this environment
    import zarr as _zarr  # type: ignore

    HAVE_ZARR = True
except Exception:  # pragma: no cover
    _zarr = None
    HAVE_ZARR = False

__all__ = ["HAVE_ZARR", "xds_from_zarr", "xds_to_zarr",
           "rechunk_by_size"]

# element byte widths for the budget calculation (strings measured
# per store: zarr v2 fixed-width unicode is 4 bytes/char)
_ELEM_BYTES = {"boolean": 1, "tinyint": 1, "smallint": 2, "int": 4,
               "bigint": 8, "float": 4, "double": 8}


def _column_stats(fields: list[StructField]) -> list:
    """Per-column stat aggregates the writer validates and sizes a
    store from: row count, null and element-null counts, tensor
    widths, string lengths.  Metadata only — data never hits the
    driver."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c = f.name
        aggs.append(F.sum(F.col(c).isNull().cast("long"))
                    .alias(f"__null_{c}"))
        if isinstance(f.dataType, ArrayType):
            aggs += [F.min(F.size(c)).alias(f"__lo_{c}"),
                     F.max(F.size(c)).alias(f"__hi_{c}"),
                     F.max(F.exists(F.col(c), lambda x: x.isNull()))
                     .alias(f"__enull_{c}")]
            if isinstance(f.dataType.elementType, StringType):
                aggs.append(F.max(F.array_max(F.transform(
                    F.col(c), F.length))).alias(f"__sl_{c}"))
        elif isinstance(f.dataType, StringType):
            aggs.append(F.max(F.length(c)).alias(f"__sl_{c}"))
    return aggs


def _merge_stats(rows) -> dict:
    """Fold :func:`_column_stats` rows of one group (one row per
    partition) into the group's totals."""
    out: dict = {}
    for r in rows:
        for k, v in r.asDict().items():
            if v is None or not k.startswith("__") or k in ("__grp",
                                                            "__pid"):
                continue
            if k not in out:
                out[k] = v
            elif k.startswith("__lo_"):
                out[k] = min(out[k], v)
            elif k.startswith(("__hi_", "__sl_", "__enull_")):
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out


def _budget_grid(fields: list[StructField], stats: dict,
                 max_chunk_mem: int, unchunked: set) -> tuple[int, dict]:
    """The arithmetic of :func:`rechunk_by_size` over merged
    :func:`_column_stats` totals."""
    if max_chunk_mem < 1:
        raise ValueError(f"max_chunk_mem must be >= 1, "
                         f"got {max_chunk_mem}")

    def itemsize(f) -> int:
        t = (f.dataType.elementType if isinstance(f.dataType, ArrayType)
             else f.dataType)
        s = t.simpleString()
        if s == "string":
            return 4 * max(1, int(stats.get(f"__sl_{f.name}") or 1))
        if s == "timestamp":
            return 8
        if s not in _ELEM_BYTES:
            raise ValueError(f"rechunk_by_size: unsupported element "
                             f"type {s!r} for column {f.name}")
        return _ELEM_BYTES[s]

    row_bound = None
    widths, sizes = {}, {}
    for f in fields:
        isz = itemsize(f)
        w = (max(1, int(stats.get(f"__hi_{f.name}") or 1))
             if isinstance(f.dataType, ArrayType) else 1)
        widths[f.name], sizes[f.name] = w, isz
        splittable = (isinstance(f.dataType, ArrayType)
                      and f.name not in unchunked)
        if w * isz > max_chunk_mem:
            # one row exceeds the budget: only a cell split can help,
            # so the row chunk drops to 1
            if not splittable:
                raise ValueError(
                    f"rechunk_by_size: one row of column {f.name!r} "
                    f"is {w * isz} bytes, over the {max_chunk_mem}-"
                    "byte budget, and the column is not cell-"
                    "splittable — raise the budget or allow splitting")
            bound = 1
        else:
            # whole cells preferred: splits only happen when a single
            # row cannot fit (slab-aligned reads stay cheap)
            bound = max_chunk_mem // (w * isz)
        row_bound = bound if row_bound is None else min(row_bound,
                                                        bound)
    row_chunk = max(1, row_bound if row_bound is not None
                    else max_chunk_mem)
    cell_chunks = {}
    for f in fields:
        w, isz = widths[f.name], sizes[f.name]
        if (isinstance(f.dataType, ArrayType)
                and f.name not in unchunked
                and row_chunk * w * isz > max_chunk_mem):
            cell_chunks[f.name] = max(1, max_chunk_mem
                                      // (row_chunk * isz))
    return row_chunk, cell_chunks


def rechunk_by_size(df: DataFrame, max_chunk_mem: int = 2 ** 27,
                    unchunked_cols: Iterable[str] = ()
                    ) -> tuple[int, dict]:
    """Derive ``(row_chunk, cell_chunks)`` so every chunk file this
    writer emits stays under ``max_chunk_mem`` bytes — the byte-budget
    default that prevents 2 GiB-class chunk mistakes (reference
    ``rechunk_by_size``, daskms/experimental/utils.py:126-218; same
    contract, re-expressed for this writer's (row, flat-cell) chunk
    grid).

    One metadata-only aggregation (:func:`_column_stats`) measures
    array cell widths and max string lengths.  The row chunk is
    shared across columns (zarr rows are co-chunked so groups stay
    slab-aligned): it is the largest row count that keeps every
    non-splittable column's block under budget; array columns whose
    block still exceeds the budget at that row chunk get a
    ``cell_chunks`` entry splitting the cell axis.  ``unchunked_cols``
    opts columns out of cell splitting (they then bound the row chunk
    instead; a single cell larger than the budget raises).
    """
    fields = [f for f in df.schema.fields if f.name != ROWID]
    stats = _merge_stats([df.agg(*_column_stats(fields)).first()])
    return _budget_grid(fields, stats, max_chunk_mem, set(unchunked_cols))


DEFAULT_ROW_CHUNK = 10_000  # reference default chunking (daskms/reads.py:33)

_SPARK_TO_NP = {
    "boolean": "|b1",
    "smallint": "<i2",
    "int": "<i4",
    "bigint": "<i8",
    "float": "<f4",
    "double": "<f8",
    "timestamp": "<M8[us]",
}

_NP_TO_SPARK: dict[str, DataType] = {
    "|b1": BooleanType(),
    "<i2": ShortType(),
    "<i4": IntegerType(),
    "<i8": LongType(),
    "<f4": FloatType(),
    "<f8": DoubleType(),
    "<M8[us]": TimestampType(),
}


def _np_to_spark(dtype: str) -> DataType:
    if dtype in _NP_TO_SPARK:
        return _NP_TO_SPARK[dtype]
    if dtype.startswith("<U"):
        return StringType()
    raise NotImplementedError(f"unsupported zarr dtype {dtype!r}")


def _fill_value(dtype: str):
    if dtype.startswith("<U"):
        return ""
    return False if dtype == "|b1" else 0


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=2, sort_keys=True)


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# write


def _column_plan(fields: list[StructField], stats: dict,
                 cell_chunks: dict) -> dict[str, dict]:
    """Per-column zarr array plan of one group: numpy dtype, per-row
    width (None = scalar column, int = flat tensor width) and cell
    chunk ``cc``.  Raises on what a dense rectangular zarr array
    cannot hold: unsupported types, nulls, ragged tensors."""
    bad_cc = set(cell_chunks) - {f.name for f in fields
                                 if isinstance(f.dataType, ArrayType)}
    if bad_cc:
        raise ValueError(
            f"cell_chunks for non-tensor columns: {sorted(bad_cc)}")
    nulled = {f.name: stats[f"__null_{f.name}"] for f in fields
              if stats.get(f"__null_{f.name}")}
    nulled.update({f.name: "element" for f in fields
                   if stats.get(f"__enull_{f.name}")})
    if nulled:
        raise ValueError(
            f"null values in columns {nulled} — zarr arrays are dense; "
            "fill them first (df.fillna / F.coalesce with the column's "
            "fill value)")
    nrow = stats.get("__n", 0)
    plan: dict[str, dict] = {}
    for f in fields:
        dt = f.dataType
        if isinstance(dt, StringType):
            n = max(1, int(stats.get(f"__sl_{f.name}") or 1))
            plan[f.name] = {"dtype": f"<U{n}", "width": None}
            continue
        elem = (dt.elementType if isinstance(dt, ArrayType)
                else dt).simpleString()
        if elem not in _SPARK_TO_NP:
            raise NotImplementedError(
                f"column {f.name}: type {dt.simpleString()} unsupported "
                "by the zarr adapter; encode it (complex -> interleaved "
                "floats, types.complex_array_type) first")
        plan[f.name] = {"dtype": _SPARK_TO_NP[elem], "width": None}
        if isinstance(dt, ArrayType):
            lo, hi = (stats.get(f"__lo_{f.name}"),
                      stats.get(f"__hi_{f.name}"))
            if nrow and lo != hi:
                raise ValueError(
                    f"column {f.name} is ragged ({lo}..{hi} "
                    "elements/row); zarr arrays are rectangular — "
                    "partition by the shape-defining column (e.g. "
                    "DATA_DESC_ID) first, as the reference does "
                    "(README.rst:100-116)")
            w = int(hi) if nrow else 0
            # zarr v2 requires POSITIVE chunk dims even for a 0-size
            # axis; a 0-width tensor gets cc=1 and no chunk files
            plan[f.name].update(width=w, cc=max(1, min(
                int(cell_chunks.get(f.name, w) or w), w)) if w else 1)
    return plan


def _attrs_json(attrs: dict) -> dict:
    out = {}
    for k, v in attrs.items():
        if k == PARTITION_KEY:
            out[PARTITION_KEY] = [list(p) for p in v]
        elif isinstance(v, (str, int, float, bool)) or v is None:
            out[k] = v
        else:
            out[k] = str(v)
    return out


def _sql_map(d: dict) -> Column:
    """A bigint -> bigint map literal in ONE expression (no per-entry
    Py4J literal)."""
    return F.expr("map(" + ", ".join(f"{int(k)}L, {int(v)}L"
                                     for k, v in sorted(d.items()))
                  + ")")


def _write_groups(members: list[tuple[int, Dataset]], store: str,
                  table: str, row_chunk: int, cell_chunks: dict,
                  compressor: dict | None,
                  max_chunk_mem: int | None) -> dict[int, int]:
    """Write same-schema datasets as groups ``{table}_{i}`` in one
    pinned plan; returns rows written per group index."""
    from ..operators.ordering import partition_ordinals

    schema = members[0][1].df.schema
    fields = [f for f in schema.fields if f.name != ROWID]
    # types and cell_chunks checked before any job runs
    _column_plan(fields, {}, {} if max_chunk_mem is not None
                 else cell_chunks)
    # groups stay in source-ROWID order (all columns without a ROWID)
    order = ["__grp"] + ([ROWID] if ROWID in schema.names
                         else list(schema.names))
    union = None
    for i, ds in members:
        tagged = ds.df.withColumn("__grp", F.lit(i))
        union = tagged if union is None else union.unionByName(tagged)
    parted = partition_ordinals(union, order, pin=True)
    rows = parted.groupBy("__grp", "__pid").agg(
        *_column_stats(fields)).collect()

    # dense per-group ROWID = __loc + base[(grp, pid)]: the group's
    # rows in earlier partitions minus its start within this one
    counts = {(r["__grp"], r["__pid"]): r["__n"] for r in rows}
    n_pid = 1 + max((p for _, p in counts), default=0)
    before, start, base = {}, {}, {}
    for g, p in sorted(counts):
        base[g * n_pid + p] = before.get(g, 0)
        before[g] = before.get(g, 0) + counts[g, p]
    for g, p in sorted(counts, key=lambda gp: (gp[1], gp[0])):
        base[g * n_pid + p] -= start.get(p, 0)
        start[p] = start.get(p, 0) + counts[g, p]

    specs, written = {}, {}
    for i, ds in members:
        stats = _merge_stats(r for r in rows if r["__grp"] == i)
        nrow = int(stats.get("__n", 0))
        rc, cc = row_chunk, cell_chunks
        if max_chunk_mem is not None:
            rc, cc = _budget_grid(fields, stats, max_chunk_mem, set())
        rc = max(1, min(rc, nrow))
        plan = _column_plan(fields, stats, cc)
        gdir = os.path.join(store, f"{table}_{i}")
        os.makedirs(gdir, exist_ok=True)
        _write_json(os.path.join(gdir, ".zgroup"), {"zarr_format": 2})
        _write_json(os.path.join(gdir, ".zattrs"),
                    _attrs_json(ds.attrs))
        for col, spec in plan.items():
            os.makedirs(os.path.join(gdir, col), exist_ok=True)
            w = spec["width"]
            _write_json(os.path.join(gdir, col, ".zarray"), {
                "zarr_format": 2,
                "shape": [nrow] if w is None else [nrow, w],
                "chunks": [rc] if w is None else [rc, spec["cc"]],
                "dtype": spec["dtype"],
                "compressor": dict(compressor) if compressor else None,
                "fill_value": _fill_value(spec["dtype"]),
                "order": "C",
                "filters": None,
            })
        specs[i] = {"dir": gdir, "row_chunk": rc, "nrow": nrow,
                    "cols": plan}
    want = {i: g["nrow"] for i, g in specs.items()}
    n_chunks = sum(-(-g["nrow"] // g["row_chunk"]) for g in specs.values())
    if not n_chunks:
        return want         # metadata-only store: no chunk files

    codec_id = compressor.get("id") if compressor else None
    codec_level = int(compressor.get("level", 6)) if compressor else 0

    def encode(payload: bytes) -> bytes:
        if codec_id == "gzip":
            # mtime=0: equal data writes equal bytes (the header
            # would otherwise stamp the write time)
            return gzip.compress(payload, compresslevel=codec_level,
                                 mtime=0)
        if codec_id == "zlib":
            return zlib.compress(payload, codec_level)
        return payload

    def write_chunk(tbl):
        import pyarrow as pa

        gi = tbl.column("__grp")[0].as_py()
        ci = tbl.column("__chunk")[0].as_py()
        g = specs[gi]
        n, rc = tbl.num_rows, g["row_chunk"]
        # ROWIDs are dense per group: a row's slot in the chunk is its
        # offset from the chunk's first ROWID
        pos = tbl.column(ROWID).to_numpy() - ci * rc
        for col, spec in g["cols"].items():
            dt, w = np.dtype(spec["dtype"]), spec["width"]
            values = tbl.column(col).combine_chunks()
            if w is None:
                full = np.zeros(rc, dtype=dt)
                full[pos] = values.to_numpy(zero_copy_only=False)
                parts = {str(ci): full}
            elif w == 0:
                continue        # 0-width axis: empty chunk grid
            else:
                # every chunk file padded to full (rc, cc), the zarr
                # v2 layout the slab reader prunes against; nulls and
                # ragged rows were rejected before this job
                cc = spec["cc"]
                full = np.zeros((rc, -(-w // cc) * cc), dtype=dt)
                full[pos, :w] = values.flatten().to_numpy(
                    zero_copy_only=False).reshape(n, w)
                parts = {f"{ci}.{j}": full[:, j * cc:(j + 1) * cc]
                         for j in range(-(-w // cc))}
            for key, part in parts.items():
                path = os.path.join(g["dir"], col, key)
                tmp = os.path.join(g["dir"], col,
                                   f".{key}.tmp{os.getpid()}")
                with open(tmp, "wb") as fh:
                    fh.write(encode(np.ascontiguousarray(part).tobytes()))
                os.replace(tmp, path)
        return pa.table({"grp": pa.array([gi], pa.int64()),
                         "rows": pa.array([n], pa.int64())})

    rowid = F.col("__loc") + F.element_at(
        _sql_map(base), F.col("__grp") * n_pid + F.col("__pid"))
    rcs = _sql_map({i: g["row_chunk"] for i, g in specs.items()})
    out = StructType([StructField("grp", LongType()),
                      StructField("rows", LongType())])
    for r in (parted.withColumn(ROWID, rowid.cast("long"))
              .withColumn("__chunk", F.floor(
                  F.col(ROWID) / F.element_at(rcs, F.col("__grp"))))
              .drop("__pid", "__loc")
              .repartition(n_chunks, "__grp", "__chunk")
              .groupBy("__grp", "__chunk").applyInArrow(write_chunk, out)
              .collect()):     # one small row per chunk
        written[r[0]] = written.get(r[0], 0) + int(r[1])
    if written != {i: n for i, n in want.items() if n}:
        raise RuntimeError(f"chunk rows {written} != group rows {want}")
    return want


def xds_to_zarr(datasets: list[Dataset] | Dataset | DataFrame, store: str,
                table: str = "MAIN",
                row_chunk: int = DEFAULT_ROW_CHUNK,
                cell_chunks: dict | None = None,
                compressor: dict | None = None,
                max_chunk_mem: int | None = None) -> list[int]:
    """Write datasets to a zarr store, one group ``{table}_{i}`` per
    dataset (reference ``xds_to_zarr``,
    daskms/experimental/zarr/__init__.py:270-364; group naming
    ``:129-157``).  Chunk-aligned, executor-side v2.  Returns rows
    written per group.

    Each group's ROWIDs are re-densified to ``0..n-1`` in source-ROWID
    order (in all-column order when the frame has no ROWID): chunk
    files are keyed ``ROWID // row_chunk``, and a grouped or filtered
    dataset keeps the parent table's gappy ids.  ``row_chunk`` is
    capped at the group's row count, so a small group is one unpadded
    chunk.

    ``cell_chunks`` (column -> chunk size along the cell axis) writes
    tensor columns as multiple ``{ci}.{j}`` slab files, so later
    sliced reads (``xds_from_zarr(..., slices=...)``) prune whole
    files — choose it to match the dominant read slab (e.g. channel
    blocks of a DATA column).

    ``max_chunk_mem`` (bytes) switches to the byte-budget default:
    ``row_chunk``/``cell_chunks`` are DERIVED per group as
    :func:`rechunk_by_size` would, from the statistics the writer
    already aggregates (explicit ``row_chunk``/``cell_chunks`` are
    ignored when set).

    ``compressor`` (zarr v2 codec dict) supports the stdlib-codable
    codecs ``{"id": "zlib", "level": N}`` (numcodecs raw-zlib) and
    ``{"id": "gzip", "level": N}``; any standard zarr v2 reader opens
    the result.
    """
    if isinstance(datasets, DataFrame):
        datasets = [Dataset(datasets, {})]
    if isinstance(datasets, Dataset):
        datasets = [datasets]
    if compressor is not None and compressor.get("id") not in ("zlib",
                                                               "gzip"):
        raise NotImplementedError(
            f"compressor {compressor!r}: only the stdlib codecs "
            "zlib/gzip are supported without the zarr package")
    os.makedirs(store, exist_ok=True)
    _write_json(os.path.join(store, ".zgroup"), {"zarr_format": 2})
    # a rewrite with FEWER datasets must not leave the previous
    # write's higher-indexed {table}_{i} groups behind — the reader
    # enumerates groups, so stale ones would come back as data.
    # Other tables' groups are untouched.
    pat = re.compile(re.escape(table) + r"_\d+$")
    for d in os.listdir(store):
        if pat.fullmatch(d) and int(d.rsplit("_", 1)[1]) >= \
                len(datasets):
            shutil.rmtree(os.path.join(store, d), ignore_errors=True)
    # one pinned plan per distinct schema, whatever the group count
    by_schema: dict[str, list[tuple[int, Dataset]]] = {}
    for i, ds in enumerate(datasets):
        by_schema.setdefault(ds.df.schema.simpleString(), []).append(
            (i, ds))
    counts: dict[int, int] = {}
    for members in by_schema.values():
        counts.update(_write_groups(members, store, table, row_chunk,
                                    dict(cell_chunks or {}), compressor,
                                    max_chunk_mem))
    return [counts[i] for i in range(len(datasets))]


# ---------------------------------------------------------------------------
# read


def peek_array_columns(store: str) -> set[str]:
    """Names of tensor columns (>= 2-d zarr arrays, read back as
    ``ArrayType``) across every group of a LOCAL store — from
    ``.zarray`` metadata only, no chunk IO.  Used to bind the
    ``taql_where`` array aggregates without opening the data
    (storage.py's schema-deferral leg)."""
    cols: set[str] = set()
    for g in _group_dirs(store):
        gdir = os.path.join(store, g)
        for name in os.listdir(gdir):
            zpath = os.path.join(gdir, name, ".zarray")
            if os.path.exists(zpath) \
                    and len(_read_json(zpath)["shape"]) > 1:
                cols.add(name)
    return cols


def _group_dirs(store: str) -> list[str]:
    subs = sorted(
        d for d in os.listdir(store)
        if os.path.isdir(os.path.join(store, d))
        and os.path.exists(os.path.join(store, d, ".zgroup")))
    # numeric-suffix order: MAIN_2 after MAIN_1, before MAIN_10
    def order(name: str):
        base, _, idx = name.rpartition("_")
        return (base, int(idx)) if idx.isdigit() else (name, -1)

    return sorted(subs, key=order)


def _read_cell_chunks(group_dir: str, col: str, z: dict, ci: int,
                      n_valid: int, slab: list | None) -> "np.ndarray":
    """Assemble one row-chunk of a column from its cell-chunk files,
    reading ONLY the cell chunks that intersect ``slab`` AND, within
    each needed chunk file, only the pages the hyperslab touches (the
    reference's blc:trc read, daskms/reads.py:58-75): files are
    ``np.memmap``-ed with the chunk's C-order shape and indexed by
    the slab directly, so an interior slab faults in just the
    overlapping pages instead of materialising the whole chunk.  A
    trailing partial row chunk likewise touches only its ``n_valid``
    rows' pages.

    zarr v2 layout: chunk key ``"{ci}.{j}.{k}..."``, every file padded
    to the full chunk shape; valid extents trimmed via the memmap
    index.  zlib/gzip-codec chunks are handled natively with stdlib
    decompression (a compressed chunk is an indivisible I/O unit, so
    the slab applies AFTER decode — whole-file pruning still holds);
    other codecs (blosc, ...) take the zarr-package path in
    ``_group_source``.
    """
    cell_shape = list(z["shape"][1:])
    cell_chunks = list(z["chunks"][1:])
    dtype = np.dtype(z["dtype"])
    row_chunk = z["chunks"][0]
    if any(s == 0 for s in cell_shape):
        # 0-size axis: the chunk grid is empty (no files on disk) —
        # synthesize the empty rows, flattened per cell like the main
        # return below
        out = np.zeros([n_valid] + cell_shape, dtype=dtype)
        # explicit flattened width: reshape(-1) cannot infer the
        # second axis when n_valid == 0 (size-0 array, ambiguous -1)
        return (out.reshape(n_valid, int(np.prod(cell_shape)))
                if len(cell_shape) > 1 else out)
    codec = (z.get("compressor") or {}).get("id") \
        if isinstance(z.get("compressor"), dict) else None

    def load(path: str, shape: tuple):
        if codec is None:
            return np.memmap(path, dtype=dtype, mode="r", shape=shape)
        with open(path, "rb") as fh:
            raw = fh.read()
        # numcodecs "zlib" = raw zlib stream; "gzip" = gzip-framed
        data = zlib.decompress(raw, 47 if codec == "gzip" else 15)
        return np.frombuffer(data, dtype=dtype).reshape(shape)

    if slab is None:
        slab = [(0, d) for d in cell_shape]
    if not cell_shape:                      # 1-d array: single file
        arr = load(os.path.join(group_dir, col, str(ci)),
                   (row_chunk,))
        return np.array(arr[:n_valid])
    out_shape = [n_valid] + [b - a for a, b in slab]
    buf = np.empty(out_shape, dtype=dtype)
    ranges = [range(a // ch, (b - 1) // ch + 1)
              for (a, b), ch in zip(slab, cell_chunks)]
    from itertools import product

    for coord in product(*ranges):
        key = ".".join([str(ci)] + [str(j) for j in coord])
        arr = load(os.path.join(group_dir, col, key),
                   tuple([row_chunk] + cell_chunks))
        src: list[slice] = [slice(0, n_valid)]
        dst: list[slice] = [slice(0, n_valid)]
        for (a, b), ch, j in zip(slab, cell_chunks, coord):
            g0, g1 = max(a, j * ch), min(b, (j + 1) * ch)
            src.append(slice(g0 - j * ch, g1 - j * ch))
            dst.append(slice(g0 - a, g1 - a))
        buf[tuple(dst)] = arr[tuple(src)]
        del arr
    # explicit flattened width (n_valid can be 0 on a fully-pruned
    # tail chunk — reshape(-1) would raise on the size-0 array)
    return (buf.reshape(n_valid, int(np.prod([b - a for a, b in slab])))
            if len(cell_shape) > 1 else buf)


def _load_arrays(group_dir: str, columns: Iterable[str] | None) -> dict:
    """``{name: .zarray metadata}`` of the group's arrays, restricted
    to ``columns`` (in that order) when given."""
    arrays = {}
    for name in sorted(os.listdir(group_dir)):
        zpath = os.path.join(group_dir, name, ".zarray")
        if os.path.exists(zpath):
            arrays[name] = _read_json(zpath)
    if columns is not None:
        missing = set(columns) - set(arrays)
        if missing:
            raise KeyError(f"columns not in store: {sorted(missing)}")
        arrays = {c: arrays[c] for c in columns}
    if not arrays:
        raise ValueError(f"no zarr arrays under {group_dir}")
    return arrays


def _native(z: dict) -> bool:
    """True when :func:`_read_cell_chunks` decodes the array itself: no
    filters, and uncompressed or a stdlib-decodable codec (numcodecs
    zlib, a raw stream, or gzip, framed)."""
    comp = z.get("compressor")
    return z.get("filters") in (None, []) and (comp is None or (
        isinstance(comp, dict) and comp.get("id") in ("zlib", "gzip")))


def _group_source(group_dir: str, columns: Iterable[str] | None = None,
                  slices: dict | None = None) -> ChunkSource:
    """The :class:`~.chunks.ChunkSource` of one group, checked on the
    driver from its JSON metadata: codecs, one row count, one row
    chunk, and ``slices`` (tensor column -> cell slab)."""
    arrays = _load_arrays(group_dir, columns)
    slices = dict(slices or {})
    bad = set(slices) - set(arrays)
    if bad:
        raise KeyError(f"sliced columns not in read set: {sorted(bad)}")
    slabs: dict[str, list[tuple[int, int]]] = {}
    for c, sl in slices.items():
        if len(arrays[c]["shape"]) < 2:
            raise ValueError(
                f"column {c} is scalar; slices apply to tensor "
                "columns only")
        slab = cell_slab(arrays[c]["shape"][1:], tuple(sl))
        if any(k != 1 for _, _, k in slab):
            # chunk pruning is about contiguous slabs
            raise ValueError("strided cell slices are not supported")
        slabs[c] = [(a, b) for a, b, _ in slab]

    compressed = [c for c, z in arrays.items() if not _native(z)]
    if compressed and not HAVE_ZARR:
        raise NotImplementedError(
            f"store {group_dir} has arrays with non-native codecs/"
            f"filters ({compressed[:3]}...) and zarr is not installed; "
            "install zarr or convert the store to parquet")

    shapes = {c: z["shape"] for c, z in arrays.items()}
    nrows = {s[0] for s in shapes.values()}
    if len(nrows) != 1:
        raise ValueError(f"row-count mismatch across arrays: {shapes}")
    nrow = nrows.pop()
    fields = [StructField(ROWID, LongType(), False)]
    for c, z in arrays.items():
        t = _np_to_spark(z["dtype"])
        fields.append(StructField(
            c, ArrayType(t) if len(z["shape"]) > 1 else t))
    row_chunks = {z["chunks"][0] for z in arrays.values()}
    if nrow and len(row_chunks) != 1:
        raise ValueError("arrays disagree on row chunking; rechunk first")

    def open_group():
        return _zarr.open_group(group_dir, mode="r") \
            if compressed else None  # pragma: no cover

    def read_chunk(zroot, ci, lo, hi):
        out = {ROWID: np.arange(lo, hi, dtype=np.int64)}
        for c, z in arrays.items():
            slab = slabs.get(c)
            if zroot is None:
                out[c] = _read_cell_chunks(group_dir, c, z, ci, hi - lo,
                                           slab)
            else:  # pragma: no cover - zarr prunes cell chunks natively
                out[c] = zroot[c][(slice(lo, hi),) + tuple(
                    slice(a, b) for a, b in slab or ())]
        return out

    return ChunkSource(StructType(fields), nrow, max(row_chunks),
                       open_group, read_chunk)


def _read_group(spark: SparkSession, group_dir: str,
                columns: Iterable[str] | None = None,
                slices: dict | None = None) -> Dataset:
    attrs_path = os.path.join(group_dir, ".zattrs")
    attrs = _read_json(attrs_path) if os.path.exists(attrs_path) else {}
    if PARTITION_KEY in attrs:
        attrs[PARTITION_KEY] = tuple(
            tuple(p) for p in attrs[PARTITION_KEY])
    return Dataset(scan_chunks(spark, _group_source(group_dir, columns,
                                                    slices)), attrs)


def xds_from_zarr(spark: SparkSession, store: str,
                  columns: Iterable[str] | None = None,
                  slices: dict | None = None,
                  table: str | None = None) -> list[Dataset]:
    """Read a zarr store into Datasets, one per ``{table}_{i}`` group
    (reference ``xds_from_zarr``,
    daskms/experimental/zarr/__init__.py:380-528).  Only JSON metadata
    is read on the driver; chunk data is loaded per-chunk on executors
    via ``mapInArrow``, over at most ``defaultParallelism`` partitions.

    ``slices`` maps a tensor column to python slices over its cell
    dims; only the cell chunks intersecting the slab are read from
    storage (see :func:`_read_cell_chunks`).

    ``table`` selects one table's groups from a multi-table store
    (``xds_to_zarr(..., table=...)`` writes ``{table}_{i}`` groups;
    without the filter a mixed store returns every table's datasets
    interleaved).
    """
    groups = _group_dirs(store)
    if table is not None:
        pat = re.compile(re.escape(table) + r"_\d+$")
        groups = [g for g in groups if pat.fullmatch(g)]
        if not groups:
            raise FileNotFoundError(
                f"no {table}_<i> groups under {store!r}")
    if not groups:
        # a bare array group (store IS the group)
        return [_read_group(spark, store, columns, slices)]
    return [_read_group(spark, os.path.join(store, g), columns, slices)
            for g in groups]
