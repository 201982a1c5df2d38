"""katdal (MeerKAT archive) source (reference S5/S12).

The reference exposes live MeerKAT archive data (RDB urls) as
MSv2-shaped datasets via a facade that transposes (time, chan,
corrprod) -> (row, chan, corr) with numba kernels
(daskms/experimental/katdal/katdal_import.py:51-139, facade
msv2_facade.py:52-121, transpose.py:34-131).

Spark-native ingest shape (implemented here, katdal-or-fake loader):

* the driver opens the archive through a *loader* and reads metadata
  only (dump count, timestamps, correlation products, per-dump
  field/scan ids) — the analogue of the reference's eager
  ``katdal.open``;
* the archive is a :class:`~.chunks.ChunkSource` of dump-chunks read
  by the shared chunk kernel (one ``mapInArrow`` over
  ``spark.range(n_chunks)``, :func:`~.chunks.scan_chunks`); each task
  opens its own loader (the reference's per-worker table handle),
  reads its time slices, and transposes each dense (dump, chan,
  corrprod) block to MSv2 row-major (row, chan, corr) with pure numpy
  indexing — the numba transpose kernel re-expressed as a gather;
* the result is the standard main-table layout of ``types.py``
  (interleaved-complex flat DATA, flat UVW/FLAG/WEIGHT_SPECTRUM,
  deterministic ROWID), grouped into Datasets by
  (FIELD_ID, DATA_DESC_ID) like every other source.

The *loader seam* keeps the Spark plumbing real and testable without
the katdal package: any object with ``meta()`` and
``read(start, stop)`` (see :class:`FakeKatdalLoader` in
``tests/test_sources.py``) can drive the ingest; the katdal-backed
loader below adapts the public katdal API behind the import gate.
"""

from __future__ import annotations

from typing import Callable, Iterable

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, FloatType,
                               IntegerType, LongType, StructField, StructType)

from ..dataset import Dataset, partition_datasets
from ..types import ROWID
from .chunks import ChunkSource, scan_chunks

try:  # pragma: no cover - katdal absent in this environment
    import katdal as _katdal  # type: ignore

    HAVE_KATDAL = True
except Exception:  # pragma: no cover
    _katdal = None
    HAVE_KATDAL = False

__all__ = ["HAVE_KATDAL", "xds_from_katdal", "katdal_import",
           "transpose_to_rowmajor", "DEFAULT_DUMPS_PER_CHUNK"]

DEFAULT_DUMPS_PER_CHUNK = 16


def transpose_to_rowmajor(vis, cp_index, time_col: str = "time",
                          cp_col: str = "corrprod",
                          data_col: str = "data"):
    """(time, corrprod)-keyed chan-arrays -> MSv2 row-major layout
    (time, antenna1, antenna2) with ``data[chan][corr]``.

    The reference does this with a numba kernel over dense blocks
    (daskms/experimental/katdal/transpose.py:34-131); here it is a
    declarative regroup, fully JVM-side: broadcast-join the tiny
    corrprod index (corrprod -> antenna1, antenna2, corr), shuffle
    once keyed on the output row identity (time, baseline), and build
    the (chan, corr) nested array with higher-order functions —
    ``collect_list`` of corr-tagged chan-arrays, corr-sorted, then a
    nested ``transform`` flips to chan-major.  Scales with the number
    of output rows; no dense intermediate ever materialises.  Use it
    when the (time, corrprod) data is already a DataFrame; the dense
    ingest path below transposes inside the chunk task instead.

    ``cp_index`` columns: ``corrprod, antenna1, antenna2, corr``.
    """
    from pyspark.sql import functions as F

    joined = vis.join(F.broadcast(cp_index), cp_col)
    per_row = (joined.groupBy(time_col, "antenna1", "antenna2")
               .agg(F.array_sort(F.collect_list(F.struct(
                    F.col("corr"),
                    F.col(data_col).alias("v")))).alias("cs")))
    nchan = F.size(F.col("cs")[0]["v"])
    chan_major = F.transform(
        F.sequence(F.lit(0), nchan - F.lit(1)),
        lambda ch: F.transform(F.col("cs"), lambda s: s["v"][ch]))
    return per_row.select(time_col, "antenna1", "antenna2",
                          chan_major.alias(data_col))


def _katdal_loader_factory(applycal: str = "",
                           no_auto: bool = True) -> Callable:
    """Factory returning a loader over the public katdal API.

    Gated: only reachable when the katdal package imports.  Follows
    the reference's selection defaults (katdal_import.py:57-66):
    track scans, cross-correlations only when ``no_auto``.
    """
    def make(url: str):  # pragma: no cover - needs katdal + archive
        ds = _katdal.open(url, applycal=applycal)
        selection = {"scans": "track"}
        if no_auto:
            selection["corrprods"] = "cross"
        ds.select(**selection)
        return _KatdalLoader(ds)

    return make


class _KatdalLoader:  # pragma: no cover - needs katdal + archive
    """Adapter: katdal DataSet -> the loader protocol."""

    def __init__(self, ds):
        self.ds = ds

    def meta(self) -> dict:
        ds = self.ds
        # katdal corr_products are POL-SUFFIXED antenna labels like
        # ('m000h', 'm001v'): antenna identity is the label minus the
        # trailing polarisation char, and ids come from a DETERMINISTIC
        # sorted enumeration of the unique names — parsing the digits
        # out of 'm000h' (or worse, hash()ing the label, which is
        # PYTHONHASHSEED-randomised and splits one antenna's h/v into
        # two ids) broke every real-archive ingest (review r9)
        prods = [(str(a), str(b)) for a, b in ds.corr_products]
        names = sorted({p[:-1] for ab in prods for p in ab})
        ant_id = {n: i for i, n in enumerate(names)}
        cp = [(ant_id[a[:-1]], ant_id[b[:-1]], f"{a[-1]}{b[-1]}")
              for a, b in prods]
        corrs = sorted({c for _, _, c in cp})
        corr_of = {c: i for i, c in enumerate(corrs)}
        # katdal's DataSet.spw is already the integer index of the
        # selected window; .index(ds.spw) on the SpectralWindow object
        # list raised ValueError for every real dataset (review r9)
        spw = getattr(ds, "spw", 0)
        if not isinstance(spw, (int, np.integer)):
            spw = ds.spectral_windows.index(spw)
        return {
            "n_dumps": int(ds.shape[0]),
            "n_chans": int(ds.shape[1]),
            "timestamps": [float(t) for t in ds.timestamps],
            "corr_products": [(a, b, corr_of[c]) for a, b, c in cp],
            "antenna_names": names,
            "field_ids": [int(t) for t in ds.sensor.get(
                "Observation/target_index")],
            "scan_numbers": [int(s) for s in ds.sensor.get(
                "Observation/scan_index")],
            "data_desc_id": int(spw),
        }

    def read(self, start: int, stop: int) -> dict:
        ds = self.ds
        out = {
            "vis": np.asarray(ds.vis[start:stop]),
            "flags": np.asarray(ds.flags[start:stop]),
            "weights": np.asarray(ds.weights[start:stop]),
        }
        # katdal exposes uvw as per-corr-product (n_dumps, n_cp)
        # u/v/w arrays; without them the import would silently write
        # all-zero UVW (review r9) — downstream BDA/imaging/uvdist
        # RFI would compute quietly wrong results
        if all(hasattr(ds, k) for k in ("u", "v", "w")):
            for k in ("u", "v", "w"):
                out[k] = np.asarray(getattr(ds, k)[start:stop])
        return out


def _ms_schema(nchan: int, ncorr: int) -> StructType:
    return StructType([
        StructField(ROWID, LongType(), False),
        StructField("FIELD_ID", IntegerType(), False),
        StructField("DATA_DESC_ID", IntegerType(), False),
        StructField("SCAN_NUMBER", IntegerType(), False),
        StructField("TIME", DoubleType(), False),
        StructField("ANTENNA1", IntegerType(), False),
        StructField("ANTENNA2", IntegerType(), False),
        StructField("UVW", ArrayType(DoubleType()), False),
        StructField("DATA", ArrayType(FloatType()), False),
        StructField("FLAG", ArrayType(BooleanType()), False),
        StructField("WEIGHT_SPECTRUM", ArrayType(FloatType()), False),
    ])


def xds_from_katdal(spark: SparkSession, url: str,
                    applycal: str = "", no_auto: bool = True,
                    group_cols: Iterable[str] = ("FIELD_ID",
                                                 "DATA_DESC_ID"),
                    index_cols: Iterable[str] = ("TIME", "ANTENNA1",
                                                 "ANTENNA2"),
                    loader_factory: Callable | None = None,
                    dumps_per_chunk: int = DEFAULT_DUMPS_PER_CHUNK
                    ) -> list[Dataset]:
    """Open a MeerKAT archive as MSv2-shaped Datasets (reference
    ``xds_from_katdal``, katdal_import.py:51-111).

    ``loader_factory(url)`` must return an object with

    * ``meta() -> dict`` — keys ``n_dumps, n_chans, timestamps,
      corr_products`` (list of ``(antenna1, antenna2, corr_index)``
      per correlation product), ``field_ids`` / ``scan_numbers`` (per
      dump), ``data_desc_id``;
    * ``read(start, stop) -> dict`` — dense numpy blocks ``vis``
      (complex, ``(dumps, nchan, n_corrprods)``), ``flags`` (bool),
      ``weights`` (float), optionally ``uvw``
      (``(dumps, n_baselines, 3)``).

    Defaults to the katdal-backed loader (import-gated); tests inject
    a deterministic fake.  The factory is shipped to executors, where
    each chunk task opens its own loader — exactly the reference's
    per-worker handle pattern.
    """
    if loader_factory is None:
        if not HAVE_KATDAL:
            raise NotImplementedError(
                "katdal is not installed and no loader_factory was "
                "given; ingest MeerKAT data to parquet on a machine "
                "with katdal (katdal_import), then read with "
                "xds_from_parquet")
        loader_factory = _katdal_loader_factory(applycal, no_auto)

    meta = loader_factory(url).meta()
    n_dumps = int(meta["n_dumps"])
    nchan = int(meta["n_chans"])
    times = np.asarray(meta["timestamps"], dtype=np.float64)
    cp = [(int(a), int(b), int(c)) for a, b, c in meta["corr_products"]]
    field_ids = np.asarray(meta["field_ids"], dtype=np.int64)
    scan_numbers = np.asarray(meta["scan_numbers"], dtype=np.int64)
    ddid = int(meta.get("data_desc_id", 0))

    # baseline/corr gather index: cp_map[b, c] = corrprod column
    baselines = sorted({(a, b) for a, b, _ in cp})
    bl_of = {ab: i for i, ab in enumerate(baselines)}
    ncorr = 1 + max(c for _, _, c in cp)
    nbl = len(baselines)
    cp_map = np.full((nbl, ncorr), -1, dtype=np.int64)
    for col, (a, b, c) in enumerate(cp):
        cp_map[bl_of[(a, b)], c] = col
    if (cp_map < 0).any():
        raise ValueError("corr_products do not form a dense "
                         "(baseline, corr) grid")
    ant1 = np.array([a for a, _ in baselines], dtype=np.int64)
    ant2 = np.array([b for _, b in baselines], dtype=np.int64)

    def read_chunk(loader, ci, lo, hi):
        block = loader.read(lo, hi)
        nd = hi - lo
        # (nd, nchan, ncp) -> (nd * nbl, nchan, ncorr): the transpose
        # kernel as one vectorised fancy-index + swapaxes per array
        vis, fl, wt = (np.swapaxes(np.asarray(block[k])[:, :, cp_map], 1, 2)
                       .reshape(nd * nbl, nchan, ncorr)
                       for k in ("vis", "flags", "weights"))
        if "uvw" in block:
            uvw = np.asarray(block["uvw"], dtype=np.float64) \
                .reshape(nd * nbl, 3)
        elif all(k in block for k in ("u", "v", "w")):
            # per-corr-product (nd, n_cp) u/v/w — identical across a
            # baseline's polarisation products, so gather one cp per
            # baseline
            sel = cp_map[:, 0]
            uvw = np.stack(
                [np.asarray(block[k], dtype=np.float64)[:, sel]
                 for k in ("u", "v", "w")],
                axis=-1).reshape(nd * nbl, 3)
        else:
            import warnings

            warnings.warn(
                "katdal loader returned no uvw/u/v/w — writing ZERO UVW "
                "coordinates; uv-dependent results (BDA, imaging, "
                "uvdist RFI) will be wrong", stacklevel=2)
            uvw = np.zeros((nd * nbl, 3), dtype=np.float64)
        dump_idx = np.repeat(np.arange(lo, hi), nbl)
        return {
            ROWID: dump_idx * nbl + np.tile(np.arange(nbl), nd),
            "FIELD_ID": field_ids[dump_idx],
            "DATA_DESC_ID": np.full(nd * nbl, ddid),
            "SCAN_NUMBER": scan_numbers[dump_idx],
            "TIME": times[dump_idx],
            "ANTENNA1": np.tile(ant1, nd),
            "ANTENNA2": np.tile(ant2, nd),
            "UVW": uvw,
            "DATA": vis.astype(np.complex64, copy=False),
            "FLAG": fl,
            "WEIGHT_SPECTRUM": wt.astype(np.float32, copy=False),
        }

    src = ChunkSource(_ms_schema(nchan, ncorr), n_dumps, dumps_per_chunk,
                      lambda: loader_factory(url), read_chunk)
    return partition_datasets(scan_chunks(spark, src), list(group_cols),
                              list(index_cols))


def katdal_import(spark: SparkSession, url: str, out_store: str,
                  no_auto: bool = True, applycal: str = "",
                  loader_factory: Callable | None = None) -> None:
    """Archive -> Hive-partitioned parquet ingest job (reference
    ``katdal_import``, katdal_import.py:115-139): after this one
    distributed pass, every query runs on the native parquet path."""
    from .parquet import xds_to_parquet

    dss = xds_from_katdal(spark, url, applycal=applycal,
                          no_auto=no_auto,
                          loader_factory=loader_factory)
    xds_to_parquet(dss, out_store)
