"""Zarr source/sink round-trip + plan-shape tests (reference S3/S8).

Mirrors the reference's zarr suite
(daskms/experimental/zarr/tests/test_zarr.py): write datasets, read
them back, assert values/attrs/partition keys survive; plus the
Spark-specific guarantees — the read plan is mapInArrow over a Range
scan (no driver materialisation) and the write's only action is the
chunk-count aggregation.
"""

from __future__ import annotations

import datetime
import gzip
import json
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_ms_spark.dataset import Dataset
from dask_ms_spark.sources.storage import (infer_format,
                                           xds_from_storage_table,
                                           xds_to_storage_table)
from dask_ms_spark.sources.zarr import (DEFAULT_ROW_CHUNK, xds_from_zarr,
                                        xds_to_zarr)
from dask_ms_spark.types import PARTITION_KEY, ROWID
from tests.conftest import jobs_in


def _mixed_df(spark, n=25):
    """Deterministic frame with scalar/string/timestamp/tensor columns
    and n chosen so the final chunk is partial for row_chunk=10."""
    rows = [
        (
            i,
            i * 2,
            float(i) / 4.0,
            bool(i % 2),
            f"name_{i:03d}",
            datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
            [float(i), float(i) + 0.5, float(i) + 0.75],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        f"{ROWID} bigint, ival bigint, dval double, flag boolean, "
        "name string, ts timestamp, vec array<double>")


def test_zarr_roundtrip_mixed_types(spark, tmp_path):
    store = str(tmp_path / "mixed_store")
    df = _mixed_df(spark, n=25)
    counts = xds_to_zarr(df, store, row_chunk=10)
    assert counts == [25]
    assert infer_format(store) == "zarr"

    # standard v2 metadata on disk: 3 chunk files for 25 rows @ 10
    zarray = json.load(open(os.path.join(store, "MAIN_0", "ival",
                                         ".zarray")))
    assert zarray["shape"] == [25] and zarray["chunks"] == [10]
    assert zarray["compressor"] is None
    assert sorted(os.listdir(os.path.join(store, "MAIN_0", "ival"))) == \
        [".zarray", "0", "1", "2"]

    (back,) = xds_from_zarr(spark, store)
    got = back.df.orderBy(ROWID).collect()
    want = df.orderBy(ROWID).collect()
    assert len(got) == 25
    for g, w in zip(got, want):
        assert g[ROWID] == w[ROWID]
        assert g.ival == w.ival and g.dval == w.dval
        assert g.flag == w.flag and g.name == w.name
        assert g.ts == w.ts
        assert g.vec == pytest.approx(w.vec)


def test_zarr_multigroup_partition_key_roundtrip(spark, orders, tmp_path):
    """Multi-dataset write -> {table}_{i} groups; PARTITION_KEY and
    group attrs survive the round trip (reference group naming,
    daskms/experimental/zarr/__init__.py:129-157)."""
    store = str(tmp_path / "grouped")
    key = (("o_orderstatus", "string"),)
    small = orders.select("o_orderkey", "o_orderstatus", "o_totalprice") \
                  .where("o_orderkey < 300")
    dss = [
        Dataset(small.where(f"o_orderstatus = '{s}'")
                     .drop("o_orderstatus"),
                {"o_orderstatus": s, PARTITION_KEY: key})
        for s in ("F", "O")
    ]
    xds_to_zarr(dss, store, row_chunk=16)
    names = sorted(d for d in os.listdir(store)
                   if os.path.isdir(os.path.join(store, d)))
    assert names == ["MAIN_0", "MAIN_1"]

    back = xds_from_zarr(spark, store)
    assert len(back) == 2
    for ds, orig in zip(back, dss):
        assert ds.attrs[PARTITION_KEY] == key
        assert ds.attrs["o_orderstatus"] == orig.attrs["o_orderstatus"]
        assert ds.df.count() == orig.df.count()


def test_zarr_column_projection(spark, tmp_path):
    store = str(tmp_path / "proj")
    xds_to_zarr(_mixed_df(spark, 12), store, row_chunk=8)
    (ds,) = xds_from_zarr(spark, store, columns=["ival", "name"])
    assert sorted(ds.df.columns) == [ROWID, "ival", "name"]
    with pytest.raises(KeyError, match="not in store"):
        xds_from_zarr(spark, store, columns=["nope"])


def test_zarr_ragged_tensor_guard(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])],
        f"{ROWID} bigint, vec array<double>")
    with pytest.raises(ValueError, match="ragged"):
        xds_to_zarr(df, str(tmp_path / "ragged"))


def test_zarr_null_guard(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "a"), (1, None)], f"{ROWID} bigint, name string")
    with pytest.raises(ValueError, match="null"):
        xds_to_zarr(df, str(tmp_path / "nulls"))
    # nulls inside array elements are caught too
    df2 = spark.createDataFrame(
        [(0, [1.0, None])], f"{ROWID} bigint, vec array<double>")
    with pytest.raises(ValueError, match="null"):
        xds_to_zarr(df2, str(tmp_path / "enulls"))


def test_zarr_empty_dataset_roundtrip(spark, tmp_path):
    store = str(tmp_path / "empty")
    df = _mixed_df(spark, 5).where("ival < 0")
    assert xds_to_zarr(df, store) == [0]
    (back,) = xds_from_zarr(spark, store)
    assert back.df.count() == 0
    assert "ival" in back.df.columns


def test_zarr_storage_dispatch_with_grouping(spark, orders, tmp_path):
    """S6: xds_from_storage_table on a zarr store honours columns,
    group_cols, index_cols and where — the round-2 regression path."""
    store = str(tmp_path / "dispatch")
    small = orders.select("o_orderkey", "o_custkey", "o_orderstatus",
                          "o_totalprice").where("o_orderkey < 1000") \
                  .withColumn(ROWID, F.col("o_orderkey"))
    xds_to_storage_table([Dataset(small, {})], store, fmt="zarr")
    assert infer_format(store) == "zarr"

    # plain read
    (flat,) = xds_from_storage_table(spark, store)
    assert flat.df.count() == small.count()

    # grouped + filtered + projected read
    dss = xds_from_storage_table(
        spark, store, columns=["o_orderkey", "o_totalprice"],
        group_cols=["o_orderstatus"], index_cols=["o_orderkey"],
        where="o_custkey % 2 = 0")
    want = small.where("o_custkey % 2 = 0")
    assert sum(d.df.count() for d in dss) == want.count()
    statuses = sorted(d.attrs["o_orderstatus"] for d in dss)
    got_statuses = sorted(
        r[0] for r in want.select("o_orderstatus").distinct().collect())
    assert statuses == got_statuses
    for d in dss:
        assert "o_totalprice" in d.df.columns
        assert d.attrs[PARTITION_KEY] == (("o_orderstatus", "string"),)


def _write_multichunk_store(root, n=20, w=8, row_chunk=10, cell_chunk=4):
    """Hand-build a zarr v2 group whose tensor column is chunked along
    the CELL axis too — the third-party layout (our writer produces it
    only when asked via ``cell_chunks=``)."""
    import numpy as np

    os.makedirs(root)
    with open(os.path.join(root, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    data = np.arange(n * w, dtype="<f8").reshape(n, w)
    for name, arr, chunks in [
            ("X", data, [row_chunk, cell_chunk]),
            ("rid", np.arange(n, dtype="<i8"), [row_chunk])]:
        adir = os.path.join(root, name)
        os.makedirs(adir)
        with open(os.path.join(adir, ".zarray"), "w") as f:
            json.dump({"zarr_format": 2, "shape": list(arr.shape),
                       "chunks": chunks, "dtype": arr.dtype.str,
                       "compressor": None, "filters": None,
                       "fill_value": 0, "order": "C"}, f)
        n_row_chunks = (n + row_chunk - 1) // row_chunk
        for ci in range(n_row_chunks):
            rows = arr[ci * row_chunk:(ci + 1) * row_chunk]
            pad = row_chunk - rows.shape[0]
            if pad:
                rows = np.concatenate(
                    [rows, np.zeros((pad,) + arr.shape[1:],
                                    dtype=arr.dtype)])
            if arr.ndim == 1:
                rows.tofile(os.path.join(adir, str(ci)))
            else:
                for j in range((w + cell_chunk - 1) // cell_chunk):
                    rows[:, j * cell_chunk:(j + 1) * cell_chunk] \
                        .tofile(os.path.join(adir, f"{ci}.{j}"))
    return data


def test_zarr_slab_pushdown_prunes_cell_chunks(spark, tmp_path):
    """P3 at the source: a cell-dim slice reads only the intersecting
    cell-chunk files.  The pruned files are DELETED from the store, so
    any non-pushed-down read path would fail outright."""
    import numpy as np

    root = str(tmp_path / "mc")
    data = _write_multichunk_store(root, n=20, w=8, row_chunk=10,
                                   cell_chunk=4)
    # full read still works (all files present)
    (full,) = xds_from_zarr(spark, root)
    got = {r[ROWID]: r.X for r in full.df.collect()}
    assert np.allclose(got[7], data[7])

    # now delete every second-cell-chunk file: columns 4..7 unreadable
    for ci in range(2):
        os.remove(os.path.join(root, "X", f"{ci}.1"))
    (ds,) = xds_from_zarr(spark, root, slices={"X": (slice(0, 4),)})
    rows = {r[ROWID]: r for r in ds.df.collect()}
    assert len(rows) == 20
    for i in (0, 9, 10, 19):
        assert np.allclose(np.array(rows[i].X), data[i, :4])
        assert rows[i].rid == i           # unsliced 1-d col intact
    # chunk-straddling slab (2:6) touches the deleted chunk -> fails
    (bad,) = xds_from_zarr(spark, root, slices={"X": (slice(2, 6),)})
    with pytest.raises(Exception):
        bad.df.collect()
    # guards
    with pytest.raises(KeyError, match="sliced columns"):
        xds_from_zarr(spark, root, columns=["rid"],
                      slices={"X": (slice(0, 4),)})
    with pytest.raises(ValueError, match="scalar"):
        xds_from_zarr(spark, root, slices={"rid": (slice(0, 2),)})


def test_zarr_read_plan_is_distributed(spark, tmp_path):
    """Plan-shape guard: the read must be one Python map (mapInArrow)
    over a Range scan — a rewrite that goes driver-eager
    (createDataFrame of collected chunks) breaks this."""
    store = str(tmp_path / "planshape")
    xds_to_zarr(_mixed_df(spark, 25), store, row_chunk=10)
    (ds,) = xds_from_zarr(spark, store)
    plan = ds.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "Range" in plan
    assert "Scan ExistingRDD" not in plan  # no driver-side materialise


@pytest.mark.parametrize("n,row_chunk", [(5, 10), (25, 10), (25, 2)])
def test_zarr_read_plans_one_partition_per_chunk_up_to_parallelism(
        spark, tmp_path, n, row_chunk):
    """The read frame plans min(n_chunks, defaultParallelism)
    partitions: no empty Python task for a store of few chunks, and
    no more tasks than cores for one of many."""
    store = str(tmp_path / "parts")
    xds_to_zarr(_mixed_df(spark, n), store, row_chunk=row_chunk)
    (ds,) = xds_from_zarr(spark, store)
    n_chunks = -(-n // row_chunk)
    want = min(n_chunks, spark.sparkContext.defaultParallelism)
    assert ds.df.rdd.getNumPartitions() == want
    assert sorted(r[ROWID] for r in ds.df.select(ROWID).collect()) == \
        list(range(n))


def _reference_chunks(values, dtype, rc: int, cc: int | None = None):
    """A column's zarr v2 chunk files as numpy lays them out: chunk
    ``ci`` holds rows ``ci*rc ..`` zero-padded to ``rc`` rows; a
    tensor's row chunk is cut along the cell axis into ``cc``-wide
    slabs ``{ci}.{j}``, the last one zero-padded to ``cc``."""
    arr = np.asarray(values, dtype=dtype)
    out = {}
    for ci in range(-(-len(arr) // rc)):
        block = arr[ci * rc:(ci + 1) * rc]
        if arr.ndim == 1:
            full = np.zeros(rc, dtype=dtype)
            full[:len(block)] = block
            out[str(ci)] = full.tobytes()
            continue
        for j in range(-(-arr.shape[1] // cc)):
            part = block[:, j * cc:(j + 1) * cc]
            full = np.zeros((rc, cc), dtype=dtype)
            full[:part.shape[0], :part.shape[1]] = part
            out[f"{ci}.{j}"] = full.tobytes()
    return out


@pytest.mark.parametrize("compressor", [None, {"id": "zlib", "level": 3},
                                        {"id": "gzip", "level": 5}])
def test_zarr_chunk_files_match_numpy_reference(spark, tmp_path,
                                                compressor):
    """Every chunk file is the numpy reference layout byte for byte:
    float32 and cell-chunked float64 tensors, int16/bool/string/
    timestamp scalars, a 0-width tensor (no files), each codec."""
    n, rc = 23, 10
    t0 = datetime.datetime(2024, 1, 1)
    names = [f"n{'x' * (i % 5)}{i}" for i in range(n)]
    cols = {
        "f32": [[i + k / 8 for k in range(6)] for i in range(n)],
        "vec": [[i * 10.0 + k for k in range(5)] for i in range(n)],
        "sval": [i * 97 % 601 - 300 for i in range(n)],
        "flag": [i % 3 == 0 for i in range(n)],
        "name": names,
        "ts": [t0 + datetime.timedelta(hours=i, microseconds=7 * i)
               for i in range(n)],
        "empty": [[] for _ in range(n)],
    }
    df = spark.createDataFrame(
        [(i,) + tuple(cols[c][i] for c in cols) for i in range(n)],
        f"{ROWID} bigint, f32 array<float>, vec array<double>, "
        "sval smallint, flag boolean, name string, ts timestamp, "
        "empty array<float>")
    store = str(tmp_path / "ref")
    xds_to_zarr(df, store, row_chunk=rc, cell_chunks={"vec": 2},
                compressor=compressor)

    width = max(map(len, names))
    want = {
        "f32": _reference_chunks(cols["f32"], "<f4", rc, 6),
        "vec": _reference_chunks(cols["vec"], "<f8", rc, 2),
        "sval": _reference_chunks(cols["sval"], "<i2", rc),
        "flag": _reference_chunks(cols["flag"], "|b1", rc),
        "name": _reference_chunks(names, f"<U{width}", rc),
        "ts": _reference_chunks(np.array(cols["ts"], "datetime64[us]"),
                                "<M8[us]", rc),
        "empty": {},
    }
    assert len(want["vec"]) == 9     # 3 row chunks x 3 cell slabs
    for col, chunks in want.items():
        cdir = os.path.join(store, "MAIN_0", col)
        z = json.load(open(os.path.join(cdir, ".zarray")))
        assert z["compressor"] == compressor
        assert sorted(f for f in os.listdir(cdir) if f != ".zarray") \
            == sorted(chunks), col
        for key, raw in chunks.items():
            got = open(os.path.join(cdir, key), "rb").read()
            if compressor is None:
                assert got == raw, (col, key)
            elif compressor["id"] == "zlib":
                assert got == zlib.compress(raw, 3), (col, key)
            else:
                assert got == gzip.compress(raw, 5, mtime=0), (col, key)


def test_zarr_default_row_chunk_sane():
    assert DEFAULT_ROW_CHUNK >= 1000


def test_zarr_cell_chunked_write_then_pruned_read(spark, tmp_path):
    """S8+P3 round trip: cell_chunks= writes {ci}.{j} slab files; a
    sliced read of our OWN store prunes the second slab (deleted to
    prove it's never opened); values match the full read."""
    import numpy as np

    store = str(tmp_path / "cc_store")
    df = spark.range(25).selectExpr(
        f"id as {ROWID}", "cast(id as double) as v",
        "array(id*1.0D, id*2.0D, id*3.0D, id*4.0D, id*5.0D, id*6.0D) "
        "as vec")
    xds_to_zarr([Dataset(df, {})], store, row_chunk=10,
                cell_chunks={"vec": 3})
    gdir = os.path.join(store, "MAIN_0")
    meta = json.load(open(os.path.join(gdir, "vec", ".zarray")))
    assert meta["chunks"] == [10, 3]
    assert os.path.exists(os.path.join(gdir, "vec", "0.1"))

    (full,) = xds_from_zarr(spark, store)
    want = {r[ROWID]: list(r.vec) for r in full.df.collect()}
    assert want[7] == [7.0, 14.0, 21.0, 28.0, 35.0, 42.0]

    for ci in range(3):
        os.remove(os.path.join(gdir, "vec", f"{ci}.1"))
    (ds,) = xds_from_zarr(spark, store, slices={"vec": (slice(0, 3),)})
    got = {r[ROWID]: list(r.vec) for r in ds.df.collect()}
    assert len(got) == 25
    for i in (0, 9, 10, 24):
        assert got[i] == want[i][:3]
        assert np.isclose(
            {r[ROWID]: r.v for r in ds.df.collect()}[i], float(i))

    with pytest.raises(ValueError, match="non-tensor"):
        xds_to_zarr([Dataset(df, {})], str(tmp_path / "bad"),
                    cell_chunks={"v": 2})


def test_read_cell_chunks_memmap_subchunk_slab(tmp_path):
    """Sub-chunk hyperslab reads (round 6): _read_cell_chunks memmaps
    each needed chunk file and indexes the slab directly — an interior
    slab never materialises the whole chunk (np.fromfile is
    monkeypatch-poisoned to prove the full-file path is gone), and a
    trailing partial row chunk touches only its valid rows."""
    import numpy as np

    from dask_ms_spark.sources import zarr as zmod

    row_chunk, w, cc = 10, 8, 4
    data = (np.arange(row_chunk * w, dtype=np.float64)
            .reshape(row_chunk, w))
    gdir = tmp_path / "g"
    (gdir / "X").mkdir(parents=True)
    for j in range(w // cc):
        (gdir / "X" / f"0.{j}").write_bytes(
            np.ascontiguousarray(data[:, j * cc:(j + 1) * cc])
            .tobytes())
    z = {"shape": [row_chunk, w], "chunks": [row_chunk, cc],
         "dtype": "<f8"}

    real_fromfile = np.fromfile
    np.fromfile = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("full-file np.fromfile on the slab path"))
    try:
        # interior slab inside the first cell chunk
        got = zmod._read_cell_chunks(str(gdir), "X", z, 0, 10,
                                     [(1, 3)])
        assert np.array_equal(got, data[:, 1:3])
        # slab straddling both cell chunks
        got = zmod._read_cell_chunks(str(gdir), "X", z, 0, 10,
                                     [(2, 6)])
        assert np.array_equal(got, data[:, 2:6])
        # trailing partial row chunk: only 7 valid rows
        got = zmod._read_cell_chunks(str(gdir), "X", z, 0, 7,
                                     [(5, 8)])
        assert np.array_equal(got, data[:7, 5:8])
        # unsliced read still correct through the memmap path
        got = zmod._read_cell_chunks(str(gdir), "X", z, 0, 10, None)
        assert np.array_equal(got, data)
    finally:
        np.fromfile = real_fromfile


def test_zarr_subchunk_slab_end_to_end(spark, tmp_path):
    """Chunk-INTERIOR slab through the full read path: slice (1, 3)
    lives inside the single 6-wide cell chunk, so no file pruning
    applies — the memmap slab indexing must still return exactly the
    requested columns for every row chunk including the partial
    last one."""
    import numpy as np

    store = str(tmp_path / "interior")
    df = spark.range(25).selectExpr(
        f"id as {ROWID}",
        "array(id*1.0D, id*2.0D, id*3.0D, id*4.0D, id*5.0D, id*6.0D) "
        "as vec")
    xds_to_zarr([Dataset(df, {})], store, row_chunk=10)
    (ds,) = xds_from_zarr(spark, store, slices={"vec": (slice(1, 3),)})
    got = {r[ROWID]: list(r.vec) for r in ds.df.collect()}
    assert len(got) == 25
    for i in (0, 9, 10, 24):
        assert got[i] == [i * 2.0, i * 3.0]


def test_zarr_zlib_compressed_round_trip(spark, tmp_path):
    """Compressed zarr v2 without the zarr package: zlib-codec write
    (codec recorded in .zarray, chunk bytes actually compressed) and
    executor-side native decompression on read, incl. sliced reads
    with whole-file pruning intact."""
    import json as _json
    import zlib

    import numpy as np

    store = str(tmp_path / "zc")
    df = spark.range(25).selectExpr(
        f"id as {ROWID}", "cast(id as double) as v",
        "array(id*1.0D, id*1.0D, id*1.0D, id*1.0D, id*1.0D, id*1.0D) "
        "as vec")   # repetitive -> compresses well
    xds_to_zarr([Dataset(df, {})], store, row_chunk=10,
                cell_chunks={"vec": 3},
                compressor={"id": "zlib", "level": 6})
    gdir = os.path.join(store, "MAIN_0")
    meta = _json.load(open(os.path.join(gdir, "vec", ".zarray")))
    assert meta["compressor"] == {"id": "zlib", "level": 6}

    # chunk files are genuine zlib streams smaller than the raw chunk
    raw_size = 10 * 3 * 8
    p = os.path.join(gdir, "vec", "0.0")
    payload = open(p, "rb").read()
    assert len(payload) < raw_size
    arr = np.frombuffer(zlib.decompress(payload), "<f8")
    assert arr.shape == (30,)

    (full,) = xds_from_zarr(spark, store)
    got = {r[ROWID]: (r.v, list(r.vec)) for r in full.df.collect()}
    assert len(got) == 25
    assert got[7] == (7.0, [7.0] * 6)
    assert got[24] == (24.0, [24.0] * 6)   # partial trailing chunk

    # sliced read still prunes unneeded cell-chunk FILES (deleted to
    # prove it); the needed compressed chunk decodes then slabs
    for ci in range(3):
        os.remove(os.path.join(gdir, "vec", f"{ci}.1"))
    (ds,) = xds_from_zarr(spark, store, slices={"vec": (slice(0, 3),)})
    vals = {r[ROWID]: list(r.vec) for r in ds.df.collect()}
    assert vals[13] == [13.0, 13.0, 13.0]


def test_zarr_gzip_codec_read(spark, tmp_path):
    """A store written by an external tool with the numcodecs gzip
    codec (gzip-framed chunks) reads natively."""
    import gzip as _gz
    import json as _json

    import numpy as np

    gdir = tmp_path / "g" / "MAIN_0"
    (gdir / "x").mkdir(parents=True)
    _json.dump({"zarr_format": 2}, open(tmp_path / "g" / ".zgroup", "w"))
    _json.dump({"zarr_format": 2}, open(gdir / ".zgroup", "w"))
    data = np.arange(8, dtype="<f8")
    (gdir / "x" / "0").write_bytes(_gz.compress(data.tobytes()))
    _json.dump({"zarr_format": 2, "shape": [8], "chunks": [8],
                "dtype": "<f8", "order": "C", "fill_value": 0,
                "filters": None,
                "compressor": {"id": "gzip", "level": 1}},
               open(gdir / "x" / ".zarray", "w"))
    (dss) = xds_from_zarr(spark, str(tmp_path / "g"))
    (ds,) = dss
    assert [r.x for r in ds.df.orderBy(ROWID).collect()] == \
        [float(i) for i in range(8)]


def test_zarr_package_interop_compressed(spark, tmp_path):
    """GATED: where the zarr package exists, it must open our
    zlib-compressed store unchanged (standard v2 on disk).  Skipped
    in this sandbox (zarr not installed); the stdlib decode path is
    exercised unconditionally above."""
    import pytest

    from dask_ms_spark.sources.zarr import HAVE_ZARR

    if not HAVE_ZARR:
        pytest.skip("zarr package not installed")
    import numpy as np
    import zarr as _z

    store = str(tmp_path / "interop")
    df = spark.range(30).selectExpr(f"id as {ROWID}",
                                    "cast(id as double) as v")
    xds_to_zarr([Dataset(df, {})], store, row_chunk=16,
                compressor={"id": "zlib", "level": 4})
    g = _z.open_group(os.path.join(store, "MAIN_0"), mode="r")
    assert np.allclose(g["v"][:], np.arange(30, dtype="<f8"))


def test_zarr_to_bda_pipeline(spark, tmp_path):
    """Integration: MS-shaped rows written to a zarr store, read back
    through the zarr source, reduced with baseline-dependent
    averaging — the reference user's store -> read -> downstream-
    kernel chain end to end on this engine."""
    from pyspark.sql import functions as F

    from dask_ms_spark.operators.bda import bda_average
    from dask_ms_spark.sources.zarr import xds_from_zarr, xds_to_zarr

    rows = []
    rowid = 0
    for bl, uv in ((1, 100.0), (2, 800.0)):
        for i in range(8):
            rows.append((rowid, bl, uv, 2.0 * i,
                         [float(bl * 10 + i), float(i)],
                         [i % 4 == 0, False]))
            rowid += 1
    src = spark.createDataFrame(
        rows, "ROWID bigint, bl bigint, uv double, time double, "
              "data array<double>, flag array<boolean>")
    store = str(tmp_path / "ms_store")
    assert xds_to_zarr(src, store, row_chunk=6) == [16]

    (back,) = xds_from_zarr(spark, store)
    out = bda_average(back.df, "time", ["bl"], "uv",
                      base_interval=2.0, ref_uvdist=800.0,
                      max_factor=8, data_col="data", flag_col="flag")
    got = {(r.bl, r.bin): r for r in out.collect()}
    r1 = got[(1, 0)]                  # short baseline: one 16s bin
    assert r1.n_rows == 8 and r1.factor == 8
    keep = [i for i in range(8) if i % 4 != 0]
    assert r1.data_mean[0] == sum(10.0 + i for i in keep) / len(keep)
    assert len([k for k in got if k[0] == 2]) == 8   # long: 2s bins


def test_rechunk_by_size_budget_respected(spark, tmp_path):
    """S8 byte-budget default (reference rechunk_by_size,
    daskms/experimental/utils.py:126-218): derived chunking keeps
    every chunk file under budget, splits wide cells, and the store
    round-trips value-identical."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from dask_ms_spark.sources.zarr import (rechunk_by_size,
                                            xds_from_zarr, xds_to_zarr)
    from dask_ms_spark.types import ROWID

    # 200 rows x 256-double cells = 2048 B/row
    df = spark.range(200).select(
        F.col("id").alias(ROWID),
        F.col("id").cast("double").alias("T"),
        F.expr("transform(sequence(1, 256), "
               "i -> cast(id * 1000 + i as double))").alias("DATA"))

    # budget 16 KiB: row_chunk bounded by DATA (2048 B/row -> 8 rows)
    rc, cc = rechunk_by_size(df, max_chunk_mem=16384)
    assert rc == 8 and cc == {}

    # budget 1 KiB: one DATA row (2048 B) busts it -> cell split
    rc2, cc2 = rechunk_by_size(df, max_chunk_mem=1024)
    assert rc2 * 8 <= 1024                        # T chunks fit
    assert "DATA" in cc2
    assert rc2 * cc2["DATA"] * 8 <= 1024          # DATA chunks fit

    # unchunkable wide cell raises rather than busting the budget
    with pytest.raises(ValueError, match="not cell-splittable"):
        rechunk_by_size(df, max_chunk_mem=1024,
                        unchunked_cols=["DATA"])

    # write with the budget: every chunk FILE on disk is under it,
    # and the store round-trips
    store = str(tmp_path / "budgeted.zarr")
    xds_to_zarr(df, store, max_chunk_mem=4096)
    over = [(p, os.path.getsize(os.path.join(r, p)))
            for r, _d, files in os.walk(store) for p in files
            if not p.startswith(".")
            and os.path.getsize(os.path.join(r, p)) > 4096]
    assert over == [], f"chunk files over budget: {over}"
    (back,) = xds_from_zarr(spark, store)
    got = {r[ROWID]: r for r in back.df.collect()}
    assert len(got) == 200
    assert got[7].DATA[:3] == [7001.0, 7002.0, 7003.0]
    assert got[199].T == 199.0


def test_zarr_write_densifies_gappy_rowids(spark, tmp_path):
    """A grouped/filtered dataset keeps the parent table's global
    ROWIDs; the writer must re-densify before chunking or rows
    scatter into wrong/absent chunk files and read back zero-filled
    (review r8)."""
    from pyspark.sql import functions as F

    from dask_ms_spark.dataset import Dataset
    from dask_ms_spark.sources.zarr import (xds_from_zarr,
                                            xds_to_zarr)

    # gappy ROWIDs: every 3rd row of a 90-row parent, small chunks
    df = (spark.range(90)
          .selectExpr("id AS ROWID", "id * 10 AS v",
                      "array(cast(id as double), 1.0d) AS a")
          .where("ROWID % 3 = 0"))
    store = str(tmp_path / "gappy")
    xds_to_zarr([Dataset(df, {})], store, row_chunk=7)
    [back] = xds_from_zarr(spark, store)
    got = sorted(r.v for r in back.df.select("v").collect())
    assert got == [i * 10 for i in range(0, 90, 3)]
    arrs = {r.v: r.a for r in back.df.select("v", "a").collect()}
    assert arrs[300] == [30.0, 1.0]


def test_zarr_write_densifies_duplicate_rowids(spark, tmp_path):
    """Duplicate ROWIDs paired with a matching gap (e.g. [0,1,1,3])
    pass a min/max-only density check while rows still scatter into
    wrong chunks; the countDistinct guard must catch and re-densify
    them (review r9)."""
    from dask_ms_spark.dataset import Dataset
    from dask_ms_spark.sources.zarr import xds_from_zarr, xds_to_zarr

    df = spark.createDataFrame(
        [(0, 100), (1, 200), (1, 300), (3, 400)],
        "ROWID long, v long")
    store = str(tmp_path / "duprid")
    xds_to_zarr([Dataset(df, {})], store, row_chunk=2)
    [back] = xds_from_zarr(spark, store)
    assert sorted(r.v for r in back.df.select("v").collect()) == \
        [100, 200, 300, 400]


def test_zarr_rewrite_drops_stale_groups(spark, tmp_path):
    """Rewriting a store with fewer datasets must not resurrect the
    previous write's higher-indexed groups (review r8); the table=
    read filter selects one table from a multi-table store."""
    import pytest

    from dask_ms_spark.dataset import Dataset
    from dask_ms_spark.sources.zarr import (xds_from_zarr,
                                            xds_to_zarr)

    d = spark.range(10).selectExpr("id AS ROWID", "id AS v")
    store = str(tmp_path / "stale")
    xds_to_zarr([Dataset(d, {}), Dataset(d, {}), Dataset(d, {})],
                store)
    xds_to_zarr([Dataset(d, {}), Dataset(d, {})], store)
    assert len(xds_from_zarr(spark, store)) == 2
    # multi-table store + table filter
    ant = spark.range(3).selectExpr("id AS ROWID", "id AS ANT")
    xds_to_zarr([Dataset(ant, {})], store, table="ANTENNA")
    assert len(xds_from_zarr(spark, store, table="MAIN")) == 2
    [a] = xds_from_zarr(spark, store, table="ANTENNA")
    assert a.df.count() == 3
    with pytest.raises(FileNotFoundError):
        xds_from_zarr(spark, store, table="NOPE")


def test_zarr_write_composed_gappy_plan_roundtrips(spark, tmp_path):
    """Write-path stress regression (r9, found by
    tools/stress_writes.py): a DEEP composed input plan (union ->
    attach_rowid -> filter) broke attach_rowid's two-branch offsets
    form when Catalyst did not reuse the range exchange — the
    RangePartitioner resampled boundaries per evaluation, producing
    overlapping ROWIDs and chunk overflow in the writer.  The writers
    now use attach_rowid(stable=True) (eager localCheckpoint pins the
    partitioning); the composed round trip must be value-exact."""
    from pyspark.sql import functions as F

    from dask_ms_spark.dataset import Dataset
    from dask_ms_spark.operators.ordering import attach_rowid
    from dask_ms_spark.sources.zarr import xds_from_zarr, xds_to_zarr
    from dask_ms_spark.types import ROWID

    li = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
          .select("l_orderkey", "l_partkey", "l_linenumber",
                  "l_quantity"))
    parts = [li] + [li.withColumn("l_orderkey",
                                  F.col("l_orderkey") + F.lit(i * 10 ** 7))
                    for i in range(1, 4)]
    base = parts[0]
    for p in parts[1:]:
        base = base.unionByName(p)
    # gappy ids derived ARITHMETICALLY from the (unique) natural key,
    # not via a second attach_rowid: the oracle `want` and the write
    # path each evaluate this plan independently, so the ids must be
    # a pure function of the data for the comparison to be
    # deterministic.  The plan stays deep and composed (union x4 ->
    # project -> filter), which is what the writer regression covers.
    gappy = base.withColumn(
        ROWID,
        F.col("l_orderkey") * 10 + F.col("l_linenumber")) \
        .where(F.col(ROWID) % 3 == 0)
    want = gappy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_orderkey") * 7 + F.col("l_linenumber")).alias("k"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
         .alias("q")).first()
    store = str(tmp_path / "composed")
    xds_to_zarr([Dataset(gappy, {})], store, row_chunk=1000)
    [back] = xds_from_zarr(spark, store)
    got = back.df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_orderkey") * 7 + F.col("l_linenumber")).alias("k"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
         .alias("q")).first()
    assert tuple(want) == tuple(got)
    # stable form: dense unique ids on the deep plan
    red = attach_rowid(gappy.withColumnRenamed(ROWID, "__s"),
                       ["__s"], stable=True)
    stats = red.agg(F.countDistinct(ROWID), F.max(ROWID),
                    F.count(F.lit(1))).first()
    assert stats[0] == stats[2] and stats[1] == stats[2] - 1

    # several groups in ONE write (one pinned plan): three gappy
    # slices plus a slice with duplicate source ROWIDs.  Each group
    # reads back value-exact, with dense ROWIDs 0..n-1 whose order
    # follows the source ROWIDs (kept in SRC).
    src = gappy.withColumn("SRC", F.col(ROWID))
    groups = [src.where(F.col("l_linenumber") % 3 == k) for k in range(3)]
    groups.append(src.withColumn(ROWID, F.floor(F.col(ROWID) / 1000))
                  .withColumn("SRC", F.col(ROWID))
                  .where("l_linenumber = 1"))
    store = str(tmp_path / "composed_groups")
    counts = xds_to_zarr([Dataset(g, {"g": k})
                          for k, g in enumerate(groups)],
                         store, row_chunk=500)
    cols = ["SRC", "l_orderkey", "l_partkey", "l_linenumber",
            "l_quantity"]

    def rows(pdf):
        return sorted(map(tuple, pdf[cols].itertuples(index=False)))

    back = xds_from_zarr(spark, store)
    assert [ds.attrs["g"] for ds in back] == [0, 1, 2, 3]
    for ds, g, n in zip(back, groups, counts):
        got = (ds.df.select(ROWID, *cols).toPandas()
               .sort_values(ROWID).reset_index(drop=True))
        assert list(got[ROWID]) == list(range(n))
        assert got["SRC"].is_monotonic_increasing
        assert rows(got) == rows(g.select(*cols).toPandas())
    assert counts[3] > groups[3].select("SRC").distinct().count()


def _ms_like(spark, n=240):
    """MS-shaped rows: 2 fields x 2 spectral windows, gappy global
    ROWIDs, a tensor column."""
    return spark.range(n).selectExpr(
        f"id * 3 AS {ROWID}", "CAST(id % 2 AS INT) AS FIELD_ID",
        "CAST((id DIV 2) % 2 AS INT) AS DATA_DESC_ID",
        "CAST(id % 7 AS INT) AS ANTENNA1", "CAST(id AS DOUBLE) AS TIME",
        "array(CAST(id AS FLOAT), CAST(-id AS FLOAT)) AS DATA")


def test_zarr_write_jobs_fixed_per_store(spark, tmp_path):
    """A write costs the same number of Spark jobs whether it holds
    one group or four: the datasets share one pinned plan, one
    statistics aggregation and one chunk write."""
    from dask_ms_spark.dataset import partition_datasets

    base = _ms_like(spark)
    one = [Dataset(base, {})]
    four = partition_datasets(base, ["FIELD_ID", "DATA_DESC_ID"])
    assert len(four) == 4
    _, n1 = jobs_in(spark, "zarr-write-1", lambda: xds_to_zarr(
        one, str(tmp_path / "one")))
    counts, n4 = jobs_in(spark, "zarr-write-4", lambda: xds_to_zarr(
        four, str(tmp_path / "four")))
    assert counts == [60, 60, 60, 60]
    assert n1 == n4 > 0


def test_zarr_default_row_chunk_sized_to_group(spark, tmp_path):
    """The default row chunk is capped at the group's row count: a
    25-row dataset is one 25-row chunk, not a zero-padded 10,000-row
    one."""
    store = str(tmp_path / "sized")
    assert xds_to_zarr(_mixed_df(spark, 25), store) == [25]
    gdir = os.path.join(store, "MAIN_0")
    for col, itemsize, cells in (("ival", 8, 1), ("dval", 8, 1),
                                 ("flag", 1, 1), ("ts", 8, 1),
                                 ("name", 4 * 8, 1), ("vec", 8, 3)):
        z = json.load(open(os.path.join(gdir, col, ".zarray")))
        assert z["chunks"][0] == 25
        (chunk,) = [f for f in os.listdir(os.path.join(gdir, col))
                    if not f.startswith(".")]
        size = os.path.getsize(os.path.join(gdir, col, chunk))
        assert size == 25 * itemsize * cells, col
    (back,) = xds_from_zarr(spark, store)
    assert sorted(r.ival for r in back.df.collect()) == \
        [2 * i for i in range(25)]


def test_zarr_grouped_read_uses_stored_groups(spark, tmp_path):
    """A grouped read whose keys the stored partition key covers
    builds its datasets from the stored groups: no job before the
    action, one chunk scan per dataset, values as the generic path
    returns them; a sub-key unions the groups that share a value."""
    from dask_ms_spark.dataset import concat, partition_datasets

    base = _ms_like(spark)
    keys = ["FIELD_ID", "DATA_DESC_ID"]
    store = str(tmp_path / "keyed")
    xds_to_zarr(partition_datasets(base, keys), store)

    dss, jobs = jobs_in(spark, "zarr-read", lambda: (
        xds_from_storage_table(spark, store, group_cols=keys,
                               index_cols=["TIME"])))
    assert jobs == 0
    assert [tuple(d.attrs[k] for k in keys) for d in dss] == \
        [(0, 0), (0, 1), (1, 0), (1, 1)]
    for d in dss:
        assert d.attrs[PARTITION_KEY] == (("FIELD_ID", "int"),
                                          ("DATA_DESC_ID", "int"))
        plan = d.df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInArrow") == 1 and "Range" in plan
        assert "Scan ExistingRDD" not in plan
        times = [r.TIME for r in d.df.select("TIME").collect()]
        assert times == sorted(times) and len(times) == 60
        want = base.where((F.col("FIELD_ID") == d.attrs["FIELD_ID"])
                          & (F.col("DATA_DESC_ID")
                             == d.attrs["DATA_DESC_ID"]))
        assert sorted(times) == sorted(
            r.TIME for r in want.select("TIME").collect())

    # sub-key: FIELD_ID alone unions two stored groups per value
    by_field = xds_from_storage_table(spark, store, group_cols=["FIELD_ID"],
                                      columns=["TIME"])
    assert [d.attrs["FIELD_ID"] for d in by_field] == [0, 1]
    assert [d.df.columns for d in by_field] == [["TIME"], ["TIME"]]
    assert [d.df.count() for d in by_field] == [120, 120]

    # a filter that empties groups drops them, as partition_datasets
    # does
    kept = xds_from_storage_table(spark, store, group_cols=keys,
                                  where="DATA_DESC_ID = 1 AND TIME < 9")
    assert [(d.attrs["FIELD_ID"], d.attrs["DATA_DESC_ID"])
            for d in kept] == [(0, 1), (1, 1)]
    assert sum(d.df.count() for d in kept) == base.where(
        "DATA_DESC_ID = 1 AND TIME < 9").count()
    assert concat(kept).count() == 4


def test_zarr_grouped_read_on_unstored_key(spark, tmp_path):
    """Grouping on a column the store is not keyed by (ANTENNA1) still
    returns one correct dataset per value."""
    from dask_ms_spark.dataset import partition_datasets

    base = _ms_like(spark)
    store = str(tmp_path / "keyed")
    xds_to_zarr(partition_datasets(base, ["FIELD_ID", "DATA_DESC_ID"]),
                store)
    dss = xds_from_storage_table(spark, store, group_cols=["ANTENNA1"])
    want = {r.ANTENNA1: r["count"] for r in
            base.groupBy("ANTENNA1").count().collect()}
    assert [d.attrs["ANTENNA1"] for d in dss] == sorted(want)
    for d in dss:
        assert d.df.count() == want[d.attrs["ANTENNA1"]]
        assert {r.ANTENNA1 for r in d.df.select("ANTENNA1").collect()} \
            == {d.attrs["ANTENNA1"]}
