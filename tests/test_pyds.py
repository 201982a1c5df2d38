"""Python DataSource V2 surface (sources/pyds.py): the zarr store as
``spark.read.format("zarr")`` — schema inference, Arrow-batch reads,
ROWID chunk pruning via pushFilters, and option handling."""

import pytest
from pyspark.sql import functions as F

from dask_ms_spark.sources.pyds import (ZarrDataSource, ZarrReader,
                                        register_python_sources)
from dask_ms_spark.sources.zarr import xds_to_zarr


@pytest.fixture()
def store(spark, tmp_path):
    df = spark.range(25_000).select(
        F.col("id").alias("ROWID"),
        (F.col("id") * 2.0).alias("TIME"),
        F.array(F.col("id").cast("double"),
                (F.col("id") + 1).cast("double")).alias("UVW"))
    path = str(tmp_path / "t.zarr")
    xds_to_zarr(df, path)
    register_python_sources(spark)
    return path


def test_format_zarr_roundtrip(spark, store):
    r = spark.read.format("zarr").load(store)
    assert r.schema.simpleString() == \
        "struct<ROWID:bigint,TIME:double,UVW:array<double>>"
    assert r.count() == 25_000
    row = r.where("ROWID = 12345").collect()[0]
    assert row.TIME == 24_690.0 and row.UVW == [12345.0, 12346.0]


def test_format_zarr_rowid_bounds_values(spark, store):
    out = (spark.read.format("zarr")
           .option("rowid_min", "20000").option("rowid_max", "20009")
           .load(store))
    got = sorted(r.ROWID for r in out.collect())
    assert got == list(range(20_000, 20_010))
    # a plain .where on an unbounded load stays correct (the filter
    # runs post-scan; no shared pushdown state exists to leak)
    r = spark.read.format("zarr").load(store)
    assert len(r.where("ROWID >= 20000 AND ROWID < 20010")
                .collect()) == 10
    assert r.count() == 25_000  # after the filtered query, not 10


def test_reader_prunes_chunk_partitions(store):
    r = ZarrReader(store + "/MAIN_0", None, None)
    assert len(r.partitions()) == 3  # 25k rows / 10k default chunk
    r = ZarrReader(store + "/MAIN_0", None, None,
                   rowid_min=20_000, rowid_max=20_009)
    assert len(r.partitions()) == 1  # only the chunk holding 20k-20009


def test_columns_option_and_errors(spark, store):
    proj = (spark.read.format("zarr")
            .option("columns", "TIME").load(store))
    assert proj.columns == ["ROWID", "TIME"]
    assert proj.count() == 25_000
    with pytest.raises(Exception, match="not in store"):
        spark.read.format("zarr").option("columns", "NOPE") \
            .load(store).collect()


def test_multigroup_requires_group_option(spark, orders, tmp_path):
    from dask_ms_spark.dataset import partition_datasets

    path = str(tmp_path / "m.zarr")
    parts = partition_datasets(
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
              .withColumn("ROWID", F.col("o_orderkey")),
        ["o_orderpriority"])
    xds_to_zarr(parts, path)
    with pytest.raises(Exception, match="group"):
        spark.read.format("zarr").load(path).collect()
    groups = sorted(
        d.name for d in __import__("pathlib").Path(path).iterdir()
        if d.is_dir())
    one = (spark.read.format("zarr").option("group", groups[0])
           .load(path))
    assert one.count() > 0


def test_format_casa_with_fake_factory(spark):
    """The CASA DataSource rides the same table seam as
    xds_from_casa: a python-casacore-shaped fake, registered under a
    subclass, serves schema + chunked reads + ROWID pruning."""
    from dask_ms_spark.sources.pyds import CasaDataSource
    from tests.test_sources import FakeCasaTable

    class FakeCasaSource(CasaDataSource):
        table_factory = staticmethod(FakeCasaTable)

        @classmethod
        def name(cls):
            return "fakecasa"

    spark.dataSource.register(FakeCasaSource)
    r = (spark.read.format("fakecasa")
         .option("row_chunk", "10").load("/fake/ms"))
    assert r.count() == FakeCasaTable.N
    assert set(r.columns) == {"ROWID", "FIELD_ID", "TIME", "NAME",
                              "DATA", "UVW"}
    cols = FakeCasaTable("/fake/ms").COLS
    row = r.where("ROWID = 17").collect()[0]
    assert row.FIELD_ID == int(cols["FIELD_ID"][17])
    assert row.TIME == float(cols["TIME"][17])
    # complex transfer convention: interleaved re/im
    import numpy as np

    expect = np.empty(16, dtype=np.float32)
    expect[0::2] = cols["DATA"][17].real.ravel()
    expect[1::2] = cols["DATA"][17].imag.ravel()
    assert np.allclose(row.DATA, expect)
    # bounded load reads only the requested rows
    sub = (spark.read.format("fakecasa").option("row_chunk", "10")
           .option("rowid_min", "20").option("rowid_max", "24")
           .load("/fake/ms"))
    assert sorted(x.ROWID for x in sub.collect()) == list(range(20, 25))


def test_casa_reader_prunes_partitions():
    from dask_ms_spark.sources.pyds import CasaReader
    from tests.test_sources import FakeCasaTable

    rd = CasaReader(FakeCasaTable, "/fake/ms", None, 10)
    assert len(rd.partitions()) == 4  # 37 rows / 10-row chunks
    rd = CasaReader(FakeCasaTable, "/fake/ms", None, 10,
                    rowid_min=20, rowid_max=24)
    assert len(rd.partitions()) == 1


def test_format_casa_without_casacore_raises(spark):
    import pytest as _pytest

    from dask_ms_spark.sources.pyds import register_python_sources
    register_python_sources(spark)
    with _pytest.raises(Exception, match="casacore|convert"):
        spark.read.format("casa").load("/no/such/table").collect()


def test_format_zarr_reads_zlib_compressed(spark, tmp_path):
    """The DataSource leg inherits the stdlib codec support: a
    zlib-compressed store reads through spark.read.format('zarr')."""
    df = spark.range(500).select(
        F.col("id").alias("ROWID"), (F.col("id") * 3.0).alias("V"))
    path = str(tmp_path / "c.zarr")
    xds_to_zarr(df, path, row_chunk=128,
                compressor={"id": "zlib", "level": 5})
    register_python_sources(spark)
    r = spark.read.format("zarr").load(path)
    assert r.count() == 500
    got = {x.ROWID: x.V for x in r.where("ROWID IN (0, 499)").collect()}
    assert got == {0: 0.0, 499: 1497.0}


def _agree(fmt, api):
    """Same Spark types, rows and values from both read surfaces."""
    assert [(f.name, f.dataType) for f in fmt.schema] == \
        [(f.name, f.dataType) for f in api.schema]
    assert fmt.orderBy("ROWID").collect() == api.orderBy("ROWID").collect()


@pytest.mark.parametrize("layout", [
    {}, {"compressor": {"id": "zlib", "level": 3}},
    {"cell_chunks": {"DATA": 4, "FLAG": 2}}])
def test_zarr_surfaces_agree(spark, tmp_path, layout):
    """``spark.read.format("zarr")`` and ``xds_from_zarr`` read the
    same rows, values and types — whole, and under ROWID bounds —
    from uncompressed, zlib and cell-chunked stores."""
    from dask_ms_spark.sources.zarr import xds_from_zarr

    df = spark.range(500).selectExpr(
        "id AS ROWID", "id / 2.0D AS TIME", "CAST(id % 7 AS int) AS ANT",
        "timestamp_micros(1700000000000000 + id * 1000) AS T",
        "concat('src', CAST(id % 13 AS string)) AS NAME",
        "transform(sequence(0, 5), j -> CAST(id + j / 8.0 AS float)) "
        "AS DATA",
        "transform(sequence(0, 2), j -> (id + j) % 3 = 0) AS FLAG")
    path = str(tmp_path / "s.zarr")
    xds_to_zarr(df, path, row_chunk=64, **layout)
    register_python_sources(spark)
    (ds,) = xds_from_zarr(spark, path)
    _agree(spark.read.format("zarr").load(path), ds.df)
    bounded = (spark.read.format("zarr").option("rowid_min", "100")
               .option("rowid_max", "300").load(path))
    _agree(bounded, ds.df.where("ROWID BETWEEN 100 AND 300"))
    assert bounded.count() == 201


def test_casa_surfaces_agree(spark):
    """``spark.read.format("casa")`` and ``xds_from_casa`` read the
    same scalar, string, complex and tensor columns — whole, and
    under ROWID bounds."""
    from dask_ms_spark.sources.casa import xds_from_casa
    from dask_ms_spark.sources.pyds import CasaDataSource
    from tests.test_sources import FakeCasaTable

    class FakeCasaSource(CasaDataSource):
        table_factory = staticmethod(FakeCasaTable)

        @classmethod
        def name(cls):
            return "fakecasa"

    spark.dataSource.register(FakeCasaSource)
    (ds,) = xds_from_casa(spark, "/fake/ms", table_factory=FakeCasaTable,
                          row_chunk=10)
    load = spark.read.format("fakecasa").option("row_chunk", "10")
    _agree(load.load("/fake/ms"), ds.df)
    bounded = (load.option("rowid_min", "13").option("rowid_max", "27")
               .load("/fake/ms"))
    _agree(bounded, ds.df.where("ROWID BETWEEN 13 AND 27"))
    assert bounded.count() == 15
