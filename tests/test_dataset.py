"""Dataset facade tests (reference model: daskms/tests/test_ms_read_and_update.py).

The oracle style mirrors the reference's raw-TAQL comparisons
(test_ms_read_and_update.py:61-89): re-run the same relational work
directly on the DataFrame and compare.
"""

from pyspark.sql import functions as F

from dask_ms_spark.dataset import Dataset, concat, partition_datasets
from dask_ms_spark.types import PARTITION_KEY


def test_partition_datasets_groups(lineitem):
    dss = partition_datasets(lineitem, group_cols=["l_returnflag"])
    flags = sorted(ds.attrs["l_returnflag"] for ds in dss)
    expected = sorted(
        r[0] for r in lineitem.select("l_returnflag").distinct().collect())
    assert flags == expected
    # per-partition rowcounts sum to the table
    assert sum(ds.df.count() for ds in dss) == lineitem.count()
    # partition key records (col, dtype)
    assert dss[0].attrs[PARTITION_KEY] == (("l_returnflag", "string"),)


def test_partition_datasets_where_and_columns(lineitem):
    dss = partition_datasets(
        lineitem, group_cols=["l_linestatus"], where="l_quantity > 45",
        columns=["l_orderkey", "l_quantity"])
    for ds in dss:
        assert ds.columns == ["l_orderkey", "l_quantity"]
        assert ds.df.where("l_quantity <= 45").count() == 0
    total = lineitem.where("l_quantity > 45").count()
    assert sum(ds.df.count() for ds in dss) == total


def test_partition_datasets_ungrouped(lineitem):
    [ds] = partition_datasets(lineitem, group_cols=[])
    assert ds.attrs == {}
    assert ds.df.count() == lineitem.count()


def test_concat_reexpands_group_columns(orders):
    dss = partition_datasets(orders, group_cols=["o_orderstatus"])
    back = concat(dss)
    assert back.count() == orders.count()
    # group column re-materialised with correct values
    orig = sorted(
        tuple(r) for r in
        orders.groupBy("o_orderstatus").count().collect())
    round_trip = sorted(
        tuple(r) for r in back.groupBy("o_orderstatus").count().collect())
    assert orig == round_trip


def test_compute_and_aliases(nation):
    """Reference-parity surface: xds_from_table alias + compute()."""
    import dask_ms_spark as dms

    assert dms.xds_from_table is dms.xds_from_storage_table
    pdf = Dataset(nation).compute()
    assert len(pdf) == nation.count()
    assert list(pdf.columns) == nation.columns


def test_tensor_field_metadata_roundtrip(spark, tmp_path):
    """§1.2 dims/shape metadata on tensor columns survives a parquet
    round trip (the reference's arrow extension-type metadata,
    daskms/experimental/arrow/extension_types.py:54-90)."""
    from pyspark.sql.types import FloatType, LongType, StructField, StructType

    from dask_ms_spark.types import field_dims, field_shape, tensor_field

    schema = StructType([
        StructField("row", LongType()),
        tensor_field("DATA", FloatType(), dims=("chan", "corr"),
                     shape=(4, 2)),
    ])
    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [2.0] * 8)], schema)
    store = str(tmp_path / "tensor")
    df.write.parquet(store)
    back = spark.read.parquet(store)
    f = back.schema["DATA"]
    assert field_dims(f) == ("chan", "corr")
    assert field_shape(f) == (4, 2)


def test_group_by_row(nation):
    """G2 '__row__' grouping (daskms/dask_ms.py:165-177): one dataset
    per row, for small non-uniform subtables."""
    from dask_ms_spark.dataset import GROUP_BY_ROW

    dss = partition_datasets(nation, group_cols=[GROUP_BY_ROW])
    assert len(dss) == nation.count()
    assert all(ds.df.count() == 1 for ds in dss[:3])
    keys = sorted(ds.df.first().n_nationkey for ds in dss)
    assert keys == sorted(r.n_nationkey for r in nation.collect())
    # r9 review fixes: attrs[ROWID] is DENSE 0..N-1 (the repo-wide
    # ROWID convention, NOT partition-encoded ids), index_cols orders
    # the per-row datasets, columns projects
    from dask_ms_spark.types import ROWID

    dss = partition_datasets(nation, group_cols=[GROUP_BY_ROW],
                             index_cols=["n_name"],
                             columns=["n_name", "n_nationkey"])
    assert [ds.attrs[ROWID] for ds in dss] == list(range(len(dss)))
    names = [ds.df.first().n_name for ds in dss]
    assert names == sorted(names)
    assert sorted(dss[0].df.columns) == sorted(
        ["n_name", "n_nationkey", ROWID])


def test_dataset_assign_select_where(lineitem):
    ds = Dataset(lineitem)
    out = (ds.assign(double_qty=F.col("l_quantity") * 2)
             .where("l_quantity >= 49")
             .select("l_orderkey", "double_qty"))
    rows = out.df.collect()
    assert rows and all(r.double_qty >= 98 for r in rows)


def test_group_order_equals_order_by(spark):
    """Groups come out in ``orderBy`` order: NULLs first, NaN last,
    negative numbers, mixed-case strings, two group columns."""
    nan = float("nan")
    rows = [(x, s) for x in (None, nan, -2.5, -0.5, 0.0, 3.0, 1e9)
            for s in (None, "b", "B", "a", "Zed", "")]
    df = spark.createDataFrame(rows * 3, "x double, s string") \
        .repartition(4)
    dss = partition_datasets(df, group_cols=["x", "s"])
    want = df.select("x", "s").distinct().orderBy("x", "s").collect()
    got = [(ds.attrs["x"], ds.attrs["s"]) for ds in dss]
    assert len(got) == len(rows)
    assert [tuple(map(repr, g)) for g in got] == \
        [tuple(map(repr, w)) for w in want]
    assert dss[0].attrs[PARTITION_KEY] == (("x", "double"),
                                           ("s", "string"))
    for ds in dss[:8]:
        assert ds.df.count() == 3


def test_group_discovery_starts_two_jobs(spark, tmp_path):
    """A grouped read of an unchanged store starts at most two jobs
    before its action: no schema inference, and the distinct groups
    are sorted in one task, not by a range-partitioned sort."""
    from dask_ms_spark import xds_from_table
    from tests.conftest import jobs_in

    store = str(tmp_path / "grouped.parquet")
    spark.range(0, 400, 1, 4).selectExpr(
        "id", "id % 3 AS g", "CAST(id % 2 AS string) AS h") \
        .write.parquet(store)

    def read():
        return xds_from_table(spark, store, group_cols=["g", "h"],
                              index_cols=["id"])

    read()
    dss, n = jobs_in(spark, "grouped-read", read)
    assert n <= 2
    assert [(ds.attrs["g"], ds.attrs["h"]) for ds in dss] == \
        [(0, "0"), (0, "1"), (1, "0"), (1, "1"), (2, "0"), (2, "1")]
