"""Operator tests: joins, ordering, grouping, overlay/fragments."""

import os

from pyspark.sql import functions as F

from dask_ms_spark.operators.grouping import group_metadata
from dask_ms_spark.operators.joins import (anti_filter, broadcast_lookup,
                                           semi_filter)
from dask_ms_spark.operators.ordering import attach_rowid, group_rank, top_k
from dask_ms_spark.operators.overlay import (consolidate, get_ancestry,
                                             overlay, read_fragment,
                                             rebase_fragment, write_fragment)


def test_attach_rowid_is_dense_and_ordered(lineitem):
    df = attach_rowid(lineitem, ["l_orderkey", "l_linenumber"])
    rows = df.select("ROWID", "l_orderkey", "l_linenumber") \
             .orderBy("ROWID").collect()
    assert [r.ROWID for r in rows] == list(range(len(rows)))
    keys = [(r.l_orderkey, r.l_linenumber) for r in rows]
    assert keys == sorted(keys)


def test_group_rank_matches_lexsort(lineitem):
    df = lineitem.where("l_quantity >= 49")
    ranked = group_rank(df, ["l_returnflag"],
                        ["l_shipdate", "l_orderkey", "l_linenumber"])
    for flag_rows in ranked.groupBy("l_returnflag").agg(
            F.collect_list(F.struct("rank", "l_shipdate", "l_orderkey",
                                    "l_linenumber")).alias("rs")).collect():
        rs = sorted(flag_rows.rs, key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        keys = [(r.l_shipdate, r.l_orderkey, r.l_linenumber) for r in rs]
        assert keys == sorted(keys)


def test_top_k(orders):
    out = top_k(orders, ["o_orderstatus"],
                [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
                k=3, rank_name="rn")
    per_group = out.groupBy("o_orderstatus").count().collect()
    assert all(r["count"] <= 3 for r in per_group)
    # top-1 really is the max
    status, best = out.where("rn = 1").select(
        "o_orderstatus", "o_totalprice").first()
    true_max = orders.where(F.col("o_orderstatus") == status) \
                     .agg(F.max("o_totalprice")).first()[0]
    assert best == true_max


def test_group_metadata(lineitem):
    df = attach_rowid(lineitem, ["l_orderkey", "l_linenumber"])
    meta = group_metadata(df, ["l_returnflag"], rowid="ROWID")
    got = {r.l_returnflag: (r.group_count, r.exemplar_rowid)
           for r in meta.collect()}
    oracle = df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.min("ROWID").alias("x")).collect()
    assert got == {r.l_returnflag: (r.n, r.x) for r in oracle}


def test_semi_anti_partition_table(customer, orders):
    with_orders = semi_filter(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey")
    without = anti_filter(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey")
    assert with_orders.count() + without.count() == customer.count()
    assert with_orders.join(without, "c_custkey", "inner").count() == 0


def test_broadcast_lookup_values(customer, nation):
    dim = nation.withColumnRenamed("n_nationkey", "c_nationkey")
    j = broadcast_lookup(customer, dim, "c_nationkey")
    assert j.count() == customer.count()
    sample = j.select("c_nationkey", "n_name").distinct().collect()
    truth = {r.n_nationkey: r.n_name for r in nation.collect()}
    assert all(truth[r.c_nationkey] == r.n_name for r in sample)


def test_star_join_helper(spark, customer, nation):
    """star_join chains prefix-renamed broadcast lookups (the
    reference's ddid -> spw/pol chained lookups,
    examples/ms_subtable_join.py:60-61)."""
    from dask_ms_spark.operators.joins import star_join

    region = spark.read.parquet(
        "/root/testdata/sf0.001/region.parquet")
    dims = {
        "nat": (nation.withColumnRenamed("n_nationkey", "c_nationkey"),
                "c_nationkey"),
    }
    j = star_join(customer, dims)
    assert j.count() == customer.count()
    assert "nat_n_name" in j.columns  # payload prefixed, key not
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_star_join_broadcasts(customer, nation):
    """Plan shape: dimension lookups must be broadcast hash joins, not
    shuffle joins (golden-plan analogue of the reference's TAQL string
    tests, daskms/tests/test_ordering.py:32-117)."""
    dim = nation.withColumnRenamed("n_nationkey", "c_nationkey")
    j = broadcast_lookup(customer, dim, "c_nationkey")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_overlay_fragment_wins(orders):
    base = orders.withColumn("ROWID", F.col("o_orderkey"))
    frag = (base.where("o_orderstatus = 'O'")
                .select("ROWID", F.lit(-1.0).alias("o_totalprice")))
    merged = overlay(base, frag, key="ROWID")
    assert merged.count() == base.count()
    n_open = base.where("o_orderstatus = 'O'").count()
    assert merged.where("o_totalprice = -1.0").count() == n_open
    # non-fragment rows untouched
    untouched = merged.where("o_orderstatus <> 'O'") \
        .join(base.where("o_orderstatus <> 'O'")
              .select("ROWID", F.col("o_totalprice").alias("orig")), "ROWID")
    assert untouched.where("o_totalprice <> orig").count() == 0


def test_fragment_roundtrip_and_ancestry(spark, orders, tmp_path):
    root_store = str(tmp_path / "root")
    frag1 = str(tmp_path / "frag1")
    frag2 = str(tmp_path / "frag2")

    base = orders.withColumn("ROWID", F.col("o_orderkey")) \
                 .select("ROWID", "o_totalprice", "o_orderstatus")
    base.write.parquet(root_store)

    f1 = base.where("o_orderstatus = 'O'") \
             .select("ROWID", F.lit(1.0).alias("o_totalprice"))
    write_fragment(f1, frag1, parent=root_store)
    f2 = base.where("o_orderstatus = 'F'") \
             .select("ROWID", F.lit(2.0).alias("o_totalprice"))
    write_fragment(f2, frag2, parent=frag1)

    assert get_ancestry(frag2) == [root_store, frag1, frag2]

    merged = read_fragment(spark, frag2)
    n_o = base.where("o_orderstatus = 'O'").count()
    n_f = base.where("o_orderstatus = 'F'").count()
    assert merged.where("o_totalprice = 1.0").count() == n_o
    assert merged.where("o_totalprice = 2.0").count() == n_f
    assert merged.count() == base.count()

    # rebase: skip frag1 -> only frag2's overlay applies
    rebase_fragment(frag2, root_store)
    assert get_ancestry(frag2) == [root_store, frag2]
    merged2 = read_fragment(spark, frag2)
    assert merged2.where("o_totalprice = 1.0").count() == 0
    assert merged2.where("o_totalprice = 2.0").count() == n_f


def test_fragment_chain_reread_starts_no_job(spark, tmp_path):
    """Re-reading an unchanged fragment chain starts no Spark job: every
    store of the chain opens with the schema memoised on first read,
    and the values are the same."""
    from tests.conftest import jobs_in

    root, frag = str(tmp_path / "root"), str(tmp_path / "frag")
    spark.range(20).selectExpr("id AS ROWID", "id * 1.0 AS v") \
        .write.parquet(root)
    write_fragment(spark.range(5).selectExpr("id AS ROWID", "-1.0 AS v"),
                   frag, parent=root)
    first = read_fragment(spark, frag)
    again, n = jobs_in(spark, "fragment-reread",
                       lambda: read_fragment(spark, frag))
    assert n == 0
    assert sorted(again.collect()) == sorted(first.collect())
    assert again.where("v < 0").count() == 5


def test_consolidate_later_fragment_wins(spark, orders):
    base = orders.withColumn("ROWID", F.col("o_orderkey")) \
                 .select("ROWID", "o_totalprice")
    fa = base.limit(10).select("ROWID", F.lit(10.0).alias("o_totalprice"))
    fb = base.limit(5).select("ROWID", F.lit(20.0).alias("o_totalprice"))
    out = consolidate([base, fa, fb])
    assert out.where("o_totalprice = 20.0").count() == 5
    assert out.where("o_totalprice = 10.0").count() == 5


def test_asof_join_matches_naive_range_join(spark):
    from dask_ms_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (1, 5.0), (2, 7.0), (3, 1.0)],
        "k long, t double")
    right = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 15.0, "b"), (2, 3.0, "c"), (4, 1.0, "d")],
        "k long, t double, v string")
    out = {(r.k, r.t): (r.v, r.t_r)
           for r in asof_join(left, right, on="t", by="k").collect()}
    # equality matches (t=10 picks the t=10 right row), latest wins,
    # no-match rows keep NULLs
    assert out[(1, 10.0)] == ("a", 10.0)
    assert out[(1, 20.0)] == ("b", 15.0)
    assert out[(1, 5.0)] == (None, None)
    assert out[(2, 7.0)] == ("c", 3.0)
    assert out[(3, 1.0)] == (None, None)
    assert len(out) == 5


def test_asof_join_tolerance(spark):
    from dask_ms_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100.0)], "k long, t double")
    right = spark.createDataFrame([(1, 10.0, "old")],
                                  "k long, t double, v string")
    hit = asof_join(left, right, on="t", by="k", tolerance=95.0).collect()
    assert hit[0].v == "old"
    miss = asof_join(left, right, on="t", by="k", tolerance=50.0).collect()
    assert miss[0].v is None


def test_salted_join_equals_plain_join(lineitem, orders):
    from dask_ms_spark.operators.joins import salted_join

    dim = orders.select(F.col("o_orderkey").alias("l_orderkey"),
                        "o_orderpriority")
    plain = lineitem.join(dim, "l_orderkey") \
        .groupBy("o_orderpriority").count().collect()
    salted = salted_join(lineitem, dim, on="l_orderkey", salt=4,
                         fact_salt_cols=["l_partkey", "l_linenumber"]) \
        .groupBy("o_orderpriority").count().collect()
    assert sorted((r.o_orderpriority, r["count"]) for r in plain) == \
        sorted((r.o_orderpriority, r["count"]) for r in salted)


def test_range_join_matches_naive(spark):
    from dask_ms_spark.operators.joins import range_join

    pts = spark.createDataFrame([(i, float(i)) for i in range(50)],
                                "pid long, p double")
    ivs = spark.createDataFrame(
        [(100, 3.0, 7.0), (101, 6.5, 20.0), (102, 45.0, 99.0),
         (103, -5.0, 0.5)],
        "iid long, s double, e double")
    got = sorted((r.pid, r.iid) for r in
                 range_join(pts, ivs, "p", "s", "e", bucket_width=5.0)
                 .select("pid", "iid").collect())
    naive = sorted((r.pid, r.iid) for r in
                   pts.crossJoin(ivs)
                   .where("p >= s AND p < e").select("pid", "iid").collect())
    assert got == naive and len(got) > 0


def test_connected_components_chain_and_isolates(spark):
    from dask_ms_spark.operators.graph import connected_components

    # chain 1-2-3 (transitive: 1~3 never listed), pair 10-11, isolate 99
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)],
                                  "id long")
    got = {r.id: r.component
           for r in connected_components(edges, nodes=nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_pagerank_matches_reference_iteration(spark):
    """Two quantised power iterations vs a direct numpy computation on
    a known graph; isolated nodes take the teleport rank; hub ranks
    highest."""
    import numpy as np

    from dask_ms_spark.operators.graph import pagerank

    # star: 1 is the hub of {2,3,4}; 5-6 an isolated pair; 9 isolated
    edge_rows = [(2, 1), (3, 1), (4, 1), (5, 6)]
    edges = spark.createDataFrame(edge_rows, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6, 9)],
                                  "id long")
    got = {r.id: r.rank for r in
           pagerank(edges, nodes=nodes).collect()}

    import pytest

    # reference: same quantised arithmetic
    scale = 1 << 20
    adj = {1: [2, 3, 4], 2: [1], 3: [1], 4: [1], 5: [6], 6: [5]}
    rank = {n: 1.0 for n in adj}
    for _ in range(2):
        contrib = {n: 0 for n in adj}
        for s, outs in adj.items():
            q = round(rank[s] / len(outs) * scale)
            for d in outs:
                contrib[d] += q
        rank = {n: 0.15 + 0.85 * contrib[n] / scale for n in adj}
    for n, want in rank.items():
        assert got[n] == pytest.approx(want, abs=1e-12)
    assert got[9] == pytest.approx(0.15, abs=1e-12)
    assert got[1] == max(got.values())
    assert abs(got[5] - got[6]) < 1e-12


def test_zorder_key_matches_python_interleave(spark):
    from pyspark.sql import Row

    from dask_ms_spark.operators.ordering import zorder_key

    def py_z(x, y, bits=16):
        x = max(0, min(x, (1 << bits) - 1))
        y = max(0, min(y, (1 << bits) - 1))
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [Row(i=i, x=x, y=y) for i, (x, y) in enumerate(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535),
         (70000, -4), (12345, 999)])]
    out = spark.createDataFrame(rows).select(
        "i", "x", "y", zorder_key(["x", "y"]).alias("z")).collect()
    for r in out:
        assert r.z == py_z(r.x, r.y), (r.x, r.y)


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Range-partitioning on the z-key gives every output file a tight
    min/max range in BOTH source columns, so a predicate on either
    prunes files; a single-column sort only bounds its own column."""
    import itertools

    from pyspark.sql import Row

    from dask_ms_spark.operators.ordering import zorder_key
    from dask_ms_spark.sources.parquet import compact_parquet

    rows = [Row(a=a, b=b) for a, b in
            itertools.product(range(64), range(64))]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows).withColumn(
        "z", zorder_key(["a", "b"], bits=6)) \
        .write.parquet(src)
    out = str(tmp_path / "z")
    n = compact_parquet(spark, src, out, sort_cols=["z"],
                        target_files=16)
    assert n >= 8
    import glob

    import pyarrow.parquet as pq

    spans_a, spans_b = [], []
    for f in glob.glob(out + "/*.parquet"):
        t = pq.read_table(f, columns=["a", "b"])
        a, b = t.column("a").to_pylist(), t.column("b").to_pylist()
        spans_a.append(max(a) - min(a))
        spans_b.append(max(b) - min(b))
    # every file covers a bounded window of BOTH dimensions: the mean
    # span is well under the full 0-63 range in each
    assert sum(spans_a) / len(spans_a) < 40
    assert sum(spans_b) / len(spans_b) < 40


def test_tensor_row_average_matches_numpy(spark):
    """Cross-row masked tensor mean (MS time/baseline averaging):
    numpy oracle per cell, NULL for never-unflagged cells, ragged
    groups raise."""
    import numpy as np
    import pytest
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from dask_ms_spark.operators.grouping import tensor_row_average

    rows = [
        Row(bl=1, vec=[1.0, 2.0, 3.0], m=[True, True, False]),
        Row(bl=1, vec=[5.0, 6.0, 7.0], m=[True, False, False]),
        Row(bl=1, vec=[9.0, 10.0, 11.0], m=[False, True, False]),
        Row(bl=2, vec=[4.0, 4.0, 4.0], m=[True, True, True]),
    ]
    df = spark.createDataFrame(
        rows, "bl long, vec array<double>, m array<boolean>")
    out = {r.bl: r for r in tensor_row_average(
        df, ["bl"], "vec", "m").collect()}
    assert out[1].vec_mean[0] == (1.0 + 5.0) / 2
    assert out[1].vec_mean[1] == (2.0 + 10.0) / 2
    assert out[1].vec_mean[2] is None          # flagged everywhere
    assert out[1].n_rows == 3
    assert out[2].vec_mean == [4.0, 4.0, 4.0]

    # unmasked variant == plain element mean
    un = {r.bl: r.vec_mean for r in tensor_row_average(
        df, ["bl"], "vec").collect()}
    assert un[1] == [5.0, 6.0, 7.0]

    ragged = df.unionByName(spark.createDataFrame(
        [Row(bl=1, vec=[1.0], m=[True])],
        "bl long, vec array<double>, m array<boolean>"))
    with pytest.raises(Exception, match="ragged|ASSERT|raise"):
        tensor_row_average(ragged, ["bl"], "vec", "m").collect()


def test_bda_factor_clamps(spark):
    """Averaging factor: floor(ref/uv) clamped to [1, max]; uv=0
    (autocorrelation) caps; NULL/negative uv raises."""
    import pytest
    from pyspark.sql import functions as F

    from dask_ms_spark.operators.bda import bda_factor

    df = spark.createDataFrame(
        [(0.0,), (40.0,), (100.0,), (350.0,), (800.0,), (5000.0,)],
        "uv double")
    out = [r.f for r in df.select(bda_factor(
        F.col("uv"), ref_uvdist=800.0, max_factor=8).alias("f"))
        .collect()]
    assert out == [8, 8, 8, 2, 1, 1]

    bad = spark.createDataFrame([(-1.0,)], "uv double")
    with pytest.raises(Exception, match="negative|NULL"):
        bad.select(bda_factor(F.col("uv"), 800.0).alias("f")).collect()
    with pytest.raises(ValueError, match="ref_uvdist"):
        bda_factor(F.col("uv"), 0.0)
    with pytest.raises(ValueError, match="max_factor"):
        bda_factor(F.col("uv"), 10.0, max_factor=0)


def test_bda_average_matches_python_model(spark):
    """BDA: long baseline keeps fine bins, short baseline averages
    more rows per bin; DATA means honour FLAG (true = bad); TIME
    centroid and weight sums match a per-bin python model."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import bda_average

    # two baselines: bl 1 short (uv 100 -> factor 8, width 16s),
    # bl 2 long (uv 800 -> factor 1, width 2s); 8 rows each, 2s apart
    rows = []
    for bl, uv in ((1, 100.0), (2, 800.0)):
        for i in range(8):
            rows.append(Row(
                bl=bl, uv=uv, time=2.0 * i, w=1.0 + (i % 2),
                data=[float(bl * 10 + i), float(i)],
                flag=[i % 4 == 0, False]))
    df = spark.createDataFrame(
        rows, "bl long, uv double, time double, w double, "
              "data array<double>, flag array<boolean>")
    out = bda_average(df, "time", ["bl"], "uv",
                      base_interval=2.0, ref_uvdist=800.0, max_factor=8,
                      data_col="data", flag_col="flag", weight_col="w")
    got = {(r.bl, r.bin): r for r in out.collect()}

    # short baseline: all 8 rows in one 16s bin
    r1 = got[(1, 0)]
    assert r1.n_rows == 8 and r1.factor == 8
    assert r1.time_centroid == sum(2.0 * i for i in range(8)) / 8
    assert r1.weight_sum == sum(1.0 + (i % 2) for i in range(8))
    # element 0: rows i=0,4 flagged -> mean over i in {1,2,3,5,6,7}
    keep = [i for i in range(8) if i % 4 != 0]
    assert r1.data_mean[0] == sum(10.0 + i for i in keep) / len(keep)
    assert r1.data_mean[1] == sum(range(8)) / 8
    assert r1.flag == [False, False]

    # long baseline: one row per 2s bin, 8 bins
    bins2 = [k for k in got if k[0] == 2]
    assert len(bins2) == 8
    r2 = got[(2, 0)]          # its single row i=0 is flagged at elem 0
    assert r2.n_rows == 1 and r2.factor == 1
    assert r2.data_mean[0] is None and r2.flag[0] is True
    assert r2.data_mean[1] == 0.0 and r2.flag[1] is False

    # scalar-only spelling (no data column)
    slim = bda_average(df, "time", ["bl"], "uv",
                       base_interval=2.0, ref_uvdist=800.0,
                       max_factor=8)
    assert {c for c in slim.columns} == {
        "bl", "bin", "time_centroid", "factor", "n_rows"}
    assert slim.count() == 9


def test_flag_summary(spark):
    """flagstats QA: per-group visibility/flagged counts without any
    explode (map-side fold, single group exchange)."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import flag_summary

    df = spark.createDataFrame([
        Row(bl=1, flag=[True, False, True]),
        Row(bl=1, flag=[False, False, False]),
        Row(bl=2, flag=[True, True, True]),
    ], "bl long, flag array<boolean>")
    got = {r.bl: r for r in flag_summary(df, ["bl"], "flag").collect()}
    assert got[1].n_vis == 6 and got[1].n_flagged == 2
    assert got[1].flag_frac == 2 / 6
    assert got[2].flag_frac == 1.0
    # no Generate (explode) node in the plan
    plan = flag_summary(df, ["bl"], "flag") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan


def test_interpolate_linear(spark):
    """Linear gap interpolation: interior NULLs blend the flanking
    observations by position; edge NULLs stay NULL; non-null rows
    pass through; one exchange in the plan (shared window sort)."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.timeseries import interpolate_linear

    rows = [Row(k="a", b=0, v=1.0), Row(k="a", b=1, v=None),
            Row(k="a", b=2, v=None), Row(k="a", b=3, v=4.0),
            Row(k="a", b=4, v=None),
            Row(k="b", b=0, v=None), Row(k="b", b=1, v=7.0)]
    df = spark.createDataFrame(rows, "k string, b long, v double")
    out = interpolate_linear(df, ["k"], "b", "v")
    got = {(r.k, r.b): r.v_interp for r in out.collect()}
    assert got[("a", 0)] == 1.0
    assert got[("a", 1)] == 2.0
    assert got[("a", 2)] == 3.0
    assert got[("a", 3)] == 4.0
    assert got[("a", 4)] is None          # no later observation
    assert got[("b", 0)] is None          # no earlier observation
    assert got[("b", 1)] == 7.0
    # AQE's post-execution toString repeats the plan ("Initial Plan"
    # section); count exchanges in the final section only
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1


def test_crossmatch_sky_matches_allpairs(spark):
    """Zones cross-match equals the exact all-pairs answer (the
    bucketing is pure pruning), including ra wrap-around at 0/360;
    nearest mode keeps the closest match; polar rows raise."""
    import math

    import numpy as np
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.crossmatch import crossmatch_sky

    rng = np.random.RandomState(13)
    # clustered sources straddling the ra wrap and a range of decs
    base = [(float(ra % 360.0), float(dec)) for ra, dec in zip(
        np.concatenate([rng.uniform(-2, 2, 30) % 360,
                        rng.uniform(0, 360, 40)]),
        rng.uniform(-60, 60, 70))]
    left = [Row(id=i, ra=ra, dec=dec)
            for i, (ra, dec) in enumerate(base)]
    # right = perturbed copies (some inside, some outside the radius)
    right = [Row(id=1000 + i,
                 ra=float((ra + 0.3 * ((i % 5) - 2) / 3) % 360.0),
                 dec=float(dec + 0.3 * ((i % 3) - 1) / 3))
             for i, (ra, dec) in enumerate(base)]
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    radius = 0.25

    def sep(p, q):
        ra1, dec1, ra2, dec2 = map(math.radians,
                                   (p[0], p[1], q[0], q[1]))
        a = (math.sin((dec2 - dec1) / 2) ** 2
             + math.cos(dec1) * math.cos(dec2)
             * math.sin((ra2 - ra1) / 2) ** 2)
        return math.degrees(2 * math.asin(math.sqrt(a)))

    want = {(i, 1000 + j)
            for i, p in enumerate(base)
            for j, q in enumerate(
                [(r.ra, r.dec) for r in right])
            if sep(p, q) <= radius}
    got = crossmatch_sky(ldf, rdf, radius, max_abs_dec=61.0)
    got_pairs = {(r.left_id, r.right_id) for r in got.collect()}
    assert got_pairs == want and len(want) > 30

    near = crossmatch_sky(ldf, rdf, radius, max_abs_dec=61.0,
                          nearest=True).collect()
    assert len(near) == len({p[0] for p in want})
    by_left = {}
    for (i, j) in want:
        d = sep(base[i], (right[j - 1000].ra, right[j - 1000].dec))
        cur = by_left.get(i)
        if cur is None or (d, j) < cur:
            by_left[i] = (d, j)
    for r in near:
        assert r.right_id == by_left[r.left_id][1]

    polar = spark.createDataFrame([Row(id=0, ra=10.0, dec=75.0)])
    with pytest.raises(Exception, match="max_abs_dec"):
        crossmatch_sky(polar, rdf, radius, max_abs_dec=61.0).collect()


def test_bda_weighted_data_mean(spark):
    """weight_data=True: cells carry the WEIGHT-weighted mean
    sum(w*v)/sum(w) over unflagged samples; zero total weight yields
    NULL; the unweighted spelling is the w=const special case."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import bda_average

    rows = [
        Row(bl=1, uv=800.0, time=0.0, w=1.0,
            data=[10.0, 0.0], flag=[False, False]),
        Row(bl=1, uv=800.0, time=1.0, w=3.0,
            data=[20.0, 0.0], flag=[False, True]),
        Row(bl=1, uv=800.0, time=1.5, w=0.0,
            data=[99.0, 5.0], flag=[False, True]),
    ]
    df = spark.createDataFrame(
        rows, "bl long, uv double, time double, w double, "
              "data array<double>, flag array<boolean>")
    out = bda_average(df, "time", ["bl"], "uv", base_interval=4.0,
                      ref_uvdist=800.0, data_col="data",
                      flag_col="flag", weight_col="w",
                      weight_data=True).collect()[0]
    # elem 0: (1*10 + 3*20 + 0*99) / (1+3+0) = 17.5
    assert out.data_mean[0] == 17.5
    # elem 1: only row 0 unflagged -> 1*0 / 1 = 0
    assert out.data_mean[1] == 0.0
    assert out.weight_sum == 4.0

    # all contributing weights zero -> NULL cell, flagged
    z = spark.createDataFrame(
        [Row(bl=1, uv=800.0, time=0.0, w=0.0,
             data=[1.0], flag=[False])],
        "bl long, uv double, time double, w double, "
        "data array<double>, flag array<boolean>")
    rz = bda_average(z, "time", ["bl"], "uv", base_interval=4.0,
                     ref_uvdist=800.0, data_col="data",
                     flag_col="flag", weight_col="w",
                     weight_data=True).collect()[0]
    assert rz.data_mean[0] is None and rz.flag[0] is True

    with pytest.raises(ValueError, match="weight_col"):
        bda_average(df, "time", ["bl"], "uv", base_interval=4.0,
                    ref_uvdist=800.0, data_col="data",
                    weight_data=True)


def test_rfi_flag_detects_spikes(spark):
    """RFI flagging: planted spikes on a drifting baseline are
    flagged, the drift itself is not (rolling median removes trend),
    pre-flagged samples stay flagged and are excluded from the
    statistics; plan carries the stats on ONE (baseline, channel)
    exchange."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import rfi_flag

    rows = []
    for t in range(64):
        drift = 0.1 * t                     # slow trend: must survive
        x0 = drift + (50.0 if t in (10, 40) else 0.0)   # RFI spikes
        x1 = (t % 4) * 0.5                  # benign ripple
        rows.append(Row(bl=1, t=float(t),
                        data=[x0, x1],
                        flag=[False, t == 5]))
    df = spark.createDataFrame(
        rows, "bl long, t double, data array<double>, "
              "flag array<boolean>")
    out = rfi_flag(df, "t", ["bl"], "data", "flag",
                   window=4, k=6.0)
    got = {r.t: r for r in out.collect()}
    assert len(got) == 64
    # spikes flagged, their neighbours not
    assert got[10.0].flag_rfi[0] is True
    assert got[40.0].flag_rfi[0] is True
    assert got[11.0].flag_rfi[0] is False
    assert got[9.0].flag_rfi[0] is False
    # the drift alone never flags channel 0 elsewhere
    others = [got[float(t)].flag_rfi[0] for t in range(64)
              if t not in (10, 40)]
    assert not any(others)
    # channel 1 ripple stays within k * 1.4826 * MAD: never flagged
    # except the pre-flag, which persists and counts as not-new
    assert got[5.0].flag_rfi[1] is True
    assert sum(r.flag_rfi[1] for r in got.values()) == 1
    assert sum(r.n_flagged_new for r in got.values()) == 2
    # one exchange feeds all three window stats
    plan = out._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 2     # stats + reassembly


def test_gain_solve_recovers_true_gains(spark):
    """antsol on noiseless V_pq = g_p conj(g_q): iterating converges
    toward the true gains up to the global phase gauge — check the
    gauge-invariant products g_p conj(g_q) instead of raw gains;
    autocorrelations are ignored; parameter validation raises."""
    import cmath

    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import gain_solve

    true_g = {a: complex(1 + 0.1 * (a % 3), 0.05 * a) for a in range(6)}
    rows = []
    for p_ in range(6):
        for q_ in range(p_, 6):       # include an autocorrelation row
            v = true_g[p_] * true_g[q_].conjugate()
            rows.append(Row(antenna1=p_, antenna2=q_,
                            vis=[v.real, v.imag]))
    df = spark.createDataFrame(
        rows, "antenna1 long, antenna2 long, vis array<double>")
    out = {r.antenna: complex(r.gain[0], r.gain[1])
           for r in gain_solve(df, iters=32, damping=0.9).collect()}
    assert set(out) == set(range(6))
    for p_ in range(6):
        for q_ in range(p_ + 1, 6):
            got = out[p_] * out[q_].conjugate()
            want = true_g[p_] * true_g[q_].conjugate()
            assert cmath.isclose(got, want, rel_tol=1e-3), (p_, q_)

    with pytest.raises(ValueError, match="iters"):
        gain_solve(df, iters=0)
    with pytest.raises(ValueError, match="damping"):
        gain_solve(df, damping=0.0)


def test_imaging_weights_modes(spark):
    """uv-density weighting: uniform equalises occupied cells, Briggs
    interpolates between natural (R >> 0) and uniform (R << 0);
    python model checked cell by cell."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.imaging import imaging_weights

    # 3 cells: 4 rows in a dense cell, 1 each in two sparse cells
    rows = [Row(u=0.1, v=0.1, w=2.0), Row(u=0.4, v=0.2, w=1.0),
            Row(u=0.2, v=0.3, w=1.0), Row(u=0.3, v=0.4, w=1.0),
            Row(u=5.1, v=0.1, w=1.0), Row(u=-3.2, v=2.5, w=3.0)]
    df = spark.createDataFrame(rows, "u double, v double, w double")

    nat = imaging_weights(df, "u", "v", 1.0, "w", mode="natural")
    assert {r.imaging_weight for r in nat.collect()} == {2.0, 1.0, 3.0}

    uni = {(r.u, r.v): r for r in imaging_weights(
        df, "u", "v", 1.0, "w", mode="uniform").collect()}
    assert uni[(0.1, 0.1)].n_cell == 4
    # r9 fix: uniform divides by the cell's gridded WEIGHT sum W_k
    # (the CASA definition / briggs R -> -inf limit), not row count
    assert uni[(0.1, 0.1)].imaging_weight == 2.0 / 5.0
    assert uni[(5.1, 0.1)].imaging_weight == 1.0
    assert uni[(-3.2, 2.5)].n_cell == 1

    # python model for briggs (Briggs 1995 / CASA: both the
    # normalisation and the denominator use gridded weight sums W_k,
    # not row counts)
    def briggs(robust):
        cells = {(0, 0): (4, 5.0), (5, 0): (1, 1.0), (-4, 2): (1, 3.0)}
        mean_w = sum(wk * wk for _, wk in cells.values()) \
            / sum(wk for _, wk in cells.values())
        s2 = (5.0 * 10.0 ** (-robust)) ** 2
        return {c: 1.0 + wk * (s2 / mean_w)
                for c, (_, wk) in cells.items()}

    for robust in (-2.0, 0.0, 2.0):
        den = briggs(robust)
        got = {(r.u, r.v): r.imaging_weight for r in imaging_weights(
            df, "u", "v", 1.0, "w", mode="briggs",
            robust=robust).collect()}
        assert abs(got[(0.1, 0.1)] - 2.0 / den[(0, 0)]) < 1e-12
        assert abs(got[(-3.2, 2.5)] - 3.0 / den[(-4, 2)]) < 1e-12
    # R >> 0 approaches natural, R << 0 approaches uniform
    hi = {(r.u, r.v): r.imaging_weight for r in imaging_weights(
        df, "u", "v", 1.0, "w", mode="briggs", robust=4.0).collect()}
    assert abs(hi[(0.1, 0.1)] - 2.0) < 1e-2
    # R << 0 is PROPORTIONAL to weight-normalised uniform w/W_k
    # (overall scale 1/f2): dense cell 2/5 vs sparse 1/1 → 0.4
    lo = {(r.u, r.v): r.imaging_weight for r in imaging_weights(
        df, "u", "v", 1.0, "w", mode="briggs", robust=-4.0).collect()}
    assert abs(lo[(0.1, 0.1)] / lo[(5.1, 0.1)] - 0.4) < 1e-2

    with pytest.raises(ValueError, match="cell_size"):
        imaging_weights(df, "u", "v", 0.0)
    with pytest.raises(ValueError, match="mode"):
        imaging_weights(df, "u", "v", 1.0, mode="superuniform")


def test_sigma_clip_matches_python(spark):
    """Sigma clipping: planted outliers are excluded from the robust
    mean/std, the python model agrees iteration for iteration, and a
    constant group (std 0) keeps everything."""
    import math

    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import sigma_clip

    vals = [10.0 + 0.1 * (i % 7) for i in range(40)] + [500.0, -400.0]
    rows = [Row(g="a", x=v) for v in vals] \
        + [Row(g="b", x=7.0) for _ in range(5)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r.g: r for r in sigma_clip(
        df, "x", ["g"], k=3.0, iters=2,
        quantize_scale=None).collect()}

    def model(xs, k, iters):
        cur = list(xs)
        for _ in range(iters):
            n = len(cur)
            m = sum(cur) / n
            var = (sum(v * v for v in cur) - sum(cur) ** 2 / n) \
                / (n - 1) if n > 1 else 0.0
            sd = math.sqrt(max(var, 0.0))
            if sd == 0:
                break
            cur = [v for v in cur if abs(v - m) <= k * sd]
        n = len(cur)
        m = sum(cur) / n
        var = (sum(v * v for v in cur) - sum(cur) ** 2 / n) \
            / (n - 1) if n > 1 else 0.0
        return m, math.sqrt(max(var, 0.0)), n

    m, sd, nk = model(vals, 3.0, 2)
    assert got["a"].n_in == 42 and got["a"].n_kept == nk
    assert got["a"].clip_mean == pytest.approx(m, rel=1e-12)
    assert got["a"].clip_std == pytest.approx(sd, rel=1e-12)
    assert nk == 40                       # both outliers clipped
    assert got["b"].n_kept == 5 and got["b"].clip_std == 0.0

    with pytest.raises(ValueError, match="iters"):
        sigma_clip(df, "x", ["g"], iters=0)
    with pytest.raises(ValueError, match="k must"):
        sigma_clip(df, "x", ["g"], k=0.0)


def test_tensor_row_average_weight_spectrum(spark):
    """WEIGHT_SPECTRUM semantics: each cell weighs sample i by that
    row's w[i]; zero cell-weight yields NULL; scalar-weight rows
    replicated as constant arrays give identical results."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.grouping import tensor_row_average

    rows = [
        Row(g=1, v=[10.0, 4.0], m=[True, True], ws=[1.0, 0.0], w=2.0),
        Row(g=1, v=[20.0, 6.0], m=[True, True], ws=[3.0, 2.0], w=2.0),
    ]
    df = spark.createDataFrame(
        rows, "g long, v array<double>, m array<boolean>, "
              "ws array<double>, w double")
    out = tensor_row_average(df, ["g"], "v", "m", weight_col="ws",
                             weight_is_spectrum=True).collect()[0]
    # cell 0: (1*10 + 3*20) / 4 = 17.5 ; cell 1: (0*4 + 2*6)/2 = 6
    assert out.v_mean == [17.5, 6.0]

    # all-zero weights in a cell -> NULL
    z = spark.createDataFrame(
        [Row(g=1, v=[5.0], m=[True], ws=[0.0])],
        "g long, v array<double>, m array<boolean>, ws array<double>")
    assert tensor_row_average(z, ["g"], "v", "m", weight_col="ws",
                              weight_is_spectrum=True) \
        .collect()[0].v_mean == [None]

    # constant spectrum == scalar weight
    const = df.selectExpr("g", "v", "m",
                          "array(w, w) as ws", "w")
    a = tensor_row_average(const, ["g"], "v", "m", weight_col="ws",
                           weight_is_spectrum=True).collect()[0].v_mean
    b = tensor_row_average(df, ["g"], "v", "m",
                           weight_col="w").collect()[0].v_mean
    assert a == b


def test_bda_weight_spectrum(spark):
    """BDA with WEIGHT_SPECTRUM: per-cell weighted means ride the
    same plan; scalar path still available."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import bda_average

    rows = [Row(bl=1, uv=800.0, time=0.0, w=1.0,
                data=[10.0], flag=[False], ws=[1.0]),
            Row(bl=1, uv=800.0, time=1.0, w=1.0,
                data=[20.0], flag=[False], ws=[3.0])]
    df = spark.createDataFrame(
        rows, "bl long, uv double, time double, w double, "
              "data array<double>, flag array<boolean>, "
              "ws array<double>")
    out = bda_average(df, "time", ["bl"], "uv", base_interval=4.0,
                      ref_uvdist=800.0, data_col="data",
                      flag_col="flag", weight_col="w",
                      weight_spectrum_col="ws").collect()[0]
    assert out.data_mean == [(10.0 + 60.0) / 4]
    assert out.weight_sum == 2.0


def test_bda_chan_average_xova_shape(spark):
    """Joint time+channel BDA: a factor-4 baseline's 4-channel
    spectrum collapses to one channel (mean of unflagged cells);
    a factor-1 baseline keeps full resolution; all-flagged bins stay
    flagged after channel averaging."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import bda_average

    rows = []
    for bl, uv in ((1, 100.0), (2, 400.0)):
        for i in range(4):
            rows.append(Row(
                bl=bl, uv=uv, time=float(i),
                data=[float(i), float(i + 10), float(i + 20),
                      float(i + 30)],
                flag=[False, False, bl == 1, False]))
    df = spark.createDataFrame(
        rows, "bl long, uv double, time double, "
              "data array<double>, flag array<boolean>")
    out = {r.bl: r for r in bda_average(
        df, "time", ["bl"], "uv", base_interval=4.0, ref_uvdist=400.0,
        max_factor=4, data_col="data", flag_col="flag",
        chan_average=True).collect()}

    r1 = out[1]                       # uv 100 -> factor 4
    assert r1.factor == 4 and len(r1.data_chan_mean) == 1
    # time means per channel: [1.5, 11.5, None(flagged), 31.5];
    # channel bin of 4 -> mean of the 3 unflagged = 14.833...
    want = (1.5 + 11.5 + 31.5) / 3
    assert abs(r1.data_chan_mean[0] - want) < 1e-12
    assert r1.flag_chan == [False]
    assert len(r1.data_mean) == 4     # full resolution retained

    r2 = out[2]                       # uv 400 -> factor 1
    assert r2.factor == 1 and len(r2.data_chan_mean) == 4
    assert r2.data_chan_mean == r2.data_mean


def test_delay_fit_recovers_planted_delay(spark):
    """Fringe fit: vis = exp(2*pi*i*(f*tau + phi0)) recovers tau and
    phi0 to numerical precision even when raw phases wrap many times;
    unwrap matches numpy.unwrap; channel-count mismatch raises."""
    import math

    import numpy as np
    import pytest
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.operators.calibration import (delay_fit,
                                                     unwrap_phases)

    freqs = [1.0e9 + 1.0e6 * i for i in range(32)]
    cases = [(5.0e-9, 0.3), (-2.3e-9, -1.1), (0.0, 0.5)]
    rows = []
    for tau, phi0 in cases:
        vis = []
        for f in freqs:
            ph = 2 * math.pi * f * tau + phi0
            vis += [math.cos(ph), math.sin(ph)]
        rows.append(Row(tau=tau, phi0=phi0, vis=vis))
    df = spark.createDataFrame(rows, "tau double, phi0 double, "
                                     "vis array<double>")
    got = delay_fit(df, "vis", freqs).collect()
    for r in got:
        assert r.delay_fit.delay_s == pytest.approx(r.tau,
                                                    abs=1e-15)
        # phase0 is the intercept mod 2*pi relative to the unwrap
        # branch of channel 0; compare on the circle
        dphi = (r.delay_fit.phase0 - r.phi0) % (2 * math.pi)
        assert min(dphi, 2 * math.pi - dphi) < 1e-9
        assert r.delay_fit.n_chan == 32

    # unwrap parity with numpy on a wrapping ramp
    raw = [float(((0.7 * i + 0.1) + math.pi) % (2 * math.pi)
                 - math.pi) for i in range(20)]
    w = spark.createDataFrame([Row(p=raw)]).select(
        unwrap_phases(F.col("p")).alias("w")).collect()[0].w
    np_w = np.unwrap(np.array(raw))
    assert np.allclose(w, np_w, atol=1e-12)

    bad = spark.createDataFrame([Row(vis=[1.0, 0.0])])
    with pytest.raises(Exception, match="disagrees"):
        delay_fit(bad, "vis", freqs).collect()


def test_closure_phases_gain_independent(spark):
    """Closure phases cancel antenna gains exactly: applying
    arbitrary per-antenna phase gains to V_pq = g_p conj(g_q) S
    leaves every triangle's closure phase equal to the source's own
    (zero for a point source); triangle count = C(n, 3)."""
    import cmath
    import math

    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import closure_phases

    n = 6
    gains = {a: cmath.exp(1j * (0.7 * a * a - 1.2 * a)) * (1 + 0.1 * a)
             for a in range(n)}
    src = cmath.exp(1j * 0.4)          # point source, phase 0.4
    rows = []
    for p_ in range(n):
        for q_ in range(p_ + 1, n):
            v = gains[p_] * gains[q_].conjugate() * src
            rows.append(Row(antenna1=p_, antenna2=q_,
                            vis=[v.real, v.imag]))
    df = spark.createDataFrame(
        rows, "antenna1 long, antenna2 long, vis array<double>")
    got = closure_phases(df).collect()
    assert len(got) == math.comb(n, 3)
    # closure of g_p conj(g_q) S triangles: the gains cancel and the
    # source phases combine as 0.4 + 0.4 - 0.4 = 0.4
    for r in got:
        assert r.closure_phase == pytest.approx(0.4, abs=1e-12)
        assert r.p < r.q < r.r


def test_selfcal_roundtrip(spark):
    """The full self-calibration loop: predict model visibilities for
    a source list, corrupt them with planted antenna gains, SOLVE the
    gains back (model-divided antsol), and verify the corrected
    visibilities match the model up to the phase gauge — the
    measurement-equation cycle end to end."""
    import cmath
    import math

    import pytest
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.operators.calibration import (gain_solve,
                                                     predict_vis)

    # a 2-source sky and a 6-antenna array with synthetic uv per
    # baseline
    sources = [(2.0, 1e-3, -2e-3), (1.0, -3e-3, 1.5e-3)]
    n = 6
    rows = [Row(antenna1=p_, antenna2=q_,
                u=float(50 * (q_ - p_) + 7 * p_),
                v=float(30 * (q_ - p_) - 5 * q_))
            for p_ in range(n) for q_ in range(p_ + 1, n)]
    bl = spark.createDataFrame(rows)
    model = predict_vis(bl, "u", "v", sources)

    # corrupt with planted gains
    g = {a: cmath.exp(1j * (0.4 * a - 0.1 * a * a)) * (1 + 0.07 * a)
         for a in range(n)}
    mrows = model.collect()
    crows = []
    for r in mrows:
        mv = complex(r.model_vis[0], r.model_vis[1])
        cv = g[r.antenna1] * g[r.antenna2].conjugate() * mv
        crows.append(Row(antenna1=r.antenna1, antenna2=r.antenna2,
                         u=r.u, v=r.v,
                         model=[mv.real, mv.imag],
                         vis=[cv.real, cv.imag]))
    corrupted = spark.createDataFrame(crows)

    # model-divided antsol: solving on V/M isolates the gains
    mdiv = corrupted.withColumn("m2",
                                F.element_at("model", 1)
                                * F.element_at("model", 1)
                                + F.element_at("model", 2)
                                * F.element_at("model", 2)) \
        .withColumn("vis", F.array(
            (F.element_at("vis", 1) * F.element_at("model", 1)
             + F.element_at("vis", 2) * F.element_at("model", 2))
            / F.col("m2"),
            (F.element_at("vis", 2) * F.element_at("model", 1)
             - F.element_at("vis", 1) * F.element_at("model", 2))
            / F.col("m2")))
    solved = {r.antenna: complex(r.gain[0], r.gain[1])
              for r in gain_solve(mdiv, iters=48,
                                  damping=0.9).collect()}

    # gauge-invariant check: corrected visibilities == model
    for r in crows:
        cv = complex(r.vis[0], r.vis[1])
        mv = complex(r.model[0], r.model[1])
        corr = cv / (solved[r.antenna1]
                     * solved[r.antenna2].conjugate())
        assert cmath.isclose(corr, mv, rel_tol=5e-3), \
            (r.antenna1, r.antenna2)


def test_grid_visibilities_cells(spark):
    """Cell assignment, hermitian fold, weighted sums, and the
    outside-grid clip checked against hand-computed cells."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.imaging import grid_visibilities

    # nearest-CENTRE convention (r9 fix): iu = floor(u/cell+0.5)+4
    rows = [
        Row(u=0.2, v=0.7, re=1.0, im=2.0, w=2.0),   # cell (4, 5)
        Row(u=0.3, v=0.9, re=3.0, im=-1.0, w=1.0),  # cell (4, 5)
        Row(u=-1.5, v=2.2, re=1.0, im=1.0, w=1.0),  # cell (3, 6)
        Row(u=9.0, v=0.0, re=5.0, im=5.0, w=1.0),   # clipped (iu=13>7)
    ]
    df = spark.createDataFrame(
        rows, "u double, v double, re double, im double, w double")

    g = {(r.iu, r.iv): r for r in grid_visibilities(
        df, "u", "v", "re", "im", cell_size=1.0, npix=8,
        weight_col="w", hermitian=False).collect()}
    assert set(g) == {(4, 5), (3, 6)}
    assert g[(4, 5)].vis_re == 2.0 * 1.0 + 1.0 * 3.0
    assert g[(4, 5)].vis_im == 2.0 * 2.0 + 1.0 * -1.0
    assert g[(4, 5)].wsum == 3.0
    assert g[(4, 5)].n_vis == 2

    # hermitian fold adds the conjugate at (-u, -v) on the exact
    # MIRROR cell of (4, 5) around the (4, 4) origin: (4, 3)
    gh = {(r.iu, r.iv): r for r in grid_visibilities(
        df, "u", "v", "re", "im", cell_size=1.0, npix=8,
        weight_col="w", hermitian=True).collect()}
    assert (4, 3) in gh          # conjugate of the (4, 5) samples
    assert gh[(4, 3)].vis_im == -(2.0 * 2.0 + 1.0 * -1.0)
    assert gh[(4, 3)].vis_re == gh[(4, 5)].vis_re
    # the clipped sample's conjugate (-9, 0) is also outside
    assert all(0 <= iu < 8 and 0 <= iv < 8 for iu, iv in gh)

    with pytest.raises(ValueError, match="cell_size"):
        grid_visibilities(df, "u", "v", "re", "im", 0.0, 8)
    with pytest.raises(ValueError, match="npix"):
        grid_visibilities(df, "u", "v", "re", "im", 1.0, 7)


def test_dirty_image_point_source_roundtrip(spark):
    """predict_vis -> grid_visibilities -> dirty_image recovers a
    point source: with u, v on exact cell centres and (l, m) on the
    FFT lattice the gridded FFT equals the direct DFT, so the image
    is checked pixel-for-pixel against a closed-form numpy model and
    the source peaks at its own flux."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import (dirty_image,
                                                 grid_visibilities,
                                                 psf_image)

    npix, cell = 32, 1.0
    half = npix // 2
    flux, p, q = 2.0, 3, -5          # (l, m) = (p, q) / (npix * cell)
    l, m = p / (npix * cell), q / (npix * cell)
    rng = np.random.RandomState(7)
    ku = rng.randint(-12, 13, size=40)
    kv = rng.randint(-12, 13, size=40)
    df = spark.createDataFrame(
        [Row(u=float(a), v=float(b)) for a, b in zip(ku, kv)],
        "u double, v double")
    vis = predict_vis(df, "u", "v", [(flux, l, m)])
    grid = grid_visibilities(
        vis.select("u", "v",
                   vis.model_vis[0].alias("re"),
                   vis.model_vis[1].alias("im")),
        "u", "v", "re", "im", cell_size=cell, npix=npix,
        hermitian=True)
    img = dirty_image(grid, npix)
    assert img.shape == (npix, npix)

    # closed-form model: img[y, x] = Re[(1/W) sum_j V_j
    #   e^{2 pi i (ku_j (x + half) + kv_j (y + half)) / N}] over both
    # hermitian halves (the exact expansion of
    # fftshift . ifft2 . ifftshift on integer-lattice samples)
    model = np.zeros((npix, npix))
    xs = np.arange(npix)
    ex = np.exp(2j * np.pi * np.outer(ku, xs + half) / npix)
    ey = np.exp(2j * np.pi * np.outer(kv, xs + half) / npix)
    vmod = flux * np.exp(2j * np.pi * (ku * l + kv * m))
    both = (ey[:, :, None] * ex[:, None, :] * vmod[:, None, None])
    model = (both + both.conj()).sum(axis=0).real / (2 * len(ku))
    assert np.allclose(img, model, atol=1e-9)
    assert abs(img.max() - flux) < 1e-9

    # PSF: unit response, peak-normalised to 1 at its maximum
    psf = psf_image(grid, npix)
    assert abs(psf.max() - 1.0) < 1e-12


def test_wstack_recovers_wide_field_source(spark):
    """W-stacking exactness: with u, v on cell centres, w on exact
    plane centres, and (l, m) on the FFT lattice, the per-plane
    image-space corrections cancel the w phases exactly, so the
    stacked image peaks at the source flux at the predicted pixel —
    while the flat (w-ignorant) dirty image decorrelates badly."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import (
        dirty_image, dirty_image_wstack, grid_visibilities,
        grid_visibilities_wstack)

    npix, cell, w_step = 32, 1.0, 2.0
    half = npix // 2
    flux, p, q = 2.0, 3, -5
    l, m = p / (npix * cell), q / (npix * cell)
    rng = np.random.RandomState(11)
    ku = rng.randint(-12, 13, size=60)
    kv = rng.randint(-12, 13, size=60)
    kw = rng.randint(-15, 16, size=60)        # exact plane centres
    df = spark.createDataFrame(
        [Row(u=float(a), v=float(b), w=float(c * w_step))
         for a, b, c in zip(ku, kv, kw)],
        "u double, v double, w double")
    vis = predict_vis(df, "u", "v", [(flux, l, m)], w_col="w")
    sel = vis.select("u", "v", "w",
                     vis.model_vis[0].alias("re"),
                     vis.model_vis[1].alias("im"))

    wg = grid_visibilities_wstack(sel, "u", "v", "w", "re", "im",
                                  cell_size=cell, npix=npix,
                                  w_step=w_step)
    img = dirty_image_wstack(wg, npix, cell_size=cell, w_step=w_step)
    assert img.shape == (npix, npix)
    yx = np.unravel_index(img.argmax(), img.shape)
    assert yx == (half - q, half - p)
    assert abs(img.max() - flux) < 1e-9

    # flat gridding of the same w-bearing data decorrelates the peak
    fg = grid_visibilities(sel, "u", "v", "re", "im",
                           cell_size=cell, npix=npix)
    flat = dirty_image(fg, npix)
    assert flat[half - q, half - p] < 0.9 * flux

    # conjugate-plane pairing: plane indices come in +/- pairs
    planes = {int(r.iw) for r in wg.select("iw").distinct().collect()}
    assert planes == {-iw for iw in planes}

    # exact cell sums on off-centre samples (integer re/im, so any
    # summation order is exact): plane floor(w/step + 0.5), cell
    # floor(u/cell + 0.5) + npix/2, out-of-grid rows clipped, and the
    # hermitian fold adds (-u, -v, -w, re, -im)
    import math

    pts = [(0.4, -1.6, 2.9, 3.0, 1.0), (0.6, -1.4, 3.2, -2.0, 5.0),
           (-3.5, 2.5, -0.9, 7.0, -4.0), (15.7, 0.0, 1.0, 1.0, 1.0),
           (1.49, 1.51, -5.1, 2.0, 2.0)]
    want = {}
    for u, v, w, re, im in pts + [(-u, -v, -w, re, -im)
                                   for u, v, w, re, im in pts]:
        iu, iv = (math.floor(u / 1.0 + 0.5) + 4,
                  math.floor(v / 1.0 + 0.5) + 4)
        if 0 <= iu < 8 and 0 <= iv < 8:
            cell = want.setdefault(
                (math.floor(w / 2.0 + 0.5), iu, iv), [0.0, 0.0, 0.0, 0])
            cell[0] += re
            cell[1] += im
            cell[2] += 1.0
            cell[3] += 1
    small = spark.createDataFrame(
        pts, "u double, v double, w double, re double, im double")
    got = {(r.iw, r.iu, r.iv): [r.vis_re, r.vis_im, r.wsum, r.n_vis]
           for r in grid_visibilities_wstack(
               small, "u", "v", "w", "re", "im", cell_size=1.0, npix=8,
               w_step=2.0).collect()}
    assert got == want


def test_hogbom_clean_recovers_sources(spark):
    """Full imaging chain: predict two point sources -> grid ->
    dirty + psf -> Hogbom CLEAN.  With partial uv coverage the PSF
    has real sidelobes; CLEAN must still localise both sources to
    their exact pixels and recover the flux ratio, and the residual
    must drop well below the weaker source."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import (dirty_image,
                                                 grid_visibilities,
                                                 hogbom_clean,
                                                 psf_image)

    npix, cell = 32, 1.0
    half = npix // 2
    srcs = [(2.0, 3 / 32, -5 / 32), (1.0, -6 / 32, 2 / 32)]
    rng = np.random.RandomState(3)
    ku = rng.randint(-15, 16, size=120)
    kv = rng.randint(-15, 16, size=120)
    df = spark.createDataFrame(
        [Row(u=float(a), v=float(b)) for a, b in zip(ku, kv)],
        "u double, v double")
    vis = predict_vis(df, "u", "v", srcs)
    grid = grid_visibilities(
        vis.select("u", "v", vis.model_vis[0].alias("re"),
                   vis.model_vis[1].alias("im")),
        "u", "v", "re", "im", cell_size=cell, npix=npix)
    dirty = dirty_image(grid, npix)
    psf = psf_image(grid, npix)

    comps, res = hogbom_clean(dirty, psf, gain=0.2,
                              threshold=0.05, max_iter=500)
    # aggregate component flux within 1px of each true position
    def flux_near(y, x):
        return sum(f for (cy, cx, f) in comps
                   if abs(cy - y) <= 1 and abs(cx - x) <= 1)

    f1 = flux_near(half + 5, half - 3)    # (y, x) = (half-q, half-p)
    f2 = flux_near(half - 2, half + 6)
    assert abs(f1 - 2.0) < 0.25
    assert abs(f2 - 1.0) < 0.25
    assert np.abs(res).max() < 0.4 * 1.0
    # residual energy strictly below the dirty image's
    assert np.abs(res).max() < np.abs(dirty).max()

    import pytest
    with pytest.raises(ValueError, match="gain"):
        hogbom_clean(dirty, psf, gain=0.0)
    with pytest.raises(ValueError, match="shapes"):
        hogbom_clean(dirty, psf[:16, :16])


def test_uvw_from_baseline_model(spark):
    """UVW rotation checked against the numpy model; rotation
    invariant |(u,v,w)| == |b| / wavelength holds row by row."""
    import math

    import numpy as np
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import uvw_from_baseline

    rng = np.random.RandomState(5)
    rows = [Row(bx=float(a), by=float(b), bz=float(c), ha=float(h))
            for a, b, c, h in zip(rng.uniform(-500, 500, 20),
                                  rng.uniform(-500, 500, 20),
                                  rng.uniform(-100, 100, 20),
                                  rng.uniform(-math.pi, math.pi, 20))]
    df = spark.createDataFrame(
        rows, "bx double, by double, bz double, ha double")
    dec, lam = 0.7, 0.21
    out = uvw_from_baseline(df, "bx", "by", "bz", "ha", dec,
                            wavelength=lam).collect()
    sd, cd = math.sin(dec), math.cos(dec)
    for r in out:
        sh, ch = math.sin(r.ha), math.cos(r.ha)
        assert abs(r.u - (sh * r.bx + ch * r.by) / lam) < 1e-9
        assert abs(r.v - (-sd * ch * r.bx + sd * sh * r.by
                          + cd * r.bz) / lam) < 1e-9
        assert abs(r.w - (cd * ch * r.bx - cd * sh * r.by
                          + sd * r.bz) / lam) < 1e-9
        norm = math.sqrt(r.u ** 2 + r.v ** 2 + r.w ** 2)
        bl = math.sqrt(r.bx ** 2 + r.by ** 2 + r.bz ** 2) / lam
        assert abs(norm - bl) < 1e-6

    with pytest.raises(ValueError, match="wavelength"):
        uvw_from_baseline(df, "bx", "by", "bz", "ha", dec,
                          wavelength=0.0)


def test_grid_visibilities_group_cols(spark):
    """Multi-field gridding: group_cols grids each field in ONE plan,
    cell-identical to gridding the fields separately."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.imaging import grid_visibilities

    rows = [Row(field=f, u=float(u), v=float(v),
                re=float(f + 1), im=float(u - v))
            for f in (0, 1) for u in range(-3, 4) for v in range(-3, 4)]
    df = spark.createDataFrame(
        rows, "field int, u double, v double, re double, im double")
    combined = {(r.field, r.iu, r.iv): (r.vis_re, r.vis_im, r.n_vis)
                for r in grid_visibilities(
                    df, "u", "v", "re", "im", cell_size=2.0, npix=8,
                    group_cols=["field"]).collect()}
    for f in (0, 1):
        solo = {(f, r.iu, r.iv): (r.vis_re, r.vis_im, r.n_vis)
                for r in grid_visibilities(
                    df.where(F.col("field") == f), "u", "v", "re",
                    "im", cell_size=2.0, npix=8).collect()}
        for k, v in solo.items():
            assert combined[k] == v
    assert len(combined) == 2 * len(
        {k[1:] for k in combined if k[0] == 0})


def test_sumthreshold_matches_python_model(spark):
    """SumThreshold checked against an exact python replica, and the
    algorithmic win demonstrated: a broad plateau below the
    single-sample threshold is caught by the wider windows."""
    import math

    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import sumthreshold_flag

    # noise floor 0.0, single hot spike at t=3 (above chi1), broad
    # weak plateau t=10..17 at 0.6 * chi1 (below chi1, above chi_4)
    chi1, rho = 1.0, 1.5
    vals = [0.0] * 30
    vals[3] = 5.0
    for t in range(10, 18):
        vals[t] = 0.6
    rows = [Row(b=0, t=t, x=float(v)) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "b int, t int, x double")

    def model(values, windows):
        flags = [False] * len(values)
        for m in windows:
            chi = chi1 / rho ** math.log2(m)
            used = [chi if f else v for v, f in zip(values, flags)]
            exceed = [sum(used[j:j + m]) > chi * m
                      if j + m <= len(used) else False
                      for j in range(len(used))]
            flags = [f or any(exceed[max(0, i - m + 1):i + 1])
                     for i, f in enumerate(flags)]
        return flags

    for windows in ((1,), (1, 2), (1, 2, 4), (1, 2, 4, 8)):
        got = {r.t: r.st_flag for r in sumthreshold_flag(
            df, "t", ["b"], "x", chi1, rho, windows).collect()}
        want = dict(enumerate(model(vals, windows)))
        assert got == want, windows

    # single-sample pass alone misses the plateau; the stack catches it
    got1 = {r.t: r.st_flag for r in sumthreshold_flag(
        df, "t", ["b"], "x", chi1, rho, (1,)).collect()}
    got4 = {r.t: r.st_flag for r in sumthreshold_flag(
        df, "t", ["b"], "x", chi1, rho, (1, 2, 4)).collect()}
    assert not any(got1[t] for t in range(10, 18))
    assert all(got4[t] for t in range(11, 17))
    assert got1[3] and got4[3]

    # the whole pass stack shares ONE exchange
    plan = sumthreshold_flag(df, "t", ["b"], "x", chi1, rho,
                             (1, 2, 4))._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2   # input round-robin + sort

    with pytest.raises(ValueError, match="ascend"):
        sumthreshold_flag(df, "t", ["b"], "x", chi1, rho, (4, 2))
    with pytest.raises(ValueError, match="chi1"):
        sumthreshold_flag(df, "t", ["b"], "x", 0.0)


def test_flag_grow_matches_python_dilation(spark):
    """Separable rectangle dilation vs a direct python model over a
    (time, channel) grid with planted flags; radii 0 = identity."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import flag_grow

    nt, nc = 10, 8
    rng = np.random.RandomState(5)
    flags = rng.rand(nt, nc) < 0.12
    flags[4, 3] = True
    rows = [Row(t=float(t), a1=1, a2=2,
                flag=[bool(v) for v in flags[t]])
            for t in range(nt)]
    df = spark.createDataFrame(
        rows, "t double, a1 int, a2 int, flag array<boolean>")

    for tr, cr in ((1, 1), (2, 0), (0, 3)):
        out = {r.t: r for r in flag_grow(
            df, "t", ["a1", "a2"], "flag",
            time_radius=tr, chan_radius=cr).collect()}
        want = np.zeros_like(flags)
        for t in range(nt):
            for c in range(nc):
                t0, t1 = max(0, t - tr), min(nt, t + tr + 1)
                c0, c1 = max(0, c - cr), min(nc, c + cr + 1)
                want[t, c] = flags[t0:t1, c0:c1].any()
        for t in range(nt):
            assert list(out[float(t)].flag_grown) == \
                [bool(v) for v in want[t]], (tr, cr, t)
            assert out[float(t)].n_grown == \
                int(want[t].sum() - flags[t].sum())

    # radius 0 in both dims is the identity
    ident = {r.t: r for r in flag_grow(
        df, "t", ["a1", "a2"], "flag", 0, 0).collect()}
    for t in range(nt):
        assert list(ident[float(t)].flag_grown) == \
            [bool(v) for v in flags[t]]

    import pytest

    with pytest.raises(ValueError, match="radii"):
        flag_grow(df, "t", ["a1", "a2"], "flag", -1, 0)


def test_flagversions_save_restore_diff(spark, tmp_path):
    """flagmanager workflow: save FLAG before an aggressive pass,
    restore it after, list/delete bookkeeping, diff counts changed
    cells — restore is a lazy overlay, saved flags win by ROWID."""
    import pytest
    from pyspark.sql import functions as F

    from dask_ms_spark.operators.flagversions import (
        delete_flagversion, diff_flagversions, list_flagversions,
        restore_flagversion, save_flagversion)
    from dask_ms_spark.types import ROWID

    store = str(tmp_path / "ms.flagversions")
    n = 20
    base = spark.range(n).select(
        F.col("id").alias(ROWID),
        F.col("id").cast("double").alias("TIME"),
        F.expr("transform(sequence(0, 3), c -> id % 7 = c)")
         .alias("FLAG"))
    save_flagversion(base, store, "before_rfi", comment="pre-pass")

    # "aggressive pass": flag everything on even rows
    flagged = base.withColumn(
        "FLAG", F.when(F.col(ROWID) % 2 == 0,
                       F.expr("array(true, true, true, true)"))
                 .otherwise(F.col("FLAG")))
    save_flagversion(flagged, store, "after_rfi")

    names = [m["name"] for m in list_flagversions(store)]
    assert names == ["after_rfi", "before_rfi"]
    assert list_flagversions(store)[1]["comment"] == "pre-pass"

    # restore onto the flagged frame brings the original flags back
    restored = restore_flagversion(spark, flagged, store, "before_rfi")
    want = {r[ROWID]: r.FLAG for r in base.collect()}
    for r in restored.collect():
        assert r.FLAG == want[r[ROWID]], r[ROWID]
        assert r.TIME == float(r[ROWID])     # non-flag columns intact

    d = {r[ROWID]: r for r in diff_flagversions(
        spark, store, "before_rfi", "after_rfi").collect()}
    for i in range(n):
        if i % 2 == 0:
            assert d[i].n_changed == (4 if i % 7 > 3 else 3)
            assert d[i].n_flagged_b == 4
        else:
            assert d[i].n_changed == 0

    delete_flagversion(store, "after_rfi")
    assert [m["name"] for m in list_flagversions(store)] == \
        ["before_rfi"]
    with pytest.raises(ValueError, match="no flagversion"):
        restore_flagversion(spark, flagged, store, "after_rfi")
    with pytest.raises(ValueError, match="invalid flagversion"):
        save_flagversion(base, store, "../evil")
    with pytest.raises(ValueError, match="absent"):
        save_flagversion(base.drop("FLAG"), store, "x")


def test_noise_estimate_recovers_sigma(spark):
    """Successive-difference estimator: on constant-signal + gaussian
    noise it recovers the planted sigma (within sampling error) and
    matches the python model exactly at the fixed-point scale."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import noise_estimate

    rng = np.random.RandomState(11)
    nt, nch, sigma = 400, 4, 0.25
    rows = []
    signal = rng.rand(nch * 2) * 10.0          # constant per channel
    for t in range(nt):
        vis = signal + rng.normal(0.0, sigma, nch * 2)
        rows.append(Row(t=float(t), a1=1, a2=2,
                        vis=[float(v) for v in vis]))
    df = spark.createDataFrame(
        rows, "t double, a1 int, a2 int, vis array<double>")
    (got,) = noise_estimate(df, "t", ["a1", "a2"], "vis").collect()
    assert got.n_diff_terms == (nt - 1) * nch * 2
    assert abs(got.sigma - sigma) < 0.02       # ~4k diff terms

    # exact python mirror of the quantised pipeline
    qs = float(1 << 20)
    arr = np.array([r.vis for r in rows])
    dsq = np.round((arr[1:] - arr[:-1]) ** 2 * qs).astype(np.int64)
    want = float(np.sqrt(dsq.sum() / qs / dsq.size / 2.0))
    assert abs(got.sigma - want) < 1e-12


def test_crossmatch_block_width_boundary_regression(spark):
    """r6-advice regression: with ceil-sized RA blocks the realised
    width (360/n_blocks) could be NARROWER than the worst-case RA
    separation — radius=1, max_abs_dec=0.5 gives worst dRA 1.0000381
    deg vs exactly 1.0-deg blocks, so a pair separated by slightly
    more than one block width was silently dropped.  floor-sizing
    (plus the 1e-9 margin) keeps every block at least that wide."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.crossmatch import (angular_sep_deg,
                                                    crossmatch_sky)
    from pyspark.sql import functions as F

    radius, mad, dec = 1.0, 0.5, 0.5
    # dRA chosen between 1.0 (the old block width) and the true
    # worst-case separation at this dec
    for ra0 in (0.99998, 179.5, 359.4):     # incl. the 360 wrap
        dra = 1.000030
        left = spark.createDataFrame([Row(id=1, ra=ra0, dec=dec)])
        right = spark.createDataFrame(
            [Row(id=2, ra=(ra0 + dra) % 360.0, dec=dec)])
        sep = left.crossJoin(
            right.selectExpr("ra AS ra2", "dec AS dec2")).select(
            angular_sep_deg(F.col("ra"), F.col("dec"),
                            F.col("ra2"), F.col("dec2")).alias("s")) \
            .collect()[0].s
        assert sep <= radius          # a genuine match by distance
        pairs = crossmatch_sky(left, right, radius,
                               max_abs_dec=mad).collect()
        assert len(pairs) == 1, f"boundary pair dropped at ra0={ra0}"


def test_listobs_summaries(spark):
    """listobs parity: per-scan rows and the one-row header agree
    with python models over a synthetic MS-shaped frame."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.listobs import ms_summary, scan_summary

    rows = []
    for scan, field in ((1, 0), (2, 0), (3, 1)):
        for t in range(scan * 10, scan * 10 + 5):
            for a1, a2 in ((0, 1), (0, 2), (1, 2)):
                rows.append(Row(SCAN_NUMBER=scan, FIELD_ID=field,
                                TIME=float(t), ANTENNA1=a1,
                                ANTENNA2=a2,
                                DATA=[1.0] * 8))
    df = spark.createDataFrame(rows)

    per = {(r.scan, r.field): r for r in
           scan_summary(df, data_col="DATA").collect()}
    assert set(per) == {(1, 0), (2, 0), (3, 1)}
    s1 = per[(1, 0)]
    assert (s1.time_min, s1.time_max) == (10.0, 14.0)
    assert s1.n_rows == 15 and s1.n_baselines == 3
    assert s1.n_vis == 15 * 8

    (h,) = ms_summary(df).collect()
    assert h.n_rows == len(rows)
    assert h.time_span == 34.0 - 10.0
    assert (h.n_scans, h.n_fields, h.n_antennas, h.n_baselines) == \
        (3, 2, 3, 3)


def test_grid_convolutional_kernel(spark):
    """Convolutional gridding: the truncated-gaussian spread matches
    a python model cell for cell; support=0 stays the nearest-cell
    path; the fan-out is exactly (2s+1)^2 candidate cells per vis."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.imaging import grid_visibilities

    npix, cell, s = 16, 1.0, 2
    vis = [Row(u=1.3, v=-2.6, re=2.0, im=-1.0, w=1.5),
           Row(u=-3.7, v=0.2, re=0.5, im=0.5, w=1.0)]
    df = spark.createDataFrame(vis)

    out = grid_visibilities(df, "u", "v", "re", "im", cell, npix,
                            weight_col="w", hermitian=False,
                            kernel_support=s)
    got = {(r.iu, r.iv): r for r in out.collect()}

    sig = s / 2.0
    model = {}
    for r in vis:
        x, y = r.u / cell + npix // 2, r.v / cell + npix // 2
        for du in range(-s, s + 1):
            for dv in range(-s, s + 1):
                # r9 fix: kernel centres on the nearest CELL CENTRE
                # (integer grid coordinate), not the j+0.5 box centre
                ju = math.floor(x + 0.5) + du
                jv = math.floor(y + 0.5) + dv
                if not (0 <= ju < npix and 0 <= jv < npix):
                    continue
                dx, dy = x - ju, y - jv
                k = math.exp(-(dx * dx + dy * dy)
                             / (2.0 * sig * sig))
                w = r.w * k
                acc = model.setdefault((ju, jv), [0.0, 0.0, 0.0, 0])
                acc[0] += w * r.re
                acc[1] += w * r.im
                acc[2] += w
                acc[3] += 1
    assert set(got) == set(model)
    for key, (re_w, im_w, wsum, n) in model.items():
        g = got[key]
        assert abs(g.vis_re - re_w) < 1e-12
        assert abs(g.vis_im - im_w) < 1e-12
        assert abs(g.wsum - wsum) < 1e-12
        assert g.n_vis == n
    # each vis touched exactly (2s+1)^2 in-grid cells here
    assert sum(r.n_vis for r in got.values()) == 2 * (2 * s + 1) ** 2

    # support=0 is the nearest-cell path, byte-identical to before
    near = {(r.iu, r.iv): r for r in grid_visibilities(
        df, "u", "v", "re", "im", cell, npix, weight_col="w",
        hermitian=False).collect()}
    assert set(near) == {(math.floor(r.u + 0.5) + 8,
                          math.floor(r.v + 0.5) + 8) for r in vis}

    import pytest

    with pytest.raises(ValueError, match="kernel_support"):
        grid_visibilities(df, "u", "v", "re", "im", cell, npix,
                          kernel_support=-1)


def test_statwt_reweights_from_scatter(spark):
    """statwt: WEIGHT = 1/sigma^2 from the successive-difference
    estimator, broadcast back onto every row of the baseline; a
    positive weight_floor clamps the quiet-baseline blow-up."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import (noise_estimate,
                                                     statwt)

    rng = np.random.RandomState(7)
    rows = []
    for b, sigma in ((0, 0.5), (1, 2.0)):
        sig = rng.rand(6) * 5.0
        for t in range(200):
            vis = sig + rng.normal(0.0, sigma, 6)
            rows.append(Row(b=b, t=float(t),
                            vis=[float(v) for v in vis]))
    df = spark.createDataFrame(rows,
                               "b int, t double, vis array<double>")
    out = statwt(df, "t", ["b"], "vis")
    assert out.count() == len(rows)          # rows pass through
    per_b = {r.b: r for r in
             out.select("b", "sigma", "weight").distinct().collect()}
    est = {r.b: r.sigma for r in
           noise_estimate(df, "t", ["b"], "vis").collect()}
    for b in (0, 1):
        assert abs(per_b[b].sigma - est[b]) < 1e-12
        assert abs(per_b[b].weight - 1.0 / est[b] ** 2) < 1e-9
    # noisy baseline gets proportionally less weight
    assert per_b[1].weight < per_b[0].weight / 4
    # floor clamps the quiet side's weight at 1/floor^2 and the
    # reported sigma reflects the clamp (WEIGHT == 1/SIGMA^2 holds
    # on every row — r9 review)
    floored = statwt(df, "t", ["b"], "vis", weight_floor=1.0)
    fl = floored.select("sigma", "weight").distinct().collect()
    assert max(r.weight for r in fl) <= 1.0 + 1e-9
    for r in fl:
        assert abs(r.weight - 1.0 / r.sigma ** 2) < 1e-9
        assert r.sigma >= 1.0 - 1e-12


def test_cusum_changepoint_finds_planted_shift(spark):
    """CUSUM: argmax |S_k| lands on the planted mean shift and the
    reported mean_shift matches the planted delta; a shift-free
    series reports a small cusum_max."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.timeseries import cusum_changepoints

    rng = np.random.RandomState(3)
    rows = []
    for i in range(300):                      # shift of +2 at i=120
        v = (5.0 if i < 120 else 7.0) + rng.normal(0, 0.3)
        rows.append(Row(event_type="a", ts=float(i), event_id=i,
                        value=float(v)))
    for i in range(300):                      # no shift
        rows.append(Row(event_type="b", ts=float(i), event_id=i,
                        value=float(5.0 + rng.normal(0, 0.3))))
    df = spark.createDataFrame(
        rows, "event_type string, ts double, event_id long, "
              "value double")
    got = {r.event_type: r for r in cusum_changepoints(
        df, order_cols=("ts", "event_id")).collect()}
    assert abs(got["a"].change_pos - 120) <= 2
    assert abs(got["a"].mean_shift - 2.0) < 0.15
    # planted shift's cusum dwarfs the null series' noise excursion
    assert got["a"].cusum_max_q > 5 * got["b"].cusum_max_q

    # python mirror of the fixed-point pipeline (exact)
    qs = float(1 << 20)
    xs = np.array([r.value for r in rows[:300]])
    xq = np.round(xs * qs).astype(np.int64)
    run = np.cumsum(xq)
    n, tot = len(xq), run[-1]
    nsk = n * run[:-1] - np.arange(1, n) * tot
    k = int(np.argmax(np.abs(nsk)))          # earliest-k tie break
    assert got["a"].change_pos == k + 1
    assert got["a"].cusum_max_q == int(round(abs(nsk[k]) / n))


def test_closure_amplitudes_cancel_gains(spark):
    """Closure amplitude is invariant under per-antenna gain
    amplitudes: corrupting V_pq -> g_p g_q V_pq leaves every
    quadrangle's |V_pq||V_rs| / (|V_pr||V_qs|) unchanged; exactly
    one row per ordered quadruple p < q < r < s."""
    import itertools
    import math

    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import closure_amplitudes

    n = 6
    true_amp = {(p, q): 1.0 + 0.1 * (p + q) for p, q in
                itertools.combinations(range(n), 2)}
    gains = {a: 0.5 + 0.3 * a for a in range(n)}

    def rows(corrupt):
        out = []
        for (p, q), m in true_amp.items():
            g = gains[p] * gains[q] if corrupt else 1.0
            th = 0.2 * p - 0.1 * q
            out.append(Row(antenna1=p, antenna2=q,
                           vis=[g * m * math.cos(th),
                                g * m * math.sin(th)]))
        return spark.createDataFrame(
            out, "antenna1 int, antenna2 int, vis array<double>")

    clean = {(r.p, r.q, r.r, r.s): r.closure_amp
             for r in closure_amplitudes(rows(False)).collect()}
    dirty = {(r.p, r.q, r.r, r.s): r.closure_amp
             for r in closure_amplitudes(rows(True)).collect()}
    assert len(clean) == math.comb(n, 4)      # one row per p<q<r<s
    assert set(clean) == set(dirty)
    for k, v in clean.items():
        assert abs(dirty[k] - v) < 1e-9       # gains cancel
        p, q, r, s = k
        want = (true_amp[(p, q)] * true_amp[(r, s)]
                / (true_amp[(p, r)] * true_amp[(q, s)]))
        assert abs(v - want) < 1e-12


def test_bandpass_solve_per_channel_gains(spark):
    """bandpass: each channel recovers ITS OWN gains (gauge-invariant
    g_p conj(g_q) products per channel), independent across
    channels."""
    import cmath

    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import bandpass_solve

    n_ant, n_chan = 5, 3
    true_g = {(a, c): complex(1 + 0.1 * ((a + c) % 3),
                              0.04 * a - 0.03 * c)
              for a in range(n_ant) for c in range(n_chan)}
    rows = []
    for c in range(n_chan):
        for p_ in range(n_ant):
            for q_ in range(p_ + 1, n_ant):
                v = true_g[(p_, c)] * true_g[(q_, c)].conjugate()
                rows.append(Row(chan=c, antenna1=p_, antenna2=q_,
                                vis=[v.real, v.imag]))
    df = spark.createDataFrame(
        rows, "chan long, antenna1 long, antenna2 long, "
              "vis array<double>")
    out = {(r.chan, r.antenna): complex(r.gain[0], r.gain[1])
           for r in bandpass_solve(df, iters=32,
                                   damping=0.9).collect()}
    assert len(out) == n_ant * n_chan
    for c in range(n_chan):
        for p_ in range(n_ant):
            for q_ in range(p_ + 1, n_ant):
                got = out[(c, p_)] * out[(c, q_)].conjugate()
                want = (true_g[(p_, c)]
                        * true_g[(q_, c)].conjugate())
                assert cmath.isclose(got, want, rel_tol=1e-3), \
                    (c, p_, q_)

    # exact: two damped antsol steps per channel in pure Python, the
    # per-antenna sums quantised to int64 at 2^20 as the solver does
    from tests.conftest import spark_round

    qs, d = float(1 << 20), 0.5
    edges = [(r.chan, r.antenna1, r.antenna2, r.vis[0], r.vis[1])
             for r in rows]
    edges += [(c, q_, p_, re, -im) for c, p_, q_, re, im in edges]
    gains = {(c, p_): (1.0, 0.0) for c, p_, _, _, _ in edges}
    for _ in range(2):
        acc = {key: [0, 0, 0] for key in gains}
        for c, p_, q_, re, im in edges:
            gre, gim = gains[(c, q_)]
            tot = acc[(c, p_)]
            tot[0] += int(spark_round((re * gre - im * gim) * qs))
            tot[1] += int(spark_round((re * gim + im * gre) * qs))
            tot[2] += int(spark_round((gre * gre + gim * gim) * qs))
        step = {}
        for key, (gre, gim) in gains.items():
            sre, sim, sd = (x / qs for x in acc[key])
            step[key] = ((1 - d) * gre + d * sre / sd,
                         (1 - d) * gim + d * sim / sd)
        gains = step
    got2 = {(r.chan, r.antenna): tuple(r.gain) for r in bandpass_solve(
        df, iters=2, damping=d).collect()}
    assert got2 == gains


def test_predict_vis_gaussian_components(spark):
    """Gaussian components: zero-spacing amplitude equals the flux,
    a circular Gaussian decays by the closed-form envelope, the pa
    rotation swaps which uv direction decays fastest, and point
    sources are the env == 1 special case."""
    import math

    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import predict_vis

    rows = [Row(u=0.0, v=0.0), Row(u=100.0, v=0.0),
            Row(u=0.0, v=100.0), Row(u=50.0, v=50.0)]
    df = spark.createDataFrame(rows, "u double, v double")
    th = 0.01                          # circular FWHM (radians)
    circ = {(r.u, r.v): complex(r.mv[0], r.mv[1]) for r in predict_vis(
        df, "u", "v", [(2.0, 0.0, 0.0, th, th, 0.3)],
        out_col="mv").collect()}
    assert abs(circ[(0.0, 0.0)] - 2.0) < 1e-12      # zero spacing
    want = 2.0 * math.exp(-(math.pi ** 2) / (4 * math.log(2))
                          * th * th * 100.0 ** 2)
    assert abs(circ[(100.0, 0.0)].real - want) < 1e-12
    assert abs(circ[(0.0, 100.0)].real - want) < 1e-12  # isotropic

    # elongated source, pa = 0: major axis along v (north) -> decays
    # FASTER in v than in u... ur = u sin(0) + v cos(0) = v carries
    # the MAJOR fwhm, so the v direction decays faster
    el = {(r.u, r.v): complex(r.mv[0], r.mv[1]) for r in predict_vis(
        df, "u", "v", [(1.0, 0.0, 0.0, 0.02, 0.005, 0.0)],
        out_col="mv").collect()}
    assert abs(el[(0.0, 100.0)]) < abs(el[(100.0, 0.0)])
    # pa = pi/2 swaps the axes
    el90 = {(r.u, r.v): complex(r.mv[0], r.mv[1]) for r in predict_vis(
        df, "u", "v", [(1.0, 0.0, 0.0, 0.02, 0.005, math.pi / 2)],
        out_col="mv").collect()}
    assert abs(el90[(100.0, 0.0)]) < abs(el90[(0.0, 100.0)])
    assert abs(abs(el90[(100.0, 0.0)]) - abs(el[(0.0, 100.0)])) < 1e-12

    # 3-tuple point source still works; bad arity raises
    pt = predict_vis(df, "u", "v", [(1.0, 0.001, 0.0)],
                     out_col="mv").collect()
    assert all(abs(complex(r.mv[0], r.mv[1])) - 1.0 < 1e-9
               for r in pt)
    import pytest
    with pytest.raises(ValueError, match="tuple"):
        predict_vis(df, "u", "v", [(1.0, 0.0, 0.0, 0.01)])


def test_cusum_segments_recovers_planted_levels(spark):
    """Binary segmentation: two levels recover both planted shifts
    with exact boundaries; the min_shift gate stops the noise-only
    half from fragmenting; levels validation raises."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.timeseries import cusum_segments

    rng = np.random.RandomState(2)
    rows = []
    for i in range(300):
        lvl = 5.0 if i < 100 else (9.0 if i < 200 else 3.0)
        rows.append(Row(event_type="a", ts=float(i), event_id=i,
                        value=float(lvl + rng.normal(0, 0.3))))
    df = spark.createDataFrame(
        rows, "event_type string, ts double, event_id long, "
              "value double")
    out = sorted(cusum_segments(df, order_cols=("ts", "event_id"),
                                levels=2, min_shift=1.0).collect(),
                 key=lambda r: r.start_pos)
    spans = [(r.start_pos, r.end_pos, round(r.mean)) for r in out]
    assert spans == [(1, 100, 5), (101, 200, 9), (201, 300, 3)]
    # without the gate the stable third still splits (2^levels leaves)
    ungated = cusum_segments(df, order_cols=("ts", "event_id"),
                             levels=2, min_shift=0.0).collect()
    assert len(ungated) == 4
    with pytest.raises(ValueError, match="levels"):
        cusum_segments(df, levels=0)


def test_windowed_ema_survives_null_leading_values(spark):
    """A key whose first frame holds zero non-null values must yield
    NULL ema, not an element_at index crash (review r8, confirmed by
    execution before the fix)."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.timeseries import windowed_ema

    df = spark.createDataFrame(
        [Row(user_id=1, ts=1.0, event_id=1, value=None),
         Row(user_id=1, ts=2.0, event_id=2, value=5.0)],
        "user_id long, ts double, event_id long, value double")
    got = {r.event_id: r.ema for r in windowed_ema(
        df, value_col="value", by="user_id",
        order_cols=("ts", "event_id"), window=4).collect()}
    assert got[1] is None
    assert got[2] == 5.0


def test_bucket_index_floor_below_origin(spark):
    """Pre-origin sub-second timestamps land in bucket -1, not 0:
    SECOND-granular timestampdiff truncated toward zero (review r8,
    confirmed by execution before the fix)."""
    from dask_ms_spark.operators.timeseries import bucket_index

    df = spark.createDataFrame(
        [("2023-12-31 23:59:59.5",), ("2024-01-01 00:00:00.5",),
         ("2023-12-31 23:00:00",), ("2024-01-01 01:00:00",)],
        "ts string").selectExpr("cast(ts as timestamp_ntz) AS ts")
    got = [r[0] for r in df.select(
        bucket_index("ts", 3600).alias("b")).collect()]
    assert got == [-1, 0, -1, 1]


def test_gridder_off_lattice_no_half_cell_bias(spark):
    """r9 review regression: off-lattice u,v used floor() cell
    assignment (biasing every sample ~half a cell low) and broke the
    hermitian mirror pairing, attenuating sources toward the image
    edge.  With nearest-centre assignment, a point source whose u,v
    samples sit 0.4 cells OFF the lattice still peaks at its flux
    pixel and the dirty image stays real-symmetric at the source."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import (dirty_image,
                                                 grid_visibilities)

    npix, cell = 32, 1.0
    flux, p, q = 2.0, 10, -12        # source far from centre
    l, m = p / (npix * cell), q / (npix * cell)
    rng = np.random.RandomState(11)
    ku = rng.randint(-12, 13, size=60)
    kv = rng.randint(-12, 13, size=60)

    def image_for(du):
        df = spark.createDataFrame(
            [Row(u=float(a + du), v=float(b + du))
             for a, b in zip(ku, kv)], "u double, v double")
        vis = predict_vis(df, "u", "v", [(flux, l, m)])
        grid = grid_visibilities(
            vis.select("u", "v", vis.model_vis[0].alias("re"),
                       vis.model_vis[1].alias("im")),
            "u", "v", "re", "im", cell_size=cell, npix=npix,
            hermitian=True)
        # hermitian pairing: every occupied cell has its mirror
        cells = {(r.iu, r.iv)
                 for r in grid.select("iu", "iv").collect()}
        half = npix // 2
        mirrored = {(2 * half - iu, 2 * half - iv)
                    for iu, iv in cells
                    if 0 <= 2 * half - iu < npix
                    and 0 <= 2 * half - iv < npix}
        assert mirrored <= cells
        return dirty_image(grid, npix)

    ref = image_for(0.0)          # on-lattice: exact
    off = image_for(0.4)          # 0.4 cells off the lattice
    peak = np.unravel_index(np.abs(ref).argmax(), ref.shape)
    got = np.unravel_index(np.abs(off).argmax(), off.shape)
    # nearest-centre keeps the peak on the same pixel with most of
    # its flux — the OLD floor() spelling shifted every sample half
    # a cell, attenuating this edge-ward source and dragging the peak
    assert got == peak
    assert off[peak] > 0.85 * ref[peak] > 0


def test_bda_complex_flag_expansion_and_chan_average(spark):
    """r9 review: per-channel MS FLAG over interleaved complex DATA
    expands to the re/im layout (previously zip_with NULL-padded the
    second half of every spectrum), and chan_average with
    complex_data=True bins the planes separately (previously it
    averaged re and im together)."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.operators.bda import bda_average

    # 2 channels interleaved -> 4 floats; FLAG has 2 entries
    rows = [Row(t=0.0, a1=0, a2=1, uvd=10.0,
                DATA=[1.0, 2.0, 3.0, 4.0], FLAG=[False, False]),
            Row(t=1.0, a1=0, a2=1, uvd=10.0,
                DATA=[3.0, 6.0, 5.0, 8.0], FLAG=[False, True])]
    df = spark.createDataFrame(rows)
    out = bda_average(df, "t", ["a1", "a2"], "uvd",
                      base_interval=100.0, ref_uvdist=10.0,
                      data_col="DATA", flag_col="FLAG",
                      complex_data=True).first()
    # ch0 unflagged in both rows: mean([1,2],[3,6]) = [2,4]
    # ch1 flagged in row 2: mean of row 1 only = [3, 4] -> whole
    # band present (the OLD code nulled positions 2-3 entirely)
    assert out.data_mean == [2.0, 4.0, 3.0, 4.0]
    assert out.flag == [False, False, False, False]

    # mismatched flag length raises instead of silently padding
    bad = spark.createDataFrame(
        [Row(t=0.0, a1=0, a2=1, uvd=10.0,
             DATA=[1.0, 2.0, 3.0, 4.0], FLAG=[False, False, True])])
    with pytest.raises(Exception, match="size"):
        bda_average(bad, "t", ["a1", "a2"], "uvd", 100.0, 10.0,
                    data_col="DATA", flag_col="FLAG").collect()

    # chan_average over 4 complex channels, factor drives bin width:
    # uvd >> ref gives factor 1 (no binning change); use uvd=ref/4
    # -> factor 4 so all 4 channels bin into one complex mean
    rows4 = [Row(t=0.0, a1=0, a2=1, uvd=2.5,
                 DATA=[1.0, 10.0, 3.0, 30.0, 5.0, 50.0, 7.0, 70.0],
                 FLAG=[False] * 4)]
    out4 = bda_average(spark.createDataFrame(rows4), "t",
                       ["a1", "a2"], "uvd", base_interval=100.0,
                       ref_uvdist=10.0, max_factor=4,
                       data_col="DATA", flag_col="FLAG",
                       chan_average=True, complex_data=True).first()
    # separate-plane means: re (1+3+5+7)/4 = 4, im (10+30+50+70)/4=40
    assert out4.data_chan_mean == [4.0, 40.0]


def test_apply_gains_missing_antenna_nulls_not_drops(spark):
    """r9 review: a baseline touching an antenna absent from the
    gains table survives with NULL corrected data (left semantics,
    matching apply_gains_timevar) instead of vanishing."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import apply_gains

    vis = spark.createDataFrame(
        [Row(ANTENNA1=0, ANTENNA2=1, DATA=[1.0, 0.0]),
         Row(ANTENNA1=0, ANTENNA2=2, DATA=[2.0, 0.0])])
    gains = spark.createDataFrame(
        [Row(antenna=0, gain=[2.0, 0.0]),
         Row(antenna=1, gain=[1.0, 0.0])])   # antenna 2 missing
    out = {(r.ANTENNA1, r.ANTENNA2): r
           for r in apply_gains(vis, gains).collect()}
    assert len(out) == 2                     # nothing dropped
    assert out[(0, 1)].DATA_corrected == [2.0, 0.0]
    assert out[(0, 2)].DATA_corrected is None


def test_complex_helpers_empty_arrays(spark):
    """r9 review: sequence(0, -1) counts DOWN in Spark, so the
    complex helpers emitted garbage for zero-length arrays; they now
    return empty arrays (size identity preserved)."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import (c_abs2, c_conj,
                                                  c_imag, c_make,
                                                  c_mul, c_real)

    df = spark.createDataFrame([Row(a=[], b=[])],
                               "a array<double>, b array<double>")
    r = df.select(c_mul(F.col("a"), F.col("b")).alias("m"),
                  c_abs2(F.col("a")).alias("q"),
                  c_real(F.col("a")).alias("re"),
                  c_imag(F.col("a")).alias("im"),
                  c_conj(F.col("a")).alias("cj"),
                  c_make(F.col("a"), F.col("b")).alias("mk")).first()
    assert (r.m, r.q, r.re, r.im, r.cj, r.mk) == ([], [], [], [],
                                                  [], [])


def test_c_make_null_either_operand(spark):
    """r9 ADVICE: c_make's NULL handling was asymmetric — NULL re
    nulled the result (size(re) nulls the index sequence) but NULL
    im with non-NULL re emitted a half-populated [re1, NULL, ...]
    array.  Either NULL operand must propagate as NULL, matching
    the NULL-in/NULL-out contract the other kernels document."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import c_make

    df = spark.createDataFrame(
        [Row(k=0, a=[1.0, 2.0], b=[3.0, 4.0]),
         Row(k=1, a=None, b=[3.0, 4.0]),
         Row(k=2, a=[1.0, 2.0], b=None),
         Row(k=3, a=None, b=None)],
        "k int, a array<double>, b array<double>")
    out = {r.k: r.mk for r in df.select(
        "k", c_make(F.col("a"), F.col("b")).alias("mk")).collect()}
    assert out[0] == [1.0, 3.0, 2.0, 4.0]
    assert out[1] is None
    assert out[2] is None
    assert out[3] is None


def test_rfi_flag_mad_zero_falls_back_to_std(spark):
    """r9 review: a channel where >half the series is one constant
    has MAD 0 — the threshold then flagged EVERY deviation; the std
    fallback keeps small wiggles unflagged while still catching a
    gross spike."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import rfi_flag

    # 9 samples: 6 exact zeros (MAD=0), 2 small wiggles, 1 big spike
    vals = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.1, -0.1, 50.0]
    rows = [Row(b=0, t=float(i), data=[v]) for i, v in enumerate(vals)]
    out = rfi_flag(spark.createDataFrame(rows), "t", ["b"], "data",
                   window=4, k=4.0)
    flagged = {r.t: r.flag_rfi[0] for r in out.collect()}
    assert flagged[8.0] is True              # the spike
    assert flagged[6.0] is False             # small wiggle survives
    assert flagged[7.0] is False
    assert sum(flagged.values()) == 1


def test_sigma_clip_keeps_fully_clipped_group(spark):
    """r9 review: a group whose every sample clips away comes back
    with n_kept=0 instead of disappearing from the output."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.rfi import sigma_clip

    rows = ([Row(g=0, x=float(v)) for v in
             [1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 40.0]]
            + [Row(g=1, x=-5.0), Row(g=1, x=5.0)])
    out = {r.g: r for r in
           sigma_clip(spark.createDataFrame(rows), "x", ["g"],
                      k=0.5, iters=2).collect()}
    assert set(out) == {0, 1}                # group 1 not dropped
    assert out[1].n_in == 2
    if out[1].n_kept == 0:
        assert out[1].clip_mean is None


def test_grid_quantized_kernel_is_tabulated_and_engine_exact(spark):
    """The quantize_scale gridding path evaluates its kernel from the
    oversampled literal table (exactly-specified IEEE interpolation),
    NOT runtime exp() — libms disagree by 1 ulp on exp, which flipped
    a fixed-point tie in the sf0.1 oracle sweep (review r9).  A pure
    Python mirror of the table interpolation must agree bit-for-bit."""
    import math

    from pyspark.sql import Row

    from dask_ms_spark.operators.imaging import (KERNEL_OVERSAMPLE,
                                                 grid_visibilities)

    npix, cell, s, qs = 16, 1.0, 1, 1 << 20
    vis = [Row(u=1.3, v=-2.6, re=200.0, im=-100.0),
           Row(u=-3.7, v=0.2, re=50.0, im=50.0),
           Row(u=0.49999999, v=0.5, re=77.0, im=-3.0)]
    df = spark.createDataFrame(vis)
    got = {(r.iu, r.iv): r for r in grid_visibilities(
        df, "u", "v", "re", "im", cell, npix, hermitian=False,
        kernel_support=s, quantize_scale=qs).collect()}

    over = KERNEL_OVERSAMPLE
    sig = s / 2.0
    inv2s2 = 1.0 / (2.0 * sig * sig)
    n_tab = int((s + 0.5) * over) + 2
    tab = [math.exp(-((i / over) ** 2) * inv2s2)
           for i in range(n_tab + 1)]

    def g1d(d):
        t = abs(d) * float(over)
        i = int(math.floor(t))
        frac = t - float(i)
        return tab[i] + frac * (tab[i + 1] - tab[i])

    model = {}
    for r in vis:
        x, y = r.u / cell + npix // 2, r.v / cell + npix // 2
        for du in range(-s, s + 1):
            for dv in range(-s, s + 1):
                ju = math.floor(x + 0.5) + du
                jv = math.floor(y + 0.5) + dv
                if not (0 <= ju < npix and 0 <= jv < npix):
                    continue
                k = g1d(x - ju) * g1d(y - jv)
                acc = model.setdefault((ju, jv), [0.0, 0.0, 0.0])
                acc[0] += round(k * r.re * qs) / qs
                acc[1] += round(k * r.im * qs) / qs
                acc[2] += round(k * qs) / qs
    assert set(got) == set(model)
    for key, (re_w, im_w, wsum) in model.items():
        g = got[key]
        # the mirror uses python round (banker's) so allow the .5-tie
        # step at exactly 1/qs; everything else must be BIT-equal
        assert abs(g.vis_re - re_w) <= 1.0 / qs
        assert abs(g.vis_im - im_w) <= 1.0 / qs
        assert abs(g.wsum - wsum) <= 1.0 / qs
    # tabulation stays within ~3e-5 of the analytic gaussian
    for i in range(n_tab * 4):
        d = i / (4.0 * over)
        assert abs(g1d(d) - math.exp(-(d * d) * inv2s2)) < 5e-5


def test_attach_rowid_stable_pin_reliable_when_dir_set(spark, tmp_path):
    """r9 verdict item 6: the stable=True writer pin must use a
    RELIABLE checkpoint (survives executor loss) when the session has
    a checkpoint directory configured, and fall back to
    localCheckpoint otherwise.  Both paths must yield dense ordered
    ROWIDs."""
    import os

    from pyspark.sql import functions as F

    from dask_ms_spark.operators.ordering import attach_rowid

    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("k"),
        F.col("id").alias("v"))

    def dense(out):
        ids = sorted(r.ROWID for r in out.select("ROWID").collect())
        assert ids == list(range(1000))

    # the public probe (what attach_rowid itself consults)
    assert spark.sparkContext.getCheckpointDir() is None
    # no dir: localCheckpoint fallback, nothing written anywhere
    dense(attach_rowid(df, ["k", "v"], stable=True))

    ckdir = str(tmp_path / "ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    try:
        dense(attach_rowid(df, ["k", "v"], stable=True))
        # the reliable path actually materialised RDD blocks there
        found = [fn for root, _dirs, fns in os.walk(ckdir)
                 for fn in fns]
        assert found, "no reliable checkpoint files written"
    finally:
        # restore the session-global state for the rest of the suite
        # (no public unset exists; the private setter is test-only)
        jsc = spark.sparkContext._jsc.sc()
        empty = spark._jvm.scala.Option.empty()
        getattr(jsc, "checkpointDir_$eq")(empty)
    assert spark.sparkContext.getCheckpointDir() is None
