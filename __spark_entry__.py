"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator from SURVEY.md §2
through the dask_ms_spark library; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet views.  Cross-engine determinism
rules used throughout:

* money aggregates: sum over ``decimal(18,2)`` (exact), then cast to
  double and round — bit-identical in any engine;
* ratios/averages/cosines: computed in double, rounded to >=4 dp;
* hashes: md5-derived 60-bit ints (``portable_hash64`` in Spark,
  ``cast(('0x'||substring(md5(x),1,15)) as bigint)`` in DuckDB) —
  verified bit-identical;
* arrays: explicitly sorted (or positional) on both sides;
* every output column aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.abspath(__file__))
import sys

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from dask_ms_spark.cache import scoped_persist  # noqa: E402
from dask_ms_spark.dataset import concat, partition_datasets  # noqa: E402
from dask_ms_spark.expressions import data_column_expr  # noqa: E402
from dask_ms_spark.functions import complexf  # noqa: E402
from dask_ms_spark.functions.text import (  # noqa: E402
    STOPWORDS, langid, portable_hash64, quality_features, token_count,
    tokens, with_fingerprint)
from dask_ms_spark.llm.dedup import (  # noqa: E402
    MINHASH_COEFFS, MINHASH_P, embedding_dup_pairs_gemm, exact_dedup,
    lsh_jaccard_pairs, normalize_text, with_simhash)
from dask_ms_spark.llm.multimodal import (  # noqa: E402
    binary_features, media_table)
from dask_ms_spark.llm.similarity import (  # noqa: E402
    brute_force_topk, ivf_topk)
from dask_ms_spark.operators.grouping import group_metadata  # noqa: E402
from dask_ms_spark.operators.joins import (  # noqa: E402
    anti_filter, asof_join, broadcast_lookup, salted_join, semi_filter)
from pyspark.sql.window import Window  # noqa: E402
from dask_ms_spark.operators.ordering import (  # noqa: E402
    attach_rowid, group_rank, top_k)
from dask_ms_spark.operators.overlay import overlay  # noqa: E402
from dask_ms_spark.streaming.events import (  # noqa: E402
    dedup_events, read_events, sliding_value_stats, windowed_counts)

# Concurrent partition jobs for the backfill query: overlapping the
# many-small-weeks shape backfills executor idle tails (guide §2.6).
_BACKFILL_CONCURRENCY = 4

# ---------------------------------------------------------------------------
# helpers

# Session-scoped memo of the LAZY scan plans handed out by _t.  A
# fresh ``spark.read.parquet`` costs ~95 ms of driver work (file
# listing + footer schema inference + Py4J) and the
# ensure_parallelism partition probe another ~50 ms of planning —
# per CALL, and the suite makes ~250 such calls per bench pass
# (r12 optimization round measurement).  The memoised object is the
# unexecuted logical plan: every action on it still reads the
# parquet files and computes from scratch (nothing is persisted),
# exactly as a production driver that holds its table handles for
# the life of the session.  Keyed per SparkSession so a stopped
# session's plans are never reused.
import weakref

_SCAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" \
    = weakref.WeakKeyDictionary()


def _path_bytes(path: str) -> int:
    """Local on-disk size of a table path; a non-local path (object
    store URI) returns a large sentinel — both consumers degrade to
    their scale-safe behaviour on it (the split widening is attempted
    and is a no-op on many-split inputs; the q8 broadcast gate
    declines the hint and lets AQE decide)."""
    try:
        if os.path.isdir(path):
            return sum(os.path.getsize(os.path.join(path, f))
                       for f in os.listdir(path))
        return os.path.getsize(path)
    except OSError:
        return 1 << 60


# Split-widening floor: a scan below this size skips the
# ensure_parallelism round-robin repartition.  The repartition exists
# so CPU-heavy per-row work on a single-row-group file does not
# serialise on one core; the dimension tables (region .. customer,
# <=~300 KB here) only ever feed broadcast builds and hash probes, so
# their repartition was a pure extra Exchange + 32-task stage in every
# star-join plan.  At production scale scans have many splits and
# ensure_parallelism is a no-op either way.
_MIN_SPLIT_BYTES = 512 * 1024


def _t(spark: SparkSession, sf_dir: str, name: str,
       widen: bool = True) -> DataFrame:
    """Scan + adaptive split widening: the testdata tables are single
    row groups (one input split), which would serialise CPU-heavy
    per-row work on one core; at real scale the scan has many splits
    and ensure_parallelism is a no-op.  Tiny dims (< _MIN_SPLIT_BYTES)
    skip the widening — see _MIN_SPLIT_BYTES.

    ``widen=False`` (r13, verdict r12 item 6) is for call sites whose
    frame feeds ONLY a broadcast BUILD side: the round-robin exchange
    there was a pure extra shuffle + 32-task stage in front of a
    collect-to-driver (plan-verified: BroadcastExchange directly over
    the widening Exchange in 18 registry plans).  Probe sides keep
    the widening — that is what parallelises the join/agg CPU
    locally.  Memo keys are distinct per effective widen mode (the
    r12 `_t`/`_ev` collision lesson)."""
    from dask_ms_spark.session import ensure_parallelism

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = path if widen else path + "#nowiden"
    per_session = _SCAN_MEMO.setdefault(spark, {})
    got = per_session.get(key)
    if got is None:
        got = spark.read.parquet(path)
        if widen and _path_bytes(path) >= _MIN_SPLIT_BYTES:
            got = ensure_parallelism(got)
        per_session[key] = got
    return got


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan via read_events, memoised like _t (same lazy-plan
    semantics; ts normalisation is part of the plan).  The memo key
    is DISTINCT from _t's for the same file: _t("events") hands out
    the ensure_parallelism'd raw scan, _ev the read_events
    normalisation — sharing the key let whichever ran first serve
    the other's consumers (caught by test_round7_debut_plan_shapes:
    attribution inherited _t's repartition exchange; worse, _ev
    could inherit a frame WITHOUT normalize_ts)."""
    path = os.path.join(sf_dir, "events.parquet") + "#read_events"
    per_session = _SCAN_MEMO.setdefault(spark, {})
    got = per_session.get(path)
    if got is None:
        got = per_session[path] = read_events(
            spark, os.path.join(sf_dir, "events.parquet"))
    return got


def _money(col):
    """Exact decimal sum -> double, rounded: engine-independent."""
    return F.round(F.sum(F.col(col).cast("decimal(18,2)")).cast("double"), 2)


_DUCK_HASH = "cast(('0x' || substring(md5({x}), 1, 15)) as bigint)"

# DuckDB equivalent of llm.dedup.normalize_text
_DUCK_NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# reference-surface queries (SURVEY §2)

def q_projection(spark, sf_dir):
    """P1 column projection (daskms/dask_ms.py:183-185): select pushes
    column pruning into the parquet scan (ReadSchema)."""
    [ds] = partition_datasets(
        _t(spark, sf_dir, "lineitem"), group_cols=[],
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"])
    return ds.df.select("l_orderkey", "l_linenumber", "l_quantity",
                        F.to_date("l_shipdate").alias("ship_date"))


def q_filter_pushdown(spark, sf_dir):
    """P2 predicate pushdown (daskms/ordering.py:68-71): the where
    string reaches the scan as PushedFilters."""
    [ds] = partition_datasets(
        _t(spark, sf_dir, "lineitem"), group_cols=[],
        where="l_quantity < 5 AND l_discount > 0.05")
    return ds.df.select("l_orderkey", "l_linenumber", "l_quantity",
                        "l_discount")


def q_taql_subquery(spark, sf_dir):
    """P2 tier 4: TAQL nested query (``X IN [SELECT ... FROM tab
    WHERE ...]``, the casacore rowid-set probe idiom —
    daskms/dask_ms.py:236-241 passes such strings verbatim to TAQL)
    translated to a Spark IN-subquery and executed as a semi-join.
    The customer fact filters on a nation row-set selected by region
    and a scalar conjunct; Catalyst broadcasts the 25-row subquery
    side."""
    from dask_ms_spark.taql import taql_where_to_sql

    _t(spark, sf_dir, "nation").createOrReplaceTempView("NATION")
    sql = taql_where_to_sql(
        "c_nationkey IN [SELECT n_nationkey FROM ::NATION "
        "WHERE n_regionkey IN [0, 2]] && c_acctbal > 1000.0")
    return (_t(spark, sf_dir, "customer")
            .where(sql)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_cust"),
                 F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("sum_acctbal")))


def q_expr_arithmetic(spark, sf_dir):
    """P4 expression DSL (daskms/expressions.py:57-109) lowered to
    codegen'd Column arithmetic."""
    df = _t(spark, sf_dir, "lineitem")
    charged = data_column_expr(
        df, "l_extendedprice * (1 - l_discount) * (1 + l_tax)")
    return df.select("l_orderkey", "l_linenumber",
                     charged.alias("charged"))


def q_group_partition(spark, sf_dir):
    """G1 group-by-columns partitioning metadata (daskms/ordering.py:
    165-192): GCOUNT() / GROWID()[0] analogues per group.

    ROWID orders by the oracle's 11-column key: (l_orderkey,
    l_linenumber) is not unique in the synthetic data, and ties under
    a partial key make row_number engine-arbitrary.  The 11 columns
    include the group columns, so any residual ties permute rows
    *within* one group and min(ROWID) per group stays deterministic —
    while sorting 5 fewer columns than the all-column order."""
    li = _t(spark, sf_dir, "lineitem")
    df = attach_rowid(li, ["l_orderkey", "l_partkey", "l_suppkey",
                           "l_linenumber", "l_quantity",
                           "l_extendedprice", "l_discount", "l_tax",
                           "l_returnflag", "l_linestatus",
                           "l_shipdate"])
    meta = group_metadata(df, ["l_returnflag", "l_linestatus"],
                          rowid="ROWID")
    return meta.select("l_returnflag", "l_linestatus", "group_count",
                       "exemplar_rowid")


def q_group_aggr(spark, sf_dir):
    """G1 GAGGR aggregate (daskms/ordering.py:169-175): per-group
    collected arrays (sorted for cross-engine determinism).  The array
    is serialized to a CSV string on both sides: the driver's pandas
    canonicalizer cannot sort frames with list-valued cells."""
    df = _t(spark, sf_dir, "orders").where("o_totalprice > 400000")
    return (df.groupBy("o_orderpriority")
              .agg(F.array_join(
                       F.sort_array(F.collect_list("o_orderkey"))
                        .cast("array<string>"), ",")
                    .alias("orderkeys"),
                   F.count(F.lit(1)).alias("n")))


def q_sorted_read(spark, sf_dir):
    """O1 global sorted read (daskms/ordering.py:64-99): global rank
    via row_number over the index columns = the sorted-ROWID query."""
    df = _t(spark, sf_dir, "lineitem").where("l_quantity >= 49")
    # l_quantity joins the sort key so ties among duplicate partial
    # keys cannot permute visible columns across engines
    return attach_rowid(
        df, ["l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"],
        name="position"
    ).select("position", "l_orderkey", "l_linenumber", "l_quantity")


def q_within_group_sort(spark, sf_dir):
    """O2 within-group sort (daskms/ordering.py:102-117): per-group
    lexsort rank over index cols."""
    df = _t(spark, sf_dir, "lineitem").where("l_quantity >= 48")
    return group_rank(
        df, ["l_returnflag"], ["l_shipdate", "l_orderkey", "l_linenumber"],
        name="rank"
    ).select("l_returnflag", "rank", "l_orderkey", "l_linenumber")


def q_topk(spark, sf_dir):
    """Per-group top-k (SURVEY §2.4 gap; Spark WindowGroupLimit pushes
    the limit below the shuffle)."""
    df = _t(spark, sf_dir, "orders")
    return top_k(df, ["o_orderstatus"],
                 [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
                 k=5, rank_name="rn") \
        .select("o_orderstatus", "rn", "o_orderkey",
                F.round(F.col("o_totalprice").cast("double"), 2)
                 .alias("total"))


def q_broadcast_join(spark, sf_dir):
    """§2.5 subtable lookup as broadcast hash join
    (examples/ms_subtable_join.py:59)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation") \
        .withColumnRenamed("n_nationkey", "c_nationkey")
    region = _t(spark, sf_dir, "region") \
        .withColumnRenamed("r_regionkey", "n_regionkey")
    j = broadcast_lookup(broadcast_lookup(cust, nation, "c_nationkey"),
                         region, "n_regionkey")
    return (j.groupBy("r_name")
             .agg(F.count(F.lit(1)).alias("n_customers"),
                  _money("c_acctbal").alias("sum_acctbal")))


def q_star_join(spark, sf_dir):
    """§2.5 chained star joins (examples/ms_subtable_join.py:60-61):
    revenue per nation — lineitem⋈orders⋈customer⋈nation, dims
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    # orders only feeds the broadcast build (r13: widen=False)
    orders = _t(spark, sf_dir, "orders", widen=False)
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    # r12 examined: pre-aggregating rev per l_orderkey before the
    # fact-fact join (guide §2.3) A/B'd 1.05x SLOWER at sf0.1 — the
    # partial aggregate's hash build costs more than the (already
    # broadcast-joined) exchange it would shrink.  Kept as-is.
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy("n_name")
             .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def q_semi_join(spark, sf_dir):
    """left_semi (SURVEY §2.5: absent in reference, native here):
    customers that have at least one open order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders",
                 widen=False).where("o_orderstatus = 'O'") \
        .select(F.col("o_custkey").alias("c_custkey"))
    return semi_filter(cust, orders, "c_custkey") \
        .select("c_custkey", "c_name")


def q_anti_join(spark, sf_dir):
    """left_anti: customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders", widen=False) \
        .select(F.col("o_custkey").alias("c_custkey"))
    return anti_filter(cust, orders, "c_custkey") \
        .select("c_custkey", "c_name")


def q_concat(spark, sf_dir):
    """§2.6 dataset concatenation (daskms/dask_ms.py:36-39) =
    unionByName of two partitions with group re-expansion
    (daskms/apps/convert.py:201-222)."""
    dss = partition_datasets(_t(spark, sf_dir, "orders"),
                             group_cols=["o_orderstatus"])
    return (concat(dss)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 _money("o_totalprice").alias("sum_total")))


def q_overlay(spark, sf_dir):
    """F3 fragment consolidation (daskms/experimental/fragments/
    __init__.py:76-117) and S7 column-update semantics
    (daskms/writes.py:493-566): ROWID join + coalesce overlay."""
    base = _t(spark, sf_dir, "orders") \
        .withColumn("ROWID", F.col("o_orderkey"))
    frag = (base.where("o_orderstatus = 'O'")
                .select("ROWID",
                        (F.col("o_totalprice") * 2).alias("o_totalprice")))
    merged = overlay(base, frag, key="ROWID")
    return merged.select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("total"),
        "o_orderstatus")


def q_tpch_q1(spark, sf_dir):
    """Flagship aggregation (TPC-H Q1 shape): the full group/agg
    pipeline the reference delegates to user dask code (SURVEY §2.6)."""
    df = _t(spark, sf_dir, "lineitem") \
        .where("l_shipdate <= timestamp '1998-09-02 00:00:00'")
    disc = (F.col("l_extendedprice").cast("decimal(18,2)") *
            (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    return (df.groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                           .cast("double"), 2).alias("sum_qty"),
                   _money("l_extendedprice").alias("sum_base_price"),
                   F.round(F.sum(disc).cast("double"), 2).alias("sum_disc_price"),
                   F.round(F.avg(F.col("l_quantity").cast("double")), 6)
                    .alias("avg_qty"),
                   F.round(F.avg(F.col("l_discount").cast("double")), 6)
                    .alias("avg_disc"),
                   F.count(F.lit(1)).alias("count_order")))


def q_tensor_slice(spark, sf_dir):
    """P3 per-column slice read (daskms/reads.py:58-75): hyperslab
    selection on a tensor column = array slice — element pruning
    without touching the rest of the row.

    The slab is emitted one element per row (posexplode) rather than
    as an array column: the driver's pandas canonicalizer cannot sort
    list-valued cells, and exploding avoids cross-engine float→string
    formatting entirely."""
    embs = _t(spark, sf_dir, "embeddings")
    sl = F.slice(F.col("embedding"), 2, 3)
    return (embs.select("vec_id", sl.alias("slab"),
                        F.round(F.aggregate(
                            sl, F.lit(0.0),
                            lambda acc, x: acc + x.cast("double")), 6)
                         .alias("slab_sum"))
                .select("vec_id",
                        F.posexplode("slab").alias("pos", "raw"),
                        "slab_sum")
                .select("vec_id", "pos",
                        F.round(F.col("raw").cast("double"), 6)
                         .alias("val"),
                        "slab_sum"))


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: tight filter + single agg — the pushdown +
    map-side-combine stress case."""
    df = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= timestamp '1994-01-01' AND "
        "l_shipdate < timestamp '1995-01-01' AND "
        "l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           F.col("l_discount").cast("decimal(18,4)"))
    return df.agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("n_items"))


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: selective join + agg + global top-k."""
    cust = _t(spark, sf_dir, "customer").where("c_nationkey < 10")
    orders = _t(spark, sf_dir, "orders", widen=False).where(
        "o_orderdate < timestamp '1995-03-15'")
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate > timestamp '1995-03-15'")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey))
    agg = (j.groupBy("l_orderkey", "o_orderdate")
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
               .limit(10)
               .select("l_orderkey",
                       F.unix_timestamp("o_orderdate").alias("odate_epoch"),
                       "revenue"))


def q_complex_mul(spark, sf_dir):
    """§2.7 complex arithmetic over interleaved re/im arrays
    (encoding: daskms/experimental/arrow/extension_types.py:178-200).
    Build complex pairs from lineitem columns, multiply by conjugate:
    result = |a|² + 0i."""
    df = _t(spark, sf_dir, "lineitem").where("l_orderkey <= 100")
    a = F.array(F.col("l_quantity").cast("float"),
                F.col("l_discount").cast("float"))
    prod = complexf.c_mul(a, complexf.c_conj(a))
    return df.select(
        "l_orderkey", "l_linenumber",
        F.round(F.element_at(prod, 1).cast("double"), 4).alias("re"),
        F.round(F.element_at(prod, 2).cast("double"), 4).alias("im"))


def q_asof_join(spark, sf_dir):
    """As-of join (SURVEY §2.5: absent in reference, a capability gain
    here): each click matched to the user's most recent prior-or-equal
    purchase — union+window linear form, no range-join pair blow-up.
    Purchases pre-aggregated per (user, ts) so the match is unique."""
    events = _ev(spark, sf_dir)
    clicks = events.where("event_type = 'click'") \
                   .select("event_id", "user_id", "ts")
    purchases = (events.where("event_type = 'purchase'")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("p_value")))
    j = asof_join(clicks, purchases, on="ts", by="user_id")
    return j.select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("click_epoch"),
        F.coalesce(F.unix_timestamp("ts_r"), F.lit(-1)).alias("purchase_epoch"),
        F.round(F.coalesce(F.col("p_value"), F.lit(-1.0)), 4).alias("p_value"))


def q_salted_join(spark, sf_dir):
    """Skew-resistant salted join: bit-identical to the plain join (the
    oracle runs the unsalted SQL) while spreading each hot orderkey
    across 8 reducer sub-keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    j = salted_join(li, orders, on="l_orderkey", salt=8,
                    fact_salt_cols=["l_partkey", "l_suppkey", "l_linenumber"])
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    return (j.groupBy("o_orderpriority")
             .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def q_range_join(spark, sf_dir):
    """Interval-containment join (SURVEY §2.5 capability gain): for
    each high-value order, lineitems (of any order) shipped within 7
    days of its order date — bucketized equi-join, not a nested loop.
    Inner semantics: zero-shipment windows drop on both sides."""
    from dask_ms_spark.operators.joins import range_join

    # Additive metrics pre-aggregate to one row per ship-day BEFORE the
    # range join — the join then touches |days|·replicas rows instead
    # of |lineitem|·replicas (measured 11.8 s -> sub-second at sf0.1).
    daily = (_t(spark, sf_dir, "lineitem")
             .groupBy("l_shipdate")
             .agg(F.count(F.lit(1)).alias("d_n"),
                  F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                   .alias("d_qty")))
    wins = (_t(spark, sf_dir, "orders")
            .where("o_totalprice > 480000")
            .select("o_orderkey", F.col("o_orderdate").alias("win_start"),
                    (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
                    .alias("win_end")))
    j = range_join(daily, wins, point="l_shipdate",
                   start="win_start", end="win_end",
                   bucket_width=7 * 86_400.0)
    return (j.groupBy("o_orderkey", "win_start")
             .agg(F.sum("d_n").alias("n_shipped"),
                  F.round(F.sum("d_qty").cast("double"), 2).alias("sum_qty"))
             .select("o_orderkey",
                     F.unix_timestamp("win_start").alias("win_epoch"),
                     "n_shipped", "sum_qty"))


def q_window_frames(spark, sf_dir):
    """Window frames (SURVEY §2.6: absent in reference): per-customer
    running order total, ROWS UNBOUNDED PRECEDING frame. Exact decimal
    accumulation keeps the running sum engine-identical."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    running = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(frame)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.round(running.cast("double"), 2).alias("running_total"))


def q_rollup(spark, sf_dir):
    """ROLLUP grouping sets (SURVEY §2.6: absent in reference) with
    grouping_id — subtotal + grand-total rows in one pass (partial
    aggregation still applies per grouping set)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                            .cast("double"), 2).alias("sum_qty"),
                   F.grouping_id().cast("long").alias("gid"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                      "gid", "n", "sum_qty"))


def q_cube(spark, sf_dir):
    """CUBE grouping sets (SURVEY §2.6: absent in reference): all four
    grouping combinations of (returnflag, linestatus) in one pass —
    Catalyst expands the grouping sets before partial aggregation, so
    the scan happens once and the map-side combine still applies."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"),
                   _money("l_extendedprice").alias("sum_price"),
                   F.grouping_id().cast("long").alias("gid"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                      "gid", "n", "sum_price"))


def q_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (SURVEY §2.6 gap).

    ``percentile`` sorts within each group — exact and
    oracle-matchable (DuckDB ``quantile_cont`` uses the same linear
    interpolation).  At 100 TB the same query shape swaps in
    ``percentile_approx`` (a fixed-size QuantileSummaries sketch that
    merges map-side, no global sort) — the exact form here is the
    correctness anchor for that sketch."""
    li = _t(spark, sf_dir, "lineitem")
    # percentiles over integer CENTS: with int64 inputs and dyadic
    # quantiles (.25/.5/.75) the linear interpolation is EXACT in
    # every engine regardless of formula order — the float spelling
    # differed by one ulp at a 2-decimal rounding boundary on tiny
    # inputs (sf0.001 tri-SF sweep finding)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    pct = F.percentile(cents,
                       F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    out = lambda i: (F.round(pct[i]) / 100.0).alias  # noqa: E731
    return (li.groupBy("l_returnflag")
              .agg(out(0)("p25"), out(1)("p50"), out(2)("p75"),
                   F.count(F.lit(1)).alias("n")))


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join + agg.  Dimension tables
    (region 5 / nation 25 / supplier 100 rows) broadcast; only the
    lineitem⋈orders fact-fact edge shuffles, on the join key both
    sides — the plan a 1000-executor cluster wants.  The c_nationkey =
    s_nationkey condition rides on the broadcast join, not a second
    shuffle."""
    region = F.broadcast(_t(spark, sf_dir, "region")
                         .where("r_name = 'ASIA'"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    customer = _t(spark, sf_dir, "customer")
    # orders only feeds the broadcast build of the one fact edge
    # (r13: widen=False — the round-robin exchange fed a collect)
    orders = _t(spark, sf_dir, "orders", widen=False).where(
        "o_orderdate >= timestamp '1996-01-01' AND "
        "o_orderdate < timestamp '1998-01-01'")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(customer, orders.o_custkey == customer.c_custkey)
           .join(supplier, (li.l_suppkey == supplier.s_suppkey) &
                 (customer.c_nationkey == supplier.s_nationkey))
           .join(nation, supplier.s_nationkey == nation.n_nationkey)
           .join(region, nation.n_regionkey == region.r_regionkey))
    return (j.groupBy("n_name")
             .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promo revenue share) per ship month: broadcast
    part dim (2k rows) onto the lineitem fact — no fact shuffle before
    the group-by — with a conditional aggregate.  Sums stay in exact
    decimal until the final ratio so the per-month share is
    engine-independent."""
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(22,6)"))
    ym = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int")
    return (li.join(part, li.l_partkey == part.p_partkey)
              .groupBy(ym.alias("ship_month"))
              .agg((F.round((F.lit(100.0) * F.sum(promo).cast("double") /
                             F.sum(rev).cast("double")), 4))
                   .alias("promo_share"),
                   F.count(F.lit(1)).alias("n_items")))


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: orders whose lineitems sum past a quantity
    threshold, joined back for customer detail.  The HAVING aggregate
    runs fact-side first and produces a tiny key set, which then
    drives broadcast joins against orders/customer — the
    aggregate-then-semi-join ordering that avoids ever shuffling the
    full fact-fact join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
             .agg(F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                           .cast("double"), 2).alias("total_qty"))
             .where(F.col("total_qty") > 300))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # r13: `big` is fact-derived (lineitem aggregate, HAVING-bounded
    # only) — same class as q8's orders_asia.  The broadcast hint is
    # gated on the SOURCE fact's on-disk bytes so a forced broadcast
    # never bypasses AQE's size check at real scale; past the gate
    # AQE's runtime estimate owns the build-side decision.
    if (_path_bytes(os.path.join(sf_dir, "lineitem.parquet"))
            <= _BCAST_GATE_BYTES):
        big = F.broadcast(big)
    return (orders.join(big,
                        orders.o_orderkey == big.l_orderkey)
                  .join(cust, orders.o_custkey == cust.c_custkey)
                  .select("c_custkey", "c_name", "o_orderkey",
                          F.unix_timestamp("o_orderdate")
                           .alias("odate_epoch"),
                          "total_qty"))


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): EXISTS decorrelated to
    a left-semi hash join with a non-equi residual (l_shipdate >
    o_orderdate rides on the hash-matched orderkey probe, no extra
    shuffle beyond the one on the join key).  The orders side carries a
    pushed-down quarter filter, so the build input is small."""
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= timestamp '1996-07-01' AND "
        "o_orderdate < timestamp '1996-10-01'")
    li = _t(spark, sf_dir, "lineitem",
            widen=False).select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey) &
            (li.l_shipdate > orders.o_orderdate), "left_semi")
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("order_count")))


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): nation is
    joined twice under different roles (supplier vs customer side) —
    both copies broadcast, as does supplier; the only shuffles are the
    fact edges lineitem⋈orders and ⋈customer.  The nation-pair
    disjunction is evaluated post-broadcast, fact-local."""
    nation = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_name").alias("cust_nation")))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders", widen=False)
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= timestamp '1996-01-01' AND "
        "l_shipdate < timestamp '1998-01-01'")
    vol = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    pair = ((F.col("supp_nation") == "NATION_5") &
            (F.col("cust_nation") == "NATION_12")) | \
           ((F.col("supp_nation") == "NATION_12") &
            (F.col("cust_nation") == "NATION_5"))
    # r12 join order: the nation-pair disjunction implies
    # supp_nation/cust_nation ∈ {NATION_5, NATION_12} (Catalyst
    # pushes that IN to the nation scans but does NOT reorder the
    # joins), so probing the 2-row nation broadcasts FIRST drops
    # ~92% of lineitem before the fact-fact orders edge and ~92%
    # of customers before their join — at scale that cuts the only
    # real shuffles by ~12x.  Inner joins commute: identical result
    # set.  Interleaved A/B at sf0.1: 0.974x (scan-dominated here;
    # the win is the shuffle-bytes cut at scale).
    j = (li.join(supplier, li.l_suppkey == supplier.s_suppkey)
           .join(n1, F.col("s_nationkey") == F.col("s_nk"))
           .join(orders, li.l_orderkey == orders.o_orderkey)
           .join(customer, orders.o_custkey == customer.c_custkey)
           .join(n2, customer.c_nationkey == F.col("c_nk"))
           .where(pair))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("bigint").alias("l_year"))
             .agg(F.round(F.sum(vol).cast("double"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part; lineitem's distinct
    part-supp pairs stand in for partsupp, s_acctbal for supplycost):
    groupwise argmin via a window min + equality filter — one shuffle
    on the group key, ties kept on both engines.  The broadcast
    part-filter semi-join sits BELOW the pair distinct, so the
    distinct shuffles only lineitem rows for qualifying parts
    (measured sf0.1: 30k rows instead of 591k distinct pairs — the
    filter keeps 5% of parts); the window then sees |matching
    pairs|, not |lineitem|."""
    part = F.broadcast(_t(spark, sf_dir, "part")
                       .where("p_size <= 15 AND p_type = 'LARGE'")
                       .select("p_partkey", "p_name"))
    pairs = (_t(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey")
             .join(part.select("p_partkey"),
                   F.col("l_partkey") == F.col("p_partkey"), "left_semi")
             .distinct())
    supplier = F.broadcast(_t(spark, sf_dir, "supplier")
                           .select("s_suppkey", "s_name", "s_acctbal"))
    j = (pairs.join(part, pairs.l_partkey == part.p_partkey)
              .join(supplier, pairs.l_suppkey == supplier.s_suppkey))
    w = Window.partitionBy("p_partkey")
    sel = (j.withColumn("_mn", F.min("s_acctbal").over(w))
            .where(F.col("s_acctbal") == F.col("_mn")).drop("_mn"))
    return (sel.orderBy(F.col("s_acctbal").asc(), F.col("p_partkey").asc(),
                        F.col("s_suppkey").asc())
               .limit(100)
               .select("p_partkey", "p_name", "s_suppkey", "s_name",
                       F.round(F.col("s_acctbal").cast("double"), 2)
                        .alias("acctbal")))


# Fact-derived broadcast gate: a derived subset of a fact table may
# only carry an explicit broadcast hint when the WHOLE source fact's
# on-disk bytes are below this cap — i.e. when even a
# 100%-selectivity estimate error stays broadcast-safe.  Above the cap
# (any real deployment) no hint is emitted and AQE's runtime size
# check owns the decision.
_BCAST_GATE_BYTES = 32 * 1024 * 1024


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): share of ASIA-customer
    order volume supplied from NATION_5, per order year — nation twice
    (customer side gates through region, supplier side feeds the CASE),
    all dims broadcast, conditional and total sums in one aggregate
    pass over exact decimals."""
    region = F.broadcast(_t(spark, sf_dir, "region")
                         .where("r_name = 'ASIA'"))
    n_cust = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"),
        F.col("n_regionkey").alias("c_rk")))
    n_supp = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"),
        F.col("n_name").alias("supp_nation")))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        "o_orderdate >= timestamp '1996-01-01' AND "
        "o_orderdate < timestamp '1998-01-01'")
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    target = F.when(F.col("supp_nation") == "NATION_5", vol) \
              .otherwise(F.lit(0).cast("decimal(22,6)"))
    # r12 join order: gate orders through the ASIA customer set
    # BEFORE the lineitem edge — region keeps ~1/5 of nations, so
    # the o_orderkey join (the one fact-fact shuffle at scale)
    # carries ~6% of orders instead of ~29%.  Inner joins commute:
    # identical result set.  r13 (verdict r12 item 2): the broadcast
    # hint is no longer UNCONDITIONAL — a forced broadcast of a
    # fact-derived relation bypasses AQE's size check and OOMs at
    # real scale (~6% of orders is unbounded at 100 TB).  The hint is
    # now gated on the source table's on-disk size: only when ALL of
    # orders is comfortably broadcastable can the ~6% subset be (the
    # unhinted plan was A/B'd 1.20x slower at sf0.1 — the static
    # planner's post-join estimate is inflated and plans an SMJ
    # before AQE can demote it); past the gate AQE decides.
    orders_asia = (orders
                   .join(customer,
                         orders.o_custkey == customer.c_custkey)
                   .join(n_cust,
                         customer.c_nationkey == F.col("c_nk"))
                   .join(region, F.col("c_rk") == region.r_regionkey)
                   .select("o_orderkey", "o_orderdate"))
    if (_path_bytes(os.path.join(sf_dir, "orders.parquet"))
            <= _BCAST_GATE_BYTES):
        orders_asia = F.broadcast(orders_asia)
    j = (li.join(orders_asia,
                 li.l_orderkey == F.col("o_orderkey"))
           .join(supplier, li.l_suppkey == supplier.s_suppkey)
           .join(n_supp, supplier.s_nationkey == F.col("s_nk")))
    return (j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
             .agg(F.round(F.sum(target).cast("double") /
                          F.sum(vol).cast("double"), 6)
                   .alias("mkt_share"),
                  F.count(F.lit(1)).alias("n_items")))


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit, no partsupp in this
    corpus): part is filtered by a LIKE before the broadcast, so the
    join doubles as the selective filter on the fact; profit rolls up
    per supplier nation and order year."""
    part = F.broadcast(_t(spark, sf_dir, "part")
                       .where("p_name LIKE '%red%'")
                       .select("p_partkey"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier")
                           .select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders",
                 widen=False).select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = (F.col("l_extendedprice").cast("decimal(18,2)") *
              (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    j = (li.join(part, li.l_partkey == part.p_partkey)
           .join(supplier, li.l_suppkey == supplier.s_suppkey)
           .join(nation, supplier.s_nationkey == nation.n_nationkey)
           .join(orders, li.l_orderkey == orders.o_orderkey))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("bigint").alias("o_year"))
             .agg(F.round(F.sum(profit).cast("double"), 2)
                   .alias("sum_profit"),
                  F.count(F.lit(1)).alias("n_items")))


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item revenue, top 20 customers): the
    returnflag + quarter filters prune the fact before its single
    shuffle onto orders; customer and nation broadcast; the top-k is a
    TakeOrdered over the small agg output, tie-broken on the key for a
    deterministic cross-engine result."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    orders = _t(spark, sf_dir, "orders", widen=False).where(
        "o_orderdate >= timestamp '1996-10-01' AND "
        "o_orderdate < timestamp '1997-01-01'")
    li = _t(spark, sf_dir, "lineitem").where("l_returnflag = 'R'")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(nation, cust.c_nationkey == nation.n_nationkey))
    agg = (j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue")))
    return (agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
               .limit(20)
               .select("c_custkey", "c_name",
                       F.round(F.col("c_acctbal").cast("double"), 2)
                        .alias("acctbal"),
                       "n_name", "revenue"))


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (late shipments by priority class; returnflag
    stands in for shipmode): one equi-join shuffle on orderkey with the
    lateness predicate as a join-local residual, then conditional
    counts split high/low priority in a single aggregate pass."""
    orders = _t(spark, sf_dir, "orders", widen=False) \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= timestamp '1996-01-01' AND "
        "l_shipdate < timestamp '1997-01-01'") \
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    late = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .where(li.l_shipdate >
                     orders.o_orderdate + F.expr("INTERVAL 30 DAYS")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (late.groupBy("l_returnflag")
                .agg(F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
                      .alias("high_line_count"),
                     F.sum(F.when(high, 0).otherwise(1)).cast("bigint")
                      .alias("low_line_count")))


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): outer join
    with a pushed-into-the-join filter on the orders side (rows that
    fail it null out rather than drop the customer), then a second
    aggregation over the first's output — the classic two-level
    group-by whose second stage is tiny."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders") \
        .where("o_orderstatus <> 'F'") \
        .select("o_custkey", "o_orderkey")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey,
                          "left_outer")
                    .groupBy("c_custkey")
                    .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
                    .agg(F.count(F.lit(1)).alias("custdist")))


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    then the max selected by joining a broadcast single-row global max
    back onto the agg — no global sort, no window over a single
    partition; exact decimal sums make the max-equality comparison
    engine-identical.  The per-supplier aggregate is persisted (r12):
    the global-max broadcast builds in a separate job, so without the
    pin the whole lineitem scan + two-level aggregate executed twice —
    verified on the final AQE plan (no ReusedExchange between the
    max leg and the join leg); the persisted frame is |suppliers|
    rows of (key, double)."""
    li = _t(spark, sf_dir, "lineitem").where(
        "l_shipdate >= timestamp '1996-01-01' AND "
        "l_shipdate < timestamp '1996-04-01'")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    per_supp = scoped_persist(
        li.groupBy("l_suppkey")
          .agg(F.round(F.sum(rev).cast("double"), 2)
                .alias("total_revenue")))
    mx = per_supp.agg(F.max("total_revenue").alias("mx"))
    top = per_supp.join(F.broadcast(mx),
                        per_supp.total_revenue == F.col("mx")).drop("mx")
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (top.join(supplier, top.l_suppkey == supplier.s_suppkey)
               .select("s_suppkey", "s_name", "total_revenue"))


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier count per part attribute; lineitem
    stands in for partsupp): a broadcast anti-join removes blacklisted
    suppliers before the distinct-agg, and the count-distinct runs as
    the expand + two-phase aggregate Catalyst plans for it."""
    bad = F.broadcast(_t(spark, sf_dir, "supplier")
                      .where("s_acctbal < 0").select("s_suppkey"))
    part = F.broadcast(_t(spark, sf_dir, "part").where(
        "p_brand <> 'Brand#1' AND p_type <> 'PROMO' "
        "AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)"))
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    keep = li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
    return (keep.join(part, keep.l_partkey == part.p_partkey)
                .groupBy("p_brand", "p_type", "p_size")
                .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    per-part average subquery decorrelates into a groupBy over the fact
    plus an equi-join back on partkey.  The threshold is computed as
    exact-decimal-sum / count in double so both engines derive the
    identical IEEE value before the 0.2× comparison."""
    part = F.broadcast(_t(spark, sf_dir, "part")
                       .where("p_brand = 'Brand#13'")
                       .select("p_partkey"))
    li = _t(spark, sf_dir, "lineitem")
    # r12: the per-part average only matters for Brand#13 partkeys,
    # and a per-key average is unchanged by dropping OTHER keys — so
    # the brand broadcast-join runs FIRST and the average rides a
    # window over the filtered fact instead of a full-fact groupBy +
    # join back (guide §2.3/§2.4).  Before: two lineitem scans and a
    # partkey aggregate over 100% of the fact; after: one scan, one
    # exchange carrying only the brand's ~4% of rows.  Same
    # sum(decimal)->double / count(long) division, same rows.
    w = Window.partitionBy("l_partkey")
    avg_qty = (F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w)
                .cast("double") / F.count(F.lit(1)).over(w))
    j = (li.join(part, li.l_partkey == part.p_partkey)
           .withColumn("avg_qty", avg_qty)
           .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")))
    return j.agg(
        F.round((F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double") / F.lit(7.0)), 2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"))


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (disjunctive brand/size/quantity predicates):
    the three OR-arms share the same broadcast part join; Catalyst
    extracts the common p_partkey = l_partkey conjunct so the join is
    still a hash join with the disjunction as a residual filter."""
    part = F.broadcast(_t(spark, sf_dir, "part")
                       .select("p_partkey", "p_brand", "p_size"))
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    arm = ((F.col("p_brand") == "Brand#2") &
           F.col("p_size").between(1, 5) &
           F.col("l_quantity").between(1, 11)) | \
          ((F.col("p_brand") == "Brand#13") &
           F.col("p_size").between(1, 10) &
           F.col("l_quantity").between(10, 20)) | \
          ((F.col("p_brand") == "Brand#20") &
           F.col("p_size").between(1, 15) &
           F.col("l_quantity").between(20, 30))
    return (li.join(part, li.l_partkey == part.p_partkey)
              .where(arm)
              .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
                   F.count(F.lit(1)).alias("n_items")))


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity, nationkey standing in
    for the phone country code): the scalar average broadcasts as a
    one-row join input; customers-without-recent-orders is an
    anti-join against the pruned orders scan (every customer in this
    corpus has SOME order, so the recency filter keeps the anti arm
    non-trivial) — at 100 TB the anti side shuffles, same plan
    shape."""
    cust = _t(spark, sf_dir, "customer")
    thr = (cust.where("c_acctbal > 0")
               .agg((F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                      .cast("double") /
                     F.count(F.lit(1))).alias("thr")))
    rich = cust.join(F.broadcast(thr)) \
               .where(F.col("c_acctbal") > F.col("thr"))
    orders = (_t(spark, sf_dir, "orders", widen=False)
              .where("o_orderdate >= timestamp '2000-07-01'")
              .select("o_custkey"))
    lonely = rich.join(orders, rich.c_custkey == orders.o_custkey,
                       "left_anti")
    return (lonely.groupBy("c_nationkey")
                  .agg(F.count(F.lit(1)).alias("numcust"),
                       _money("c_acctbal").alias("totacctbal")))


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important stock identification; lineitem's
    per-(part, supplier) extended value stands in for partsupp value,
    as in ``tpch_q2``): total value per part over NATION_7 suppliers,
    kept when above a global fraction of the grand total.  The grand
    total derives from the SAME persisted per-part aggregate instead
    of a second corpus scan, then rides a one-row broadcast join; the
    threshold compare runs in exact decimal (``value * 1000 > total``)
    so the boundary never depends on float summation order.  At
    100 TB: one fact scan, one shuffle on l_partkey, and the re-agg +
    filter touch only |parts| rows."""
    supp = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")
                          .where("n_name = 'NATION_7'")),
              F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    val = (F.col("l_extendedprice").cast("decimal(18,2)") *
           (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,4)"))
    per_part = scoped_persist(
        li.join(supp, li.l_suppkey == supp.s_suppkey, "left_semi")
          .groupBy("l_partkey")
          .agg(F.sum(val).alias("value")))
    total = per_part.agg(F.sum("value").alias("total"))
    out = (per_part.join(F.broadcast(total))
                   .where(F.col("value") * F.lit(1000) > F.col("total"))
                   .select(F.col("l_partkey").alias("ps_partkey"),
                           F.round(F.col("value").cast("double"), 2)
                            .alias("value")))
    return out


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion; the correlated
    availability subquery becomes a per-part window average over the
    same shipped-quantity aggregate): suppliers from NATION_3 who, for
    some 'red' part, shipped more than half again the part's average
    per-supplier quantity in 1997.  Decorrelation is a window over the
    POST-aggregation (part, supplier) frame — the corpus is scanned
    once and the window input is |qualifying pairs|, not |lineitem|.
    Quantity sums are integer-valued doubles, so the 1.5× threshold
    compare is exact on both engines."""
    red_parts = F.broadcast(_t(spark, sf_dir, "part")
                            .where("p_name LIKE 'red%'")
                            .select("p_partkey"))
    li = (_t(spark, sf_dir, "lineitem")
          .where("l_shipdate >= timestamp '1997-01-01' AND "
                 "l_shipdate < timestamp '1998-01-01'")
          .join(red_parts, F.col("l_partkey") == F.col("p_partkey"),
                "left_semi"))
    qty = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.sum("l_quantity").alias("qty")))
    w = Window.partitionBy("l_partkey")
    heavy = (qty.withColumn("_avg", F.avg("qty").over(w))
                .where(F.col("qty") > F.lit(1.5) * F.col("_avg"))
                .select("l_suppkey").distinct())
    supplier = (_t(spark, sf_dir, "supplier")
                .join(F.broadcast(_t(spark, sf_dir, "nation")
                                  .where("n_name = 'NATION_3'")),
                      F.col("s_nationkey") == F.col("n_nationkey"),
                      "left_semi"))
    return (supplier.join(heavy, supplier.s_suppkey == heavy.l_suppkey,
                          "left_semi")
                    .select("s_suppkey", "s_name",
                            F.round(F.col("s_acctbal").cast("double"), 2)
                             .alias("acctbal")))


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting; shipdate
    lag over the order date stands in for receipt-vs-commit): late =
    shipped >60 days after an 'F' order was placed.  The EXISTS /
    NOT-EXISTS pair decorrelates to ONE per-order aggregate —
    n_suppliers >= 2 (some other supplier exists) and n_late_suppliers
    = 1 (nobody else was late) — so the plan is a single fact-fact
    shuffle on l_orderkey whose partitioning both the aggregate and
    the re-join reuse, then a broadcast supplier join for the
    NATION_2 filter.  The supplier filter must stay ABOVE the order
    stats: pushing it below would undercount the other suppliers the
    EXISTS arms quantify over."""
    orders_f = (_t(spark, sf_dir, "orders", widen=False)
                .where("o_orderstatus = 'F'")
                .select("o_orderkey", "o_orderdate"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = (li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
            .withColumn("late",
                        F.col("l_shipdate") >
                        F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")))
    # r12: the EXISTS/NOT-EXISTS counts ride ONE window over the
    # same l_orderkey partitioning instead of a groupBy + re-join —
    # the lineitem⋈orders subtree was physically evaluated twice
    # (two parquet scans + two broadcast joins, AQE cannot reuse a
    # broadcast-join output) and the re-join paid a SortMergeJoin
    # over a second l_orderkey shuffle.  collect_set skips NULLs,
    # so size(collect_set(when(late, supp))) == countDistinct of
    # late suppliers — identical survivor set by construction.
    # Interleaved A/B at sf0.1: 0.678x (3.96 -> 2.69 s medians).
    w = Window.partitionBy("l_orderkey")
    l1 = (lo.withColumn(
              "n_supp", F.size(F.collect_set("l_suppkey").over(w)))
            .withColumn(
              "n_late",
              F.size(F.collect_set(
                  F.when(F.col("late"), F.col("l_suppkey"))).over(w)))
            .where("late AND n_supp >= 2 AND n_late = 1"))
    supplier = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(_t(spark, sf_dir, "nation")
                          .where("n_name = 'NATION_2'")),
              F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name"))
    return (l1.join(supplier, l1.l_suppkey == supplier.s_suppkey)
              .groupBy("s_name")
              .agg(F.count(F.lit(1)).alias("numwait"))
              .orderBy(F.col("numwait").desc(), F.col("s_name"))
              .limit(100))


def q_bm25_search(spark, sf_dir):
    """BM25 full-text ranking (k1=1.2, b=0.75) of the documents table
    against a fixed term set — the retrieval scorer a training-data
    pipeline uses for quality-targeted selection.  The term set is
    FIXED, so per-doc stats come from ONE map-side projection of the
    token array (dl = array size, tf(term) = occurrence count) —
    no explode, no vocabulary-wide (doc, term) shuffle; the corpus
    is scanned once into a persisted (doc_id, dl, tf x3) frame a few
    ints wide.  Constants and df broadcast as one-row / |terms|-row
    join inputs, the score is a pure map-side expression, and the
    top-20 rides the same TakeOrdered path as ``topk``.  The
    persisted frame lives until the harness's per-query release
    (bench.py and tools/check_oracle.py both isolate queries that
    way)."""
    K1, B = 1.2, 0.75
    terms = ["spark", "merge", "vector"]
    docs = _t(spark, sf_dir, "documents")
    # r12 optimization: the query only ever consumes per-doc stats
    # for THREE fixed terms plus the doc length, so the whole-
    # vocabulary (doc, term) aggregate shuffled corpus-token-count
    # rows to derive numbers a map-side array expression yields for
    # free: dl = size of the token array, tf(term) = occurrences of
    # the term in it.  One narrow (doc_id, dl, tf x3) projection
    # (token array bound once as an attribute) replaces the explode
    # + full-vocab shuffle — at 100 TB that shuffle is the dominant
    # cost of the old plan; here it removes the biggest exchange.
    # Values are identical: sum(tf)=dl, count per (doc, term)=array
    # occurrence count (oracle unchanged, MATCH re-verified).
    toks = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
         .alias("__toks"))

    def _eq(word):
        # single-arg lambda: a two-arg one would make filter() pass
        # the element INDEX as the second argument (dedup.py r9)
        return lambda t: t == F.lit(word)

    base = scoped_persist(
        toks.select(
            "doc_id", F.size("__toks").alias("dl"),
            *[F.size(F.filter("__toks", _eq(w)))
              .alias(f"__tf{i}") for i, w in enumerate(terms)])
            .where(F.col("dl") > 0))
    consts = base.agg(F.avg(F.col("dl").cast("double")).alias("avgdl"),
                      F.count(F.lit(1)).alias("n_docs"))
    tf = (base.selectExpr(
            "doc_id", "dl",
            "stack({}, {}) as (term, tf)".format(
                len(terms), ", ".join(
                    f"'{w}', cast(__tf{i} as bigint)"
                    for i, w in enumerate(terms))))
          .where(F.col("tf") > 0))
    df_ = F.broadcast(tf.groupBy("term")
                        .agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(df_, "term")
                .join(F.broadcast(consts))
                .withColumn(
                    "idf",
                    F.log((F.col("n_docs") - F.col("df") + 0.5) /
                          (F.col("df") + 0.5) + 1.0))
                .withColumn(
                    "score",
                    F.col("idf") * F.col("tf") * (K1 + 1) /
                    (F.col("tf") + K1 * (1 - B + B * F.col("dl") /
                                         F.col("avgdl")))))
    return (scored.groupBy("doc_id")
                  .agg(F.round(F.sum("score"), 6).alias("bm25"),
                       F.count(F.lit(1)).alias("n_terms_hit"))
                  .orderBy(F.col("bm25").desc(), F.col("doc_id"))
                  .limit(20))


def q_distinct_agg(spark, sf_dir):
    """Distinct aggregation (SURVEY §2.6): exact distinct-customer
    count per priority — expand+two-phase agg under AQE."""
    orders = _t(spark, sf_dir, "orders")
    return (orders.groupBy("o_orderpriority")
                  .agg(F.countDistinct("o_custkey").alias("n_custkeys"),
                       F.count(F.lit(1)).alias("n_orders"),
                       _money("o_totalprice").alias("sum_total")))


def q_set_ops(spark, sf_dir):
    """Set operators (SURVEY §2.6: absent in reference): custkeys with
    both open and finished orders (INTERSECT) and open-only (EXCEPT)."""
    o_keys = _t(spark, sf_dir, "orders", widen=False) \
        .where("o_orderstatus = 'O'").select("o_custkey")
    f_keys = _t(spark, sf_dir, "orders", widen=False) \
        .where("o_orderstatus = 'F'").select("o_custkey")
    both = o_keys.intersect(f_keys) \
        .select("o_custkey", F.lit("both").alias("tag"))
    only_o = o_keys.subtract(f_keys) \
        .select("o_custkey", F.lit("only_open").alias("tag"))
    return both.unionByName(only_o)


def q_pivot(spark, sf_dir):
    """Pivot (SURVEY §2.6): order counts by priority × status, pivoted
    to one column per status — values pinned so the plan needs no
    distinct-values pre-pass."""
    orders = _t(spark, sf_dir, "orders")
    p = (orders.groupBy("o_orderpriority")
               .pivot("o_orderstatus", ["O", "F", "P"])
               .agg(F.count(F.lit(1))))
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_finished"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_pending"))


# ---------------------------------------------------------------------------
# corpus / LLM-pipeline queries (BASELINE.json north star)

def q_unpivot(spark, sf_dir):
    """Unpivot/melt (SURVEY §2.6 family: absent in reference): wide
    measure columns reshaped to long (metric, value) rows, then one
    aggregate pass.  Catalyst's Expand node emits the long rows
    map-side — one scan, no join, partial agg still applies."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric", "val")
    return (long.groupBy("l_returnflag", "metric")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.round(F.sum(F.col("val").cast("decimal(18,2)"))
                              .cast("double"), 2).alias("sum_val")))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalised text."""
    return exact_dedup(_t(spark, sf_dir, "documents")) \
        .select("text_hash", "keep_id", "dup_count")


def q_dedup_lsh_capped(spark, sf_dir):
    """The 100 TB production spelling of LSH near-dup: banded MinHash
    with ``max_bucket_size`` bounding the quadratic candidate blowup
    on boilerplate-dense buckets (measured 95x -> 4.1x on a 10x
    corpus, SCALE.md).  The cap is a deterministic function of bucket
    occupancy, so the DuckDB oracle reproduces the exact surviving
    pair set."""
    pairs = lsh_jaccard_pairs(_t(spark, sf_dir, "documents"),
                              n=5, num_hashes=16, num_bands=4,
                              threshold=0.6, max_bucket_size=10)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard"))


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via distributed blocked GEMM."""
    pairs = embedding_dup_pairs_gemm(_t(spark, sf_dir, "embeddings"),
                                     threshold=0.4, block_size=256)
    return pairs.select("id_a", "id_b",
                        F.round("cos_sim", 6).alias("cos_sim"))


def q_dedup_embedding_bucketed(spark, sf_dir):
    """Embedding near-dup pairs with hyperplane-LSH bucketing in front
    of the blocked-GEMM scorer: block pairs form only within a bucket
    (Hamming<=2 multiprobe), so the block-pair join is a bucket-keyed
    equi-join, never all-pairs — the 100 TB composition of the two
    kernels.  The oracle reproduces the pair set from the identical
    baked plane literals via bit_count(xor(sig_a, sig_b)) <= 2."""
    from dask_ms_spark.llm.dedup import embedding_dup_pairs_bucketed

    embs = _t(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    pairs = embedding_dup_pairs_bucketed(
        embs, dim=64, threshold=0.4, num_planes=4, block_size=256,
        multiprobe=True)
    return pairs.select("id_a", "id_b",
                        F.round("cos_sim", 6).alias("cos_sim"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash signatures (15 usable bits): explode + partial-agg vote
    sums — the shuffle-friendly SimHash shape."""
    docs = _t(spark, sf_dir, "documents")
    return with_simhash(docs, shingle_k=4, bits=16) \
        .select(F.col("id").alias("doc_id"), "simhash")


def q_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbours: 16 cells, 4 probes
    — the ANN scale path (cell-local scoring joins only)."""
    embs = _t(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = embs.where("vec_id < 5")
    return ivf_topk(embs, queries, k=10, num_cells=16, nprobe=4) \
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                F.round("cos_sim", 6).alias("cos_sim"))


def q_text_winnow(spark, sf_dir):
    """Winnowing fingerprints: per-window minima of rolling k-gram
    hashes (the rolling-hash fingerprint family), staged so each md5
    is computed once.  The fingerprint set is serialized to a CSV
    string (driver's pandas canon cannot sort list cells)."""
    docs = _t(spark, sf_dir, "documents")
    return with_fingerprint(docs, k=8, window=4).select(
        "doc_id",
        F.array_join(F.col("fps").cast("array<string>"), ",")
         .alias("fps"))


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-k: first 5 vectors as queries, k=10."""
    embs = _t(spark, sf_dir, "embeddings")
    queries = embs.where("vec_id < 5")
    return brute_force_topk(embs, queries, k=10) \
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"),
                F.round("cos_sim", 6).alias("cos_sim"))


def q_text_stats(spark, sf_dir):
    """Token counting + quality features."""
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["digit_ratio"], 6).alias("digit_ratio"))


def q_text_langid(spark, sf_dir):
    """Stopword-scored language ID."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", langid(F.col("text")).alias("pred_lang"),
                       "lang")


def q_text_fingerprint(spark, sf_dir):
    """Whole-document fingerprint: portable 60-bit digest of the
    normalised text (the oracle-checkable form of rolling-hash
    fingerprinting; windowed variant in functions/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        portable_hash64(normalize_text(F.col("text"))).alias("fp"))


def q_text_bpe(spark, sf_dir):
    """BPE-ish regex token counting + stopword-ratio quality signal
    (brief: whitespace AND regex token counts) — all codegen'd
    regexp/array ops, no Python."""
    from dask_ms_spark.functions.text import (bpe_token_count,
                                              stopword_ratio)

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"))


def q_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH approximate top-k (the second ANN scale
    path next to IVF): sign-signature buckets + Hamming-1 multiprobe;
    the scoring join is bucket-local.  Hyperplanes are md5-seeded, so
    the oracle bakes the identical plane literals into its SQL."""
    from dask_ms_spark.llm.similarity import lsh_topk

    embs = _t(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = embs.where("vec_id < 5")
    return lsh_topk(embs, queries, dim=64, k=10, num_planes=8,
                    multiprobe=True) \
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"),
                F.round("cos_sim", 6).alias("cos_sim"))


def q_sample_split(spark, sf_dir):
    """Deterministic train/val/test split + hash sampling: membership
    is a pure function of (id, salt) via the portable md5 hash, so the
    oracle reproduces it row for row — the property that makes splits
    stable across engines and re-runs at 100 TB."""
    from dask_ms_spark.llm.sampling import deterministic_split, hash_bucket

    docs = _t(spark, sf_dir, "documents")
    split = deterministic_split(docs, "doc_id")
    return split.select(
        "doc_id", "split",
        (hash_bucket(F.col("doc_id"), 1_000_000, "sample")
         < F.lit(100_000)).alias("in_10pct_sample"))


def q_udaf_ols(spark, sf_dir):
    """Per-user OLS slope of event value over hours since first event.

    Default spelling is the native single-aggregate path (regr_slope
    rebased arithmetically — slope is shift-invariant in x, so only
    the intercept needs the group minimum); the grouped Arrow-batch
    kernel (reference §2.9 UDF surface as applyInPandas) lives behind
    ``method='kernel'`` and is property-tested identical.  The Python
    mapInPandas surface keeps its own oracle row via
    ``multimodal_features``."""
    from dask_ms_spark.functions.stats import grouped_ols

    events = _ev(spark, sf_dir)
    fit = grouped_ols(events, "user_id", "ts", "value", x_scale=3600.0)
    return fit.select("user_id", "n_events",
                      F.round("slope", 6).alias("slope"),
                      F.round("intercept", 6).alias("intercept"))


def q_events_windowed(spark, sf_dir):
    """Tumbling-window aggregation (Structured Streaming semantics on
    the batch path; identical code runs the stream — SURVEY §2.10)."""
    events = _ev(spark, sf_dir)
    wc = windowed_counts(events, "1 hour")
    return wc.select(F.unix_timestamp("window_start").alias("win_epoch"),
                     "event_type", "n_events", "sum_value")


def q_events_sliding(spark, sf_dir):
    """Sliding-window (2h window, 1h slide) per-user stats."""
    events = _ev(spark, sf_dir)
    sl = sliding_value_stats(events, "2 hours", "1 hour")
    return sl.select(F.unix_timestamp("window_start").alias("win_epoch"),
                     "user_id", "n_events", "avg_value")


def q_events_session(spark, sf_dir):
    """Session windows (30-minute gap) per user — Structured
    Streaming's session_window on the batch path; the oracle mirrors it
    with gaps-and-islands SQL."""
    events = _ev(spark, sf_dir)
    return (events.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                           "user_id")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                                .cast("double"), 4).alias("sum_value"))
                  .select(F.unix_timestamp("w.start").alias("session_epoch"),
                          "user_id", "n_events", "sum_value"))


def q_events_props(spark, sf_dir):
    """Semi-structured column: JSON props parsed JVM-side
    (get_json_object), aggregated per event_type — the standard
    event-payload shape."""
    events = _ev(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (events.select("event_type", k.alias("k"))
                  .groupBy("event_type")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum("k").alias("sum_k"),
                       F.count(F.when(F.col("k") > 50, 1)).alias("n_hi")))


def q_table_profile(spark, sf_dir):
    """ANALYZE-style one-pass column profile (nulls/ndv/min/max) —
    every stat partial-merges map-side, one scan regardless of column
    count.  Restricted to integer/string columns so min/max string
    rendering is engine-identical; at 100 TB run with exact_ndv=False
    (HyperLogLog) — this exact form is that sketch's oracle."""
    from dask_ms_spark.functions.stats import profile_table

    orders = _t(spark, sf_dir, "orders")
    return profile_table(orders, ["o_orderkey", "o_custkey",
                                  "o_orderstatus", "o_orderpriority"])


def q_events_correlate(spark, sf_dir):
    """Stream-stream-join shape on the batch path: clicks correlated
    with same-user errors within 30 minutes (streaming form carries
    watermarks on both sides so join state is evictable).  Delays
    average over exact integer microseconds, so the mean is
    engine-deterministic."""
    from dask_ms_spark.streaming.events import correlate_events

    events = _ev(spark, sf_dir)
    pairs = correlate_events(events, "click", "error", "30 minutes")
    # timestampdiff accepts TIMESTAMP and TIMESTAMP_NTZ alike (the
    # testdata parquet is naive micros, which Spark 4 infers as NTZ);
    # unix_micros rejects NTZ, and an NTZ->LTZ cast would drag the
    # session timezone into the arithmetic.
    delay_us = F.expr("timestampdiff(MICROSECOND, a_ts, b_ts)")
    return (pairs.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("n_pairs"),
                      F.round(F.avg(delay_us) / F.lit(1e6), 4)
                       .alias("avg_delay_s")))


def q_events_dedup(spark, sf_dir):
    """Watermarked stream deduplication on its batch path: events with
    the same (user, type) inside one 5-minute bucket collapse to a
    deterministic representative (min ts, then min event_id).  The
    streaming form is dropDuplicatesWithinWatermark with evictable
    state; the parity test checks both keep the same duplicate
    classes."""
    events = _ev(spark, sf_dir)
    kept = dedup_events(events, bucket_s=300)
    return (kept.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                              .cast("double"), 4).alias("sum_value")))


def q_events_funnel(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase): each stage
    is a per-user MIN over events strictly after the previous stage's
    time, so conversion respects event order, not mere co-occurrence.
    The whole funnel rides ONE user_id-keyed aggregate (r12 — the
    staged groupBy+join spelling shuffled the event stream per stage),
    and stage-to-stage latency averages over exact integer
    microseconds before one final division, so the mean is
    engine-deterministic."""
    ev = (_ev(spark, sf_dir)
          .select("user_id", "event_type", "ts")
          .where(F.col("event_type").isin("view", "click", "purchase")))
    # r12: the staged spelling shuffled the event stream on user_id
    # once per stage (3 aggregates + 2 joins, 6 event scans in the
    # plan); ONE user-keyed pass carries the same information.
    # r13 (verdict r12 item 3): the r12 spelling got the one-shuffle
    # plan by collect_list'ing the click/purchase timestamps per user
    # — an aggregation buffer that grows with the hottest user's
    # event count and cannot spill mid-key (guide §5 per-key state).
    # Chained conditional window-MINs over the SAME user_id exchange
    # carry the identical values with bounded state: WindowExec
    # buffers rows in a spillable array, and each stage's "min ts
    # strictly after the previous stage" is a conditional MIN whose
    # predicate reads the previous window's output column.  A user
    # without the previous stage has t_prev NULL, the predicate
    # evaluates NULL and the MIN sees nothing — exactly the rows the
    # staged joins dropped.  The trailing per-user collapse reuses
    # the window's hashpartitioning(user_id), so the plan still has
    # one data exchange before the final 1-row aggregate.
    w = Window.partitionBy("user_id")
    staged = (ev
              .withColumn("t1", F.min(F.when(
                  F.col("event_type") == "view", F.col("ts")))
                  .over(w))
              .withColumn("t2", F.min(F.when(
                  (F.col("event_type") == "click")
                  & (F.col("ts") > F.col("t1")), F.col("ts")))
                  .over(w))
              .withColumn("t3", F.min(F.when(
                  (F.col("event_type") == "purchase")
                  & (F.col("ts") > F.col("t2")), F.col("ts")))
                  .over(w)))
    funnel = (staged.groupBy("user_id")
              .agg(F.min("t1").alias("t1"),
                   F.min("t2").alias("t2"),
                   F.min("t3").alias("t3")))
    # exact integer microseconds (not SECOND diffs, whose sub-second
    # truncation differs between engines); avg skips the NULL rows of
    # users who never reached the stage — the same value sets the
    # staged frames aggregated
    one = funnel.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        F.avg(F.expr("timestampdiff(MICROSECOND, t1, t2)")).alias("a2"),
        F.avg(F.expr("timestampdiff(MICROSECOND, t2, t3)")).alias("a3"))
    return (one.select(F.explode(F.array(
        F.struct(F.lit("1_view").alias("stage"),
                 F.col("n1").alias("n_users"),
                 F.lit(None).cast("double").alias("avg_hours")),
        F.struct(F.lit("2_click").alias("stage"),
                 F.col("n2").alias("n_users"),
                 F.round(F.col("a2") / 3.6e9, 6).alias("avg_hours")),
        F.struct(F.lit("3_purchase").alias("stage"),
                 F.col("n3").alias("n_users"),
                 F.round(F.col("a3") / 3.6e9, 6).alias("avg_hours"))))
        .alias("s")).select("s.*"))


def q_events_retention(spark, sf_dir):
    """Cohort retention: users grouped by the ISO week of their first
    event, activity counted per whole-week offset from that first
    event.  Cohort assignment is a per-user window MIN riding the one
    user_id shuffle (r12 — the groupBy+join-back spelling shuffled the
    event stream twice for the identical first_ts), then a
    distinct-count per (cohort, offset) — the offset derives from
    exact integer microseconds so bucket edges match across
    engines."""
    ev = (_ev(spark, sf_dir)
          .select("user_id", "ts"))
    j = ev.withColumn(
        "first_ts", F.min("ts").over(Window.partitionBy("user_id")))
    return (j.select(
                F.date_format(F.date_trunc("week", F.col("first_ts")),
                              "yyyy-MM-dd").alias("cohort_week"),
                F.floor(F.expr("timestampdiff(MICROSECOND, first_ts, ts)")
                        / 604800e6).alias("week_offset"),
                "user_id")
             .groupBy("cohort_week", "week_offset")
             .agg(F.countDistinct("user_id").alias("n_users")))


def q_value_histogram(spark, sf_dir):
    """Fixed-width histogram of event values per type (bin width 20,
    clamped top bin): binning is a pure map-side expression into a
    single partial-merged aggregate — the one-pass profile shape that
    costs one reduce of |types x bins| rows at any corpus size."""
    ev = _ev(spark, sf_dir)
    b = F.least(F.floor(F.col("value") / 20.0), F.lit(24)).alias("bin")
    return (ev.select("event_type", b, "value")
              .groupBy("event_type", "bin")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                            .cast("double"), 2).alias("sum_value"))
              .withColumn("bin_lo", F.col("bin") * 20.0))


def q_negative_sampling(spark, sf_dir):
    """Contrastive-training negative pairs: k deterministic uniform
    negatives per document (map-side k-way explode + one-row broadcast
    for N; the corpus never shuffles).  Identical (id, i, salt) ->
    negative on every engine, so regenerated epochs agree pair for
    pair with the training job."""
    from dask_ms_spark.llm.sampling import negative_sampling

    docs = _t(spark, sf_dir, "documents")
    return negative_sampling(docs, "doc_id", k=4)


def q_skew_profile(spark, sf_dir):
    """Heavy-hitter key profile of a join key (here lineitem's
    l_orderkey): per-key counts from one partial-merged aggregate,
    the grand total re-aggregated from the SAME persisted frame (the
    ``tpch_q11`` discipline — never an unpartitioned window over
    |keys| rows), top-20 by share.  This is the diagnostic that
    decides when a join needs ``salted_join``: at 100 TB the skew
    detector must itself not be skew-prone — its shuffle carries
    (key, count), never rows."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    per_key = scoped_persist(
        li.groupBy("l_orderkey")
          .agg(F.count(F.lit(1)).alias("n")))
    total = per_key.agg(F.sum("n").alias("total"))
    return (per_key.join(F.broadcast(total))
                   .select(F.col("l_orderkey").alias("key"), "n",
                           F.round(F.col("n") / F.col("total"), 6)
                            .alias("share"))
                   .orderBy(F.col("n").desc(), F.col("key"))
                   .limit(20))


def q_events_transitions(spark, sf_dir):
    """Markov transition matrix over per-user event sequences: lag
    window keyed (user_id) ordered (ts, event_id) — the event_id
    tiebreak makes same-timestamp ordering engine-deterministic —
    then one count per (prev, next) pair.  One shuffle on user_id;
    the reduce side is |types x types| rows at any corpus size."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
    return (seq.where(F.col("prev_type").isNotNull())
               .groupBy("prev_type",
                        F.col("event_type").alias("next_type"))
               .agg(F.count(F.lit(1)).alias("n")))


def q_text_repetition(spark, sf_dir):
    """Gopher-style within-document repetition signals: word-bigram
    duplicate ratio + dominant-bigram share, the standard quality
    filter for machine-generated/boilerplate text."""
    from dask_ms_spark.functions.text import bigram_repetition

    return bigram_repetition(_t(spark, sf_dir, "documents"))


def q_corpus_mixture(spark, sf_dir):
    """Training-mixture planning table: per (source, detected
    language) document counts, token totals, and mean length — the
    aggregate a weighted mixture sampler consumes.  One corpus scan;
    every stat partial-merges map-side (integer sums are exact, so
    the derived mean is engine-identical)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("source",
                        langid(F.col("text")).alias("pred_lang"),
                        token_count(F.col("text")).cast("long")
                        .alias("toks"),
                        F.length("text").cast("long").alias("chars"))
                .groupBy("source", "pred_lang")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("toks").alias("total_tokens"),
                     F.round(F.avg("chars"), 4).alias("avg_chars")))


def q_contamination(spark, sf_dir):
    """Train/eval decontamination: train docs (source != src0) whose
    20-char-gram shingles collide with the eval corpus (source ==
    src0).  The eval shingle set broadcasts, so the train side never
    shuffles its payload — the 100 TB decontamination shape."""
    from dask_ms_spark.llm.contamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    report = contamination_report(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        n=20, min_hits=1)
    return report.orderBy("doc_id")


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (the corpus_mixture
    materialization step): per-source keep-rates applied through the
    portable id hash, so the oracle reproduces membership row for row
    — including a zero-rate stratum and the unlisted default."""
    from dask_ms_spark.llm.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    samp = stratified_sample(
        docs, "doc_id", "source",
        {"src1": 0.5, "src2": 0.25, "src3": 0.0}, default_rate=0.75)
    return samp.select("doc_id", "source", "lang")


def q_embed_project(spark, sf_dir):
    """Johnson-Lindenstrauss random projection of the embedding table
    to 4 scalar components — map-side codegen, planes baked into the
    plan as prefix-stable literal arrays (dim probed from the data, so
    a regenerated corpus with a different dim stays oracle-true)."""
    from dask_ms_spark.llm.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    proj = random_projection(emb, dim=dim, out_dim=4)
    return proj.select(
        "vec_id", *[F.round(f"p{j}", 6).alias(f"p{j}")
                    for j in range(4)])


def q_pack_contexts(spark, sf_dir):
    """Context-packing plan (concat-and-cut, the pre-training layout):
    bucketed token streams, one running-sum window per bucket; every
    document's (pack, offset, spans) is a pure function of the hash
    bucket and prefix sums, so the layout is engine-reproducible."""
    from dask_ms_spark.functions.text import token_count
    from dask_ms_spark.llm.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_toks"))
    return pack_sequences(docs, "doc_id", "n_toks",
                          capacity=512, n_buckets=8)


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: 50 most frequent tokens with occurrence and
    document frequencies (llm/corpus.py — explode -> (token, doc)
    partial-count -> (token) merge -> deterministic top-k)."""
    from dask_ms_spark.llm.corpus import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


def q_phrase_boilerplate(spark, sf_dir):
    """Cross-document duplicated-phrase ratio per doc (boilerplate
    signal word-5-grams; hashes shuffle, payloads don't)."""
    from dask_ms_spark.llm.corpus import phrase_boilerplate

    return phrase_boilerplate(_t(spark, sf_dir, "documents"), n=5)


def q_pagerank(spark, sf_dir):
    """PageRank centrality over the near-dup candidate graph (same
    LSH pair pipeline as split_leakage): template hubs rank high.
    Two power iterations, fixed-point-quantised contributions so the
    recursive SQL mirror is value-identical."""
    from dask_ms_spark.llm.dedup import minhash_lsh_pairs
    from dask_ms_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, num_bands=4,
                              shingle_k=5, threshold=0.5)
    pr = pagerank(pairs, "id_a", "id_b",
                  nodes=docs.select(F.col("doc_id").alias("id")))
    return pr.select(F.col("id").alias("doc_id"),
                     F.round("rank", 6).alias("rank"))


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload -> mapInPandas byte-level
    feature extraction.  Every output column is a pure function of the
    payload bytes (length, md5-prefix hash64, magic-bytes tag,
    boundary bytes, header dims), so the Python kernel path is fully
    oracle-checkable — the Arrow exchange itself is what's under test.
    The codec-stubbed decode variant lives in
    ``llm.multimodal.decode_image_features``."""
    media = media_table(_t(spark, sf_dir, "documents"))
    return binary_features(media)


def q_resample_interp(spark, sf_dir):
    """Gap interpolation (operators/timeseries.py interpolate_linear)
    layered on the resample grid: NULL buckets take the linear blend
    of the nearest observations on either side (no extrapolation past
    the ends), computed in two frames over ONE per-key window sort."""
    from dask_ms_spark.operators.timeseries import (interpolate_linear,
                                                    resample_fill)

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    out = interpolate_linear(resample_fill(ev, step_seconds=21600),
                             ["user_id"], "bucket", "v_avg")
    return out.select(
        "user_id", "bucket", "n_events", "is_gap",
        F.coalesce(F.round(F.col("v_interp") * 1e6).cast("long"),
                   F.lit(-999999999)).alias("interp_q"))


_RESAMPLE_INTERP_SQL = """
    WITH agg AS (
        SELECT user_id AS key,
               CAST(floor(date_diff('second',
                        TIMESTAMP '2024-01-01 00:00:00', ts)
                    / 21600) AS BIGINT) AS bucket,
               count(*) AS n_events,
               round(avg(value), 6) AS v_avg
        FROM events WHERE event_type = 'click'
        GROUP BY 1, 2),
    rng AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi
            FROM agg GROUP BY key),
    grid AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket
             FROM rng),
    j AS (SELECT g.key, g.bucket,
                 coalesce(a.n_events, 0) AS n_events,
                 a.n_events IS NULL AS is_gap, a.v_avg
          FROM grid g LEFT JOIN agg a
            ON g.key = a.key AND g.bucket = a.bucket),
    x AS (SELECT key, bucket, n_events, is_gap, v_avg,
                 last_value(v_avg IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pv,
                 last_value(CASE WHEN v_avg IS NOT NULL
                            THEN cast(bucket as double) END
                            IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS pb,
                 first_value(v_avg IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nv,
                 first_value(CASE WHEN v_avg IS NOT NULL
                             THEN cast(bucket as double) END
                             IGNORE NULLS) OVER (
                     PARTITION BY key ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS nb
          FROM j)
    SELECT key AS user_id, bucket, n_events, is_gap,
           coalesce(cast(round((CASE
               WHEN v_avg IS NOT NULL THEN cast(v_avg as double)
               WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (cast(bucket as double) - pb)
                    / (nb - pb)
               END) * 1000000) as bigint), -999999999) AS interp_q
    FROM x
"""


def q_doc_chunks(spark, sf_dir):
    """Training-data chunking: overlapping 120-char windows at stride
    90, then per-document chunk statistics (count, boundary checksum)
    so the result stays compact at any scale."""
    from dask_ms_spark.llm.corpus import chunk_documents

    chunks = chunk_documents(_t(spark, sf_dir, "documents"),
                             chunk_chars=120, stride=90)
    return (chunks.groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_chunks"),
                       F.sum("chunk_len").alias("total_chunk_chars"),
                       F.max("chunk_len").cast("long")
                        .alias("max_chunk_len"),
                       F.min("chunk_len").cast("long")
                        .alias("min_chunk_len"),
                       F.sum(portable_hash64(F.col("chunk"))
                              % F.lit(1_000_003)).alias("chunk_checksum")))


def q_pii_redact(spark, sf_dir):
    """PII scan + redaction.  The synthetic corpus carries no PII, so
    the query plants a deterministic contact line per document (email
    always; phone on doc_id%3==0; ip on doc_id%4==0) and the operator
    must count and strip exactly those.  Pure map-side regexp work —
    composes into the scan with zero shuffles."""
    from dask_ms_spark.llm.corpus import pii_scan

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    contact = F.concat(
        F.col("text"),
        F.lit(" contact: user"), did.cast("string"),
        F.lit("@example"), (did % 7).cast("string"), F.lit(".com"),
        F.when(did % 3 == 0,
               F.concat(F.lit(" tel 555-10"), (did % 10).cast("string"),
                        F.lit("-4567"))).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.concat(F.lit(" host 10.0."), (did % 250).cast("string"),
                        F.lit(".7"))).otherwise(F.lit("")))
    scanned = pii_scan(d.select("doc_id", contact.alias("text")))
    return scanned.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "n_ssn",
        F.length("redacted").cast("long").alias("redacted_len"),
        portable_hash64(F.col("redacted")).alias("redacted_hash"))


def q_corpus_diff(spark, sf_dir):
    """Release-to-release corpus audit: v2 simulated from v1 by
    removing doc_id%11==0, rewriting text for doc_id%5==0, and adding
    fresh ids (+100000 for doc_id%13==0); the diff must label exactly
    those as removed/changed/added, everything else unchanged.  Both
    sides project to (id, digest) before the full-outer join.

    r12 examined, kept as-is: a one-scan variant (persist both
    versions' digests off one payload projection, exploiting the
    bench's v2-from-v1 derivation) A/B'd flat-to-worse (median ~1.05
    over four interleaved sessions) and its scale story is synthetic —
    two real corpus versions are separate tables, each already
    scanned exactly once by this shape."""
    from dask_ms_spark.llm.corpus import corpus_diff

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v2 = (d.where(did % 11 != 0)
           .select("doc_id",
                   F.when(did % 5 == 0,
                          F.concat("text", F.lit(" rev2")))
                    .otherwise(F.col("text")).alias("text"))
           .unionByName(
               d.where(did % 13 == 0)
                .select((did + 100000).alias("doc_id"), "text")))
    return corpus_diff(d, v2)


def q_zorder_layout(spark, sf_dir):
    """Multi-column layout key: Morton-interleave (user_id, 6-hour
    bucket) so range-partitioned rewrites cluster rows close in BOTH
    dimensions — parquet min/max stats then prune scans filtered on
    either column (see compact_parquet for the rewrite)."""
    from dask_ms_spark.operators.ordering import zorder_key
    from dask_ms_spark.operators.timeseries import bucket_index

    ev = _t(spark, sf_dir, "events")
    return (ev.select("event_id", "user_id",
                      bucket_index("ts", 21600).alias("bucket"))
              .select("event_id", "user_id", "bucket",
                      zorder_key(["user_id", "bucket"], bits=16)
                      .alias("zkey")))


def q_rollup_merge(spark, sf_dir):
    """Continuous-aggregate maintenance: history rollup + delta rollup
    merged WITHOUT re-aggregating history, proven equal to the full
    re-aggregate by the oracle (which computes the rollup directly
    from all events).  Sums accumulate in decimal(18,2) so the merge
    is bit-exact cross-engine.

    r12 examined, kept as-is: folding both slices into ONE flagged
    aggregate + persist A/B'd 1.13-1.40x SLOWER (persist
    materialisation + an extra merge shuffle cost more than the saved
    second scan), and the two-scan shape is itself a bench artifact —
    in production the history rollup is read back from storage, never
    re-aggregated, which is the exact property this query proves."""
    from dask_ms_spark.operators.timeseries import (bucket_aggregate,
                                                    merge_rollups)

    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "ts", "user_id",
                  F.col("value").cast("decimal(18,2)").alias("value")))
    history = ev.where(F.col("event_id") % 10 < 8)
    delta = ev.where(F.col("event_id") % 10 >= 8)
    merged = merge_rollups(
        bucket_aggregate(history, step_seconds=21600),
        bucket_aggregate(delta, step_seconds=21600))
    return merged.select(
        F.col("key").alias("user_id"), "bucket", "n_events",
        F.round(F.col("v_sum").cast("double"), 2).alias("v_sum"))


# Shared by q_sample_mixture and its oracle: the normalised weights
# are computed once in Python and baked as identical double literals
# on both sides, so the derived per-stratum keep-rates agree
# bit-for-bit.
_MIXTURE_WEIGHTS = {"src0": 3.0, "src1": 2.0}
_MIXTURE_DEFAULT = 1.0
_MIXTURE_BUDGET = 10_000


def q_sample_mixture(spark, sf_dir):
    """Mixture execution: downsample each source so it contributes
    ~its target share of a token budget (rates derived from the
    corpus's own per-stratum totals — the step after the
    ``corpus_mixture`` planning aggregate).  One partial-merged agg +
    broadcast of the |strata|-row rate table + row-local hash
    filter."""
    from dask_ms_spark.llm.sampling import sample_to_mixture

    docs = _t(spark, sf_dir, "documents")
    out = sample_to_mixture(docs, "doc_id", "source", _MIXTURE_WEIGHTS,
                            budget_tokens=_MIXTURE_BUDGET,
                            token_col="n_chars",
                            default_weight=_MIXTURE_DEFAULT)
    return out.select("doc_id", "source", "n_chars")


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup of a new batch against the base corpus's
    fingerprint store.  Planted overlap: new docs (doc_id%5==0) where
    doc_id%10==0 carry the text of base doc doc_id+1, so exactly those
    must flag as dups.  Only (id, 8-byte digest) ever shuffles."""
    from dask_ms_spark.llm.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    base = d.where(F.col("doc_id") % 5 != 0)
    donor = base.select((F.col("doc_id") - 1).alias("doc_id"),
                        F.col("text").alias("donor_text"))
    new_batch = (d.where(F.col("doc_id") % 5 == 0)
                  .join(donor, "doc_id", "left")
                  .select("doc_id",
                          F.when((F.col("doc_id") % 10 == 0)
                                 & F.col("donor_text").isNotNull(),
                                 F.col("donor_text"))
                           .otherwise(F.col("text")).alias("text")))
    return incremental_dedup(new_batch, base).select(
        "doc_id", "text_hash", "is_dup")


# ---------------------------------------------------------------------------
# oracle SQL builders (programmatic where Spark/DuckDB must stay in sync)

def _pii_sql() -> str:
    """Mirror of q_pii_redact: the regex strings come from the SAME
    ``PII_PATTERNS`` dict the Spark operator uses (RE2-compatible by
    construction, so Java regex and DuckDB RE2 agree), applied in the
    same fixed order for redaction."""
    from dask_ms_spark.llm.corpus import PII_PATTERNS

    aug = ("text || ' contact: user' || CAST(doc_id AS VARCHAR)"
           " || '@example' || CAST(doc_id % 7 AS VARCHAR) || '.com'"
           " || CASE WHEN doc_id % 3 = 0 THEN ' tel 555-10'"
           "         || CAST(doc_id % 10 AS VARCHAR) || '-4567'"
           "    ELSE '' END"
           " || CASE WHEN doc_id % 4 = 0 THEN ' host 10.0.'"
           "         || CAST(doc_id % 250 AS VARCHAR) || '.7'"
           "    ELSE '' END")
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in PII_PATTERNS.items())
    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = (f"regexp_replace({red}, '{pat}', "
               f"'[{name.upper()}]', 'g')")
    return f"""
        WITH aug AS (SELECT doc_id, {aug} AS text FROM documents),
        red AS (SELECT doc_id, text, {red} AS redacted FROM aug)
        SELECT doc_id, {counts},
               CAST(length(redacted) AS BIGINT) AS redacted_len,
               {_DUCK_HASH.format(x='redacted')} AS redacted_hash
        FROM red
    """


def _zorder_sql(bits: int = 16) -> str:
    """Mirror of q_zorder_layout: identical clamp + shift/mask/weight
    terms (generated from one loop, so the bit layout cannot drift)."""
    def clamped(x: str) -> str:
        return (f"greatest(0, least(coalesce({x}, 0), "
                f"{(1 << bits) - 1}))")

    cols = ["cu", "cb"]
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits):
            terms.append(f"(({c} >> {b}) & 1) * {1 << (b * 2 + i)}")
    zkey = " + ".join(terms)
    return f"""
        WITH e AS (
            SELECT event_id, user_id,
                   CAST(floor(date_diff('second',
                            TIMESTAMP '2024-01-01 00:00:00', ts)
                        / 21600) AS BIGINT) AS bucket
            FROM events),
        c AS (SELECT event_id, user_id, bucket,
                     {clamped('user_id')} AS cu,
                     {clamped('bucket')} AS cb
              FROM e)
        SELECT event_id, user_id, bucket,
               CAST({zkey} AS BIGINT) AS zkey
        FROM c
    """


def _mixture_sql() -> str:
    """Mirror of q_sample_mixture: identical normalised-weight double
    literals, identical ``least(1.0, w * budget / stok)`` expression
    shape, identical md5 hash-bucket membership."""
    total_w = sum(_MIXTURE_WEIGHTS.values())
    cases = " ".join(
        f"WHEN '{k}' THEN {w / total_w!r}"
        for k, w in _MIXTURE_WEIGHTS.items())
    w_expr = (f"CASE source {cases} "
              f"ELSE {_MIXTURE_DEFAULT / total_w!r} END")
    bucket = _DUCK_HASH.format(
        x="cast(doc_id as varchar) || 'mixture'") + " % 1000000"
    return f"""
        WITH stats AS (
            SELECT source, CAST(sum(n_chars) AS DOUBLE) AS stok
            FROM documents GROUP BY source),
        rates AS (
            SELECT source,
                   least(1.0, {w_expr} * {float(_MIXTURE_BUDGET)!r}
                         / stok) AS rate
            FROM stats)
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {bucket} < CAST(floor(r.rate * 1000000) AS BIGINT)
    """


def _langid_sql() -> str:
    score_exprs = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
            for w in words)
        for lang, words in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    cases = []
    for i, lang in enumerate(langs):
        s = f"s_{lang}"
        conds = [f"{s} > 0"]
        conds += [f"{s} > s_{p}" for p in langs[:i]]
        conds += [f"{s} >= s_{n}" for n in langs[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'en' END"
    scores_sql = ", ".join(f"{e} AS s_{lang}"
                           for lang, e in score_exprs.items())
    return f"""
        WITH scored AS (SELECT doc_id, lang, {scores_sql} FROM documents)
        SELECT doc_id, {case_sql} AS pred_lang, lang FROM scored
    """


def _kmeans_sql(k: int = 8, iters: int = 2,
                scale: int = 1 << 20) -> str:
    """Mirror of llm.clustering.kmeans_assign: lowest-id init, exact
    double argmin with (d2, cidx) tie-break, fixed-point centroid
    update (round(x*2^20) summed as bigint).  The vector length is
    derived from the data (len(vec)) so a regenerated testdata with a
    different embedding dim cannot silently skew the oracle."""
    assert iters == 2, "SQL mirror is written for exactly 2 iterations"
    dist = ("list_sum(list_transform(range(1, len(vec) + 1), "
            "i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i])))")
    return f"""
        WITH pts AS (SELECT vec_id AS id,
                            list_transform(embedding,
                                           x -> cast(x as double)) AS vec
                     FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY id) AS cidx,
                      vec AS cvec
               FROM (SELECT id, vec FROM pts ORDER BY id LIMIT {k})),
        d1 AS (SELECT id, vec, cidx, {dist} AS d2
               FROM pts CROSS JOIN c0),
        a1 AS (SELECT id, vec, cidx,
                      row_number() OVER (PARTITION BY id
                                         ORDER BY d2, cidx) AS rn
               FROM d1),
        ex AS (SELECT cidx, i AS pos,
                      cast(round(vec[i] * {scale}) as bigint) AS qx
               FROM a1, UNNEST(range(1, len(vec) + 1)) AS t(i)
               WHERE rn = 1),
        m AS (SELECT cidx, pos,
                     cast(sum(qx) as double)
                     / cast(count(*) * {scale} as double) AS cx
              FROM ex GROUP BY 1, 2),
        c1 AS (SELECT cidx, list(cx ORDER BY pos) AS cvec
               FROM m GROUP BY cidx),
        d2t AS (SELECT id, cidx, {dist} AS d2
                FROM pts CROSS JOIN c1),
        a2 AS (SELECT id, cidx, d2,
                      row_number() OVER (PARTITION BY id
                                         ORDER BY d2, cidx) AS rn
                FROM d2t)
        SELECT id AS vec_id, cast(cidx as bigint) AS cluster,
               round(sqrt(d2), 6) AS dist
        FROM a2 WHERE rn = 1
    """


def _corpus_mixture_sql() -> str:
    """Mirror of q_corpus_mixture: the _langid_sql CASE over stopword
    scores, aggregated per (source, predicted language)."""
    score_exprs = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
            for w in words)
        for lang, words in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    cases = []
    for i, lang in enumerate(langs):
        s = f"s_{lang}"
        conds = [f"{s} > 0"]
        conds += [f"{s} > s_{p}" for p in langs[:i]]
        conds += [f"{s} >= s_{n}" for n in langs[i + 1:]]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + " ELSE 'en' END"
    scores_sql = ", ".join(f"{e} AS s_{lang}"
                           for lang, e in score_exprs.items())
    toks = ("CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text, ' \t\n\x0b\f\r'), '\\s+')) END")
    return f"""
        WITH scored AS (SELECT source, text, {scores_sql} FROM documents),
        pred AS (SELECT source, {case_sql} AS pred_lang,
                        {toks} AS toks, length(text) AS chars
                 FROM scored)
        SELECT source, pred_lang, count(*) AS n_docs,
               cast(sum(toks) as bigint) AS total_tokens,
               round(avg(chars), 4) AS avg_chars
        FROM pred GROUP BY 1, 2
    """


def _embed_project_sql(out_dim: int = 4,
                       seed: str = "dask-ms-spark") -> str:
    """Mirror of llm.similarity.random_projection: identical md5
    coefficient stream inlined as list literals; both engines consume
    the first len(embedding) entries (prefix-stable planes), so a
    regenerated dim changes nothing."""
    from dask_ms_spark.llm.similarity import projection_coefficients

    comps = []
    for j in range(out_dim):
        lit = "[" + ", ".join(
            repr(v) for v in projection_coefficients(seed, j)) + "]"
        comps.append(
            "round(list_sum(list_transform("
            "range(1, len(embedding) + 1), "
            f"i -> cast(embedding[i] as double) * ({lit})[i])), 6) "
            f"AS p{j}")
    return "SELECT vec_id, " + ", ".join(comps) + " FROM embeddings"


def _contamination_sql(n: int = 20, min_hits: int = 1) -> str:
    """Mirror of llm.contamination.contamination_report: eval (src0)
    distinct gram hashes joined against exploded train grams."""
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    hashed = ("list_distinct(list_transform(grams, s -> "
              + _DUCK_HASH.format(x="s") + "))")
    return f"""
        WITH g AS (SELECT doc_id, source, {hashed} AS ghash
                   FROM (SELECT doc_id, source, {shingles} AS grams
                         FROM documents)),
        tg AS (SELECT doc_id, len(ghash) AS n_grams,
                      unnest(ghash) AS gh
               FROM g WHERE source <> 'src0'),
        eg AS (SELECT DISTINCT unnest(ghash) AS gh
               FROM g WHERE source = 'src0')
        SELECT doc_id, count(*) AS n_hits, n_grams,
               round(count(*) / n_grams, 6) AS contamination
        FROM tg JOIN eg USING (gh)
        GROUP BY doc_id, n_grams
        HAVING count(*) >= {min_hits}
        ORDER BY doc_id
    """


def _lsh_jaccard_sql(n: int = 5, num_hashes: int = 16,
                     num_bands: int = 4, threshold: float = 0.6,
                     prefilter_margin: float = 0.35,
                     max_bucket_size: int | None = None) -> str:
    """Mirror of llm.dedup.lsh_jaccard_pairs: banded-MinHash candidates
    (portable hashes -> identical candidate sets) + signature-agreement
    prefilter (same integer cutoff) + exact Jaccard over the
    shingle-hash sets.  ``max_bucket_size`` mirrors ``_cap_buckets``:
    bucket occupancy is deterministic, so both engines drop the same
    overfull buckets."""
    import math

    rows_per_band = num_hashes // num_bands
    min_matches = math.ceil(max(threshold - prefilter_margin, 0.0)
                            * num_hashes)
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    base = ("list_transform(grams, s -> " +
            _DUCK_HASH.format(x="s") + f" % {MINHASH_P})")
    mins = ", ".join(
        f"list_min(list_transform(hset, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:num_hashes])
    band_exprs = ", ".join(
        _DUCK_HASH.format(
            x=("array_to_string(list_slice(sig, "
               f"{b * rows_per_band + 1}, {(b + 1) * rows_per_band}), ',') "
               f"|| 'band{b}'"))
        for b in range(num_bands))
    band_ids = "[" + ", ".join(str(b) for b in range(num_bands)) + "]"
    return f"""
        WITH sh AS (SELECT doc_id AS id, {shingles} AS grams
                    FROM documents),
        hb AS (SELECT id, list_distinct({base}) AS hset FROM sh),
        sg AS (SELECT id, hset, [{mins}] AS sig FROM hb),
        banded0 AS (
            SELECT id, unnest([{band_exprs}]) AS band_hash,
                   unnest({band_ids}) AS band_id
            FROM sg),
        banded AS (
            SELECT b.* FROM banded0 b
            JOIN (SELECT band_id, band_hash FROM banded0
                  GROUP BY band_id, band_hash
                  HAVING count(*) <=
                      {10**9 if max_bucket_size is None
                       else max_bucket_size})
                 k ON b.band_id = k.band_id
                  AND b.band_hash = k.band_hash),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
                 ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            WHERE a.id < b.id),
        surv AS (
            SELECT id_a, id_b
            FROM cand
            JOIN sg sa ON sa.id = id_a
            JOIN sg sb ON sb.id = id_b
            WHERE len(list_filter(range(1, {num_hashes + 1}),
                      i -> sa.sig[i] = sb.sig[i])) >= {min_matches}),
        scored AS (
            SELECT id_a, id_b,
                   len(list_intersect(ha.hset, hb2.hset)) /
                   (len(ha.hset) + len(hb2.hset) -
                    len(list_intersect(ha.hset, hb2.hset))) AS jaccard
            FROM surv
            JOIN hb ha ON ha.id = id_a
            JOIN hb hb2 ON hb2.id = id_b)
        SELECT id_a, id_b, round(jaccard, 6) AS jaccard
        FROM scored WHERE jaccard >= {threshold}
    """


def _simhash_sql(shingle_k: int = 4, bits: int = 16) -> str:
    """Mirror of llm.dedup.with_simhash: explode shingle hashes, sum
    per-bit ±1 votes, reassemble the signature from vote signs."""
    nbits = bits - 1
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {shingle_k - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {shingle_k - 2}), "
                f"i -> substring({norm}, i, {shingle_k})) END)")
    h = _DUCK_HASH.format(x="g || 'simhash'")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(nbits))
    sig = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN cast({2 ** j} as bigint) "
        f"ELSE 0 END)" for j in range(nbits))
    return f"""
        WITH sh AS (SELECT doc_id, {shingles} AS grams FROM documents),
        ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
        hx AS (SELECT doc_id, {h} AS h FROM ex),
        v AS (SELECT doc_id, {votes} FROM hx GROUP BY doc_id)
        SELECT doc_id, {sig} AS simhash FROM v
    """


def _winnow_sql(k: int = 8, window: int = 4) -> str:
    """Mirror of functions.text.fingerprint (winnowing): rolling k-gram
    hashes -> per-window minima -> sorted distinct."""
    # fingerprint() lowercases + collapses whitespace but does NOT trim
    norm = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
    gh = _DUCK_HASH.format(x=f"substring(t, i, {k})")
    th = _DUCK_HASH.format(x="t")
    return f"""
        WITH base AS (SELECT doc_id, {norm} AS t FROM documents),
        hs AS (SELECT doc_id,
                      CASE WHEN length(t) - {k - 1} <= 0 THEN [{th}]
                           ELSE list_transform(
                               range(1, length(t) - {k - 2}),
                               i -> {gh}) END AS hashes
               FROM base),
        mins AS (SELECT doc_id,
                        CASE WHEN len(hashes) - {window - 1} <= 0
                             THEN [list_min(hashes)]
                             ELSE list_transform(
                                 range(1, len(hashes) - {window - 2}),
                                 i -> list_min(list_slice(
                                     hashes, i, i + {window - 1}))) END
                        AS mins
                 FROM hs)
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(mins)), ',') AS fps
        FROM mins
    """


def _ivf_sql(k: int = 10, num_cells: int = 16, nprobe: int = 4,
             n_queries: int = 5) -> str:
    """Mirror of llm.similarity.ivf_topk: nearest-centroid cell
    assignment, nprobe probes per query, exact cosine in probed cells."""
    cos_vc = _COS.replace("va", "v.vec").replace("vb", "c.cvec")
    cos_qn = _COS.replace("va", "q.qvec").replace("vb", "n.nvec")
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x as double))
                          AS vec FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, vec AS cvec FROM v
                 WHERE vec_id < {num_cells}),
        aff AS (SELECT v.vec_id, v.vec, c.cent_id, {cos_vc} AS aff
                FROM v, cent c),
        cells AS (
            SELECT vec_id AS neighbor_id, vec AS nvec, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id
                      ORDER BY aff DESC, cent_id ASC) AS pr FROM aff)
            WHERE pr = 1),
        probes AS (
            SELECT vec_id AS query_id, vec AS qvec, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id
                      ORDER BY aff DESC, cent_id ASC) AS pr FROM aff
                  WHERE vec_id < {n_queries})
            WHERE pr <= {nprobe}),
        scored AS (
            SELECT DISTINCT q.query_id, n.neighbor_id, {cos_qn} AS cos
            FROM probes q JOIN cells n ON q.cell = n.cell
            WHERE q.query_id != n.neighbor_id),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC)
                   AS rank, cos
            FROM scored)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= {k}
    """


def _minhash_drop_sql(n: int = 5, num_hashes: int = 16,
                      num_bands: int = 4, threshold: float = 0.5) -> str:
    """Mirror of llm.dedup.minhash_dedup: banded candidates, estimated
    Jaccard from signature agreement, min-kept-id per dropped doc."""
    rows_per_band = num_hashes // num_bands
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    base = ("list_transform(grams, s -> " +
            _DUCK_HASH.format(x="s") + f" % {MINHASH_P})")
    mins = ", ".join(
        f"list_min(list_transform(hset, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:num_hashes])
    band_exprs = ", ".join(
        _DUCK_HASH.format(
            x=("array_to_string(list_slice(sig, "
               f"{b * rows_per_band + 1}, {(b + 1) * rows_per_band}), ',') "
               f"|| 'band{b}'"))
        for b in range(num_bands))
    band_ids = "[" + ", ".join(str(b) for b in range(num_bands)) + "]"
    return f"""
        WITH sh AS (SELECT doc_id AS id, {shingles} AS grams
                    FROM documents),
        hb AS (SELECT id, list_distinct({base}) AS hset FROM sh),
        sg AS (SELECT id, [{mins}] AS sig FROM hb),
        banded AS (
            SELECT id, unnest([{band_exprs}]) AS band_hash,
                   unnest({band_ids}) AS band_id
            FROM sg),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
                 ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            WHERE a.id < b.id),
        est AS (
            SELECT id_a, id_b,
                   len(list_filter(range(1, {num_hashes + 1}),
                       i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0
                   AS est_jaccard
            FROM cand
            JOIN sg sa ON sa.id = id_a
            JOIN sg sb ON sb.id = id_b)
        SELECT id_b AS drop_id, min(id_a) AS kept_id,
               round(max(est_jaccard), 6) AS max_sim
        FROM est WHERE est_jaccard >= {threshold}
        GROUP BY id_b
    """


def _lsh_graph_ctes(n: int = 5, num_hashes: int = 16,
                    num_bands: int = 4,
                    threshold: float = 0.5) -> str:
    """Shared CTE prefix mirroring the minhash_lsh_pairs candidate
    graph (same CTEs as _minhash_drop_sql), doubled to the undirected
    edge relation ``undir(s, d)`` — consumed by both the transitive
    dedup-clusters mirror and the pagerank mirror."""
    rows_per_band = num_hashes // num_bands
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    base = ("list_transform(grams, s -> " +
            _DUCK_HASH.format(x="s") + f" % {MINHASH_P})")
    mins = ", ".join(
        f"list_min(list_transform(hset, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:num_hashes])
    band_exprs = ", ".join(
        _DUCK_HASH.format(
            x=("array_to_string(list_slice(sig, "
               f"{b * rows_per_band + 1}, {(b + 1) * rows_per_band}), ',') "
               f"|| 'band{b}'"))
        for b in range(num_bands))
    band_ids = "[" + ", ".join(str(b) for b in range(num_bands)) + "]"
    return f"""
        sh AS (SELECT doc_id AS id, {shingles} AS grams FROM documents),
        hb AS (SELECT id, list_distinct({base}) AS hset FROM sh),
        sg AS (SELECT id, [{mins}] AS sig FROM hb),
        banded AS (
            SELECT id, unnest([{band_exprs}]) AS band_hash,
                   unnest({band_ids}) AS band_id
            FROM sg),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
                 ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            WHERE a.id < b.id),
        edges AS (
            SELECT id_a, id_b
            FROM cand
            JOIN sg sa ON sa.id = id_a
            JOIN sg sb ON sb.id = id_b
            WHERE len(list_filter(range(1, {num_hashes + 1}),
                      i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0
                  >= {threshold}),
        undir AS MATERIALIZED (
            SELECT id_a AS s, id_b AS d FROM edges
            UNION SELECT id_b, id_a FROM edges)"""


def _pagerank_sql(iterations: int = 2, damping: float = 0.85,
                  scale: int = 1 << 20) -> str:
    """Mirror of q_pagerank: the same candidate graph, two unrolled
    power iterations with identical fixed-point quantisation; the
    teleport base is inlined at full precision (``repr``) so both
    engines use the bit-identical double."""
    assert iterations == 2, "SQL mirror is written for 2 iterations"
    base = repr(1.0 - damping)
    d = repr(float(damping))
    sc = repr(float(scale))
    it = """,
        c{i} AS (SELECT u.d,
                      cast(round(r.rank / g.outdeg * {sc}) as bigint)
                          AS qc
               FROM undir u JOIN deg g ON g.s = u.s
                            JOIN r{p} r ON r.s = u.s),
        s{i} AS (SELECT d, cast(sum(qc) as bigint) AS qsum
               FROM c{i} GROUP BY d),
        r{i} AS (SELECT g.s,
                      {b} + {d} * coalesce(s{i}.qsum, 0) / {sc} AS rank
               FROM deg g LEFT JOIN s{i} ON s{i}.d = g.s)"""
    iters = "".join(
        it.format(i=i, p=i - 1, sc=sc, b=base, d=d)
        for i in range(1, iterations + 1))
    return f"""
        WITH
        {_lsh_graph_ctes()},
        deg AS (SELECT s, count(*) AS outdeg FROM undir GROUP BY s),
        r0 AS (SELECT s, 1.0 AS rank FROM deg){iters}
        SELECT d.doc_id,
               round(coalesce(r{iterations}.rank, {base}), 6) AS rank
        FROM documents d
        LEFT JOIN r{iterations} ON r{iterations}.s = d.doc_id
    """


_COS = ("list_dot_product(va, vb) / "
        "(sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb)))")


def _bpe_sql() -> str:
    """Mirror of functions.text.bpe_tokens / stopword_ratio."""
    from dask_ms_spark.functions.text import BPE_TOKEN_PATTERN

    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH t AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{pat}')) AS n_bpe_tokens,
                   CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                        ELSE regexp_split_to_array(trim(lower(text), ' \t\n\x0b\f\r'),
                                                   '\\s+') END AS toks
            FROM documents)
        SELECT doc_id, n_bpe_tokens, len(toks) AS n_ws_tokens,
               round(len(list_filter(toks,
                         t -> list_contains([{stops}], t))) /
                     greatest(len(toks), 1), 6) AS stopword_ratio
        FROM t
    """


def _ann_lsh_sql(k: int = 10, num_planes: int = 8, dim: int = 64,
                 n_queries: int = 5) -> str:
    """Mirror of llm.similarity.lsh_topk: identical md5-seeded
    hyperplane literals -> identical buckets, Hamming-1 multiprobe,
    exact cosine within probed buckets."""
    from dask_ms_spark.llm.similarity import _seeded_unit

    planes = [_seeded_unit(f"dask-ms-spark:{j}", dim)
              for j in range(num_planes)]
    sig = " + ".join(
        "(CASE WHEN list_dot_product(vec, ["
        + ", ".join(repr(v) for v in planes[j])
        + f"]) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(num_planes))
    probe_list = "[sig, " + ", ".join(
        f"xor(sig, {2 ** j})" for j in range(num_planes)) + "]"
    cos = _COS.replace("va", "q.qvec").replace("vb", "c.cvec")
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x as double))
                          AS vec FROM embeddings),
        sigs AS (SELECT vec_id, vec, {sig} AS sig FROM v),
        cells AS (SELECT vec_id AS neighbor_id, vec AS cvec, sig AS bucket
                  FROM sigs),
        probes AS (
            SELECT vec_id AS query_id, vec AS qvec,
                   unnest({probe_list}) AS bucket
            FROM sigs WHERE vec_id < {n_queries}),
        scored AS (
            SELECT DISTINCT q.query_id, c.neighbor_id, {cos} AS cos
            FROM probes q JOIN cells c ON q.bucket = c.bucket
            WHERE q.query_id != c.neighbor_id),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC)
                   AS rank, cos
            FROM scored)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= {k}
    """


def _embedding_dup_sql(threshold: float = 0.4) -> str:
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x as double))
                          AS vec FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_COS}, 6) AS cos_sim
        FROM (SELECT vec_id, vec AS va FROM v) a,
             (SELECT vec_id, vec AS vb FROM v) b
        WHERE a.vec_id < b.vec_id AND {_COS} >= {threshold}
    """


def _embedding_bucketed_sql(threshold: float = 0.4, num_planes: int = 4,
                            dim: int = 64, radius: int = 2) -> str:
    """Mirror of llm.dedup.embedding_dup_pairs_bucketed: identical
    md5-seeded hyperplane literals -> identical sign signatures; the
    Hamming-1 multiprobe on both sides meets exactly the pairs with
    bit_count(xor(sig_a, sig_b)) <= 2."""
    from dask_ms_spark.llm.similarity import _seeded_unit

    planes = [_seeded_unit(f"dask-ms-spark:{j}", dim)
              for j in range(num_planes)]
    sig = " + ".join(
        "(CASE WHEN list_dot_product(vec, ["
        + ", ".join(repr(v) for v in planes[j])
        + f"]) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(num_planes))
    cos = _COS.replace("va", "a.vec").replace("vb", "b.vec")
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x as double))
                          AS vec FROM embeddings),
        sigs AS (SELECT vec_id, vec, {sig} AS sig FROM v)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({cos}, 6) AS cos_sim
        FROM sigs a JOIN sigs b
          ON a.vec_id < b.vec_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {radius}
          AND {cos} >= {threshold}
    """


def _similarity_topk_sql(k: int = 10) -> str:
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x as double))
                          AS vec FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS.replace('va', 'q.vec').replace('vb', 'c.vec')}
                   AS cos FROM v q JOIN v c ON q.vec_id != c.vec_id
            WHERE q.vec_id < 5),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id ASC)
                   AS rank, cos
            FROM scored)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= {k}
    """


def _substring_dedup_sql(window: int, stride: int) -> str:
    """Mirror of llm.corpus.substring_dedup at (window, stride)."""
    return f"""
        WITH d AS (SELECT doc_id, text AS t,
                          length(text) AS n FROM documents),
        st AS (SELECT doc_id, t,
                      CASE WHEN n <= {window} THEN [cast(1 as bigint)]
                           ELSE range(1, n - {window} + 2, {stride}) END
                      AS starts
               FROM d),
        w AS (SELECT DISTINCT doc_id,
                     {_DUCK_HASH.format(
                         x=f'substring(t, cast(s as int), {window})')}
                     AS wh
              FROM (SELECT doc_id, t, unnest(starts) AS s FROM st)),
        ph AS (SELECT wh, count(*) AS nd FROM w GROUP BY wh)
        SELECT doc_id, cast(count(*) as bigint) AS n_windows,
               cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                    as bigint) AS n_dup_windows,
               round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                     / count(*), 6) AS dup_ratio
        FROM w JOIN ph USING (wh) GROUP BY doc_id
    """


def _events_ema_sql(alpha: float = 0.8, window: int = 16) -> str:
    """Mirror of q_events_ema: identical weight literals (repr'd
    doubles — no runtime pow), identical frame, index-order weighted
    sum (the kmeans list_sum precedent for summation parity)."""
    weights = [float(alpha) ** (window - 1 - j) for j in range(window)]
    wl = "[" + ", ".join(repr(w) for w in weights) + "]"
    return f"""
        WITH c AS (SELECT event_id, user_id, ts, value
                   FROM events WHERE event_type = 'click'),
        f AS (SELECT event_id, user_id, ts, value,
                     list(CAST(value AS DOUBLE)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {window - 1} PRECEDING
                                  AND CURRENT ROW) AS vals
              FROM c)
        SELECT event_id, user_id,
               cast(floor(epoch(ts)) as bigint) AS epoch,
               round(value, 4) AS value,
               round(
                   list_sum(list_transform(range(1, len(vals) + 1),
                       i -> vals[i] * ({wl})[{window} - len(vals) + i]))
                   / list_sum(list_transform(range(1, len(vals) + 1),
                       i -> ({wl})[{window} - len(vals) + i])),
                   6) AS ema
        FROM f
    """


def q_cardinality_kmv(spark, sf_dir):
    """Per-language distinct 5-char-shingle estimate via a KMV
    (k-minimum-values) sketch (llm/sketches.py).  Unlike HLL
    approx_count_distinct the estimator is a deterministic function of
    the portable md5 hash, so two engines agree bit-for-bit; the
    sketch is mergeable (union = k smallest of the concatenation), the
    property that makes it per-partition-combinable over a 100 TB
    corpus.  Shingles (not whitespace tokens) because the synthetic
    vocabulary is tiny — ~1.8k distinct shingles per language keeps
    the sketch in its estimation regime at k=64."""
    from dask_ms_spark.llm.dedup import normalize_text
    from dask_ms_spark.llm.sketches import kmv_distinct

    t = F.col("t")
    grams = F.transform(F.sequence(F.lit(1), F.length(t) - 4),
                        lambda i: t.substr(i, F.lit(5)))
    sh = (_t(spark, sf_dir, "documents")
          .select("lang", normalize_text(F.col("text")).alias("t"))
          .where(F.length("t") >= 5)
          .select("lang", F.explode(grams).alias("v")))
    return kmv_distinct(sh, "v", ["lang"], k=64)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup: deterministic k-means coarse clustering, then cosine
    near-dup drop *within* clusters only (llm/semantic.py) — catches
    re-worded redundancy that lexical MinHash cannot see, without the
    all-pairs join it would naively cost."""
    from dask_ms_spark.llm.semantic import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"),
                          k=16, iters=2, threshold=0.4)


def q_dedup_substring(spark, sf_dir):
    """Character-window duplication profile (the distributed
    approximation of suffix-array ExactSubstr dedup): 60-char windows
    at stride 10 — tokenisation-independent, catches aligned
    duplication (whole-copy / prefix-anchored / block-aligned); at
    stride 1 the detection guarantee is exact (see the operator
    docstring; winnowing covers the position-robust sampled case)."""
    from dask_ms_spark.llm.corpus import substring_dedup

    return substring_dedup(_t(spark, sf_dir, "documents"),
                           window=60, stride=10)


def q_collocations_pmi(spark, sf_dir):
    """Top-50 adjacent-pair collocations by PMI with min support 5
    (llm/corpus.py) — fixed-phrase detection and a corpus-health
    check (implausibly high PMI everywhere = templated text)."""
    from dask_ms_spark.llm.corpus import collocations_pmi

    return collocations_pmi(_t(spark, sf_dir, "documents"),
                            min_count=5, topk=50)


def q_events_gap_stats(spark, sf_dir):
    """Inter-event gap distribution: per (user, type) consecutive-event
    lags (one window shuffle keyed on the user — never a global sort),
    rolled up per type with exact median/p90 gaps (percentile parity).
    The arrival-process profile behind session-gap and rate-limit
    tuning."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type")         .orderBy("ts", "event_id")
    ep = F.unix_timestamp("ts")
    gaps = (ev.withColumn("gap_s", ep - F.lag(ep).over(w))
            .where(F.col("gap_s").isNotNull()))
    return (gaps.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
                 F.round(F.percentile("gap_s", 0.5), 1)
                  .alias("median_gap_s"),
                 F.round(F.percentile("gap_s", 0.9), 1)
                  .alias("p90_gap_s"),
                 F.max("gap_s").cast("long").alias("max_gap_s")))


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law diagnostic: the log-log slope of token frequency vs
    rank over the corpus vocabulary (natural prose fits ~ -1;
    templated/synthetic text flattens).  The vocabulary table is big
    at corpus scale (Heaps: ~n^0.8 distinct tokens), so the global
    frequency rank uses the two-level attach_rowid spelling
    (range-partition + per-partition rank + broadcast offsets,
    operators/ordering.py:86-119) instead of an unpartitioned window
    — no single task ever sees the whole vocab.  The fit is one
    native regr_slope/regr_intercept aggregate (the grouped-OLS
    parity precedent).  Rank ties break on the token string so the
    ranking is deterministic."""
    toks = tokens(F.lower(F.col("text")))
    freq = (_t(spark, sf_dir, "documents")
            .select(F.explode(toks).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    ranked = attach_rowid(
        freq.withColumn("__nf", -F.col("freq")), ["__nf", "token"],
        name="__rid").withColumn(
            "rank", (F.col("__rid") + 1).cast("int"))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
        F.round(F.corr(ly, lx), 6).alias("loglog_corr"))


def q_conversion_lag(spark, sf_dir):
    """Signup-to-first-purchase conversion by weekly cohort: per
    cohort, users, converters, and the exact median lag in seconds
    (percentile parity) — the product-analytics staple.  ONE bounded
    agg keyed on user (r12 — the signup and purchase aggregates ran
    as two event-stream shuffles plus a join; a conditional aggregate
    carries both in one pass, and users without a signup drop on the
    same NULL filter the inner join side applied), then a cohort
    rollup."""
    ev = (_ev(spark, sf_dir)
          .where(F.col("event_type").isin("signup", "purchase")))
    per_user = (ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup",
                     F.unix_timestamp("ts"))).alias("signup_ep"),
        F.collect_list(F.when(F.col("event_type") == "purchase",
                              F.unix_timestamp("ts"))).alias("p_eps")))
    j = (per_user.where(F.col("signup_ep").isNotNull())
         .select("user_id", "signup_ep",
                 F.array_min(F.filter(
                     F.coalesce("p_eps",
                                F.array().cast("array<bigint>")),
                     lambda t: t >= F.col("signup_ep")))
                 .alias("first_purchase_ep")))
    wk = (F.floor(F.col("signup_ep") / 604800)).cast("long")
    lag = F.col("first_purchase_ep") - F.col("signup_ep")
    return (j.select(wk.alias("cohort_week"), lag.alias("lag_s"))
            .groupBy("cohort_week")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.count("lag_s").cast("long").alias("n_converted"),
                 F.round(F.percentile("lag_s", 0.5), 1)
                  .alias("median_lag_s")))


def q_events_seasonality(spark, sf_dir):
    """Weekly seasonality profile: per (day-of-week, hour) event
    counts and mean value (decimal-exact) — the telemetry heat-map a
    capacity planner reads.  One scan, one partial-merged agg; the
    output is bounded at 7 x 24 rows regardless of event volume."""
    ev = _ev(spark, sf_dir)
    return (ev.select(F.dayofweek("ts").alias("dow"),
                      F.hour("ts").alias("hour"),
                      F.col("value").cast("decimal(18,2)").alias("v"))
            .groupBy("dow", "hour")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.round((F.sum("v") / F.count(F.lit(1)))
                         .cast("double"), 4).alias("v_mean")))


def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted acceptance sampling (llm/sampling.py
    sample_weighted): per-doc char-entropy as the quality weight, so
    higher-entropy documents survive proportionally more often —
    reproducible downsampling as a pure function of (id, weight).
    Per-lang kept counts."""
    from dask_ms_spark.llm.corpus import char_entropy
    from dask_ms_spark.llm.sampling import sample_weighted

    docs = _t(spark, sf_dir, "documents")
    # the scored table feeds three consumers (max-weight agg, the
    # filter, the per-lang denominator) — materialise once or the
    # entropy pipeline re-executes per consumer (the measured
    # lineage-reuse rule; 5.9 s -> ~2 s)
    scored = scoped_persist(
        docs.select("doc_id", "lang")
            .join(char_entropy(docs)
                  .select("doc_id", "entropy_bits"), "doc_id"))
    kept = sample_weighted(scored, "doc_id", "entropy_bits",
                           base_rate=0.6)
    return (scored.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .join(kept.groupBy("lang")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_kept")),
                  "lang", "left")
            .withColumn("n_kept", F.coalesce("n_kept", F.lit(0))))


def q_sample_quota(spark, sf_dir):
    """Per-source quota cap (llm/sampling.py sample_quota): at most 15
    docs survive per source, selected by hash order — the deterministic
    cap on any one domain's contribution.  Per-source before/after."""
    from dask_ms_spark.llm.sampling import sample_quota

    docs = _t(spark, sf_dir, "documents")
    kept = sample_quota(docs, "doc_id", "source", quota=15)
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .join(kept.groupBy("source")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_kept")),
                  "source"))


def q_quality_prune(spark, sf_dir):
    """Score-percentile pruning — "drop the bottom quartile by
    character entropy": the exact 25th-percentile threshold computes
    in one aggregate, broadcasts back, and the verdict is a map-side
    comparison (quantile_cont parity makes the cut engine-exact).
    Per-lang kept/dropped counts plus the threshold applied."""
    from dask_ms_spark.llm.corpus import char_entropy

    docs = _t(spark, sf_dir, "documents")
    scored = (docs.select("doc_id", "lang")
              .join(char_entropy(docs).select("doc_id", "entropy_bits"),
                    "doc_id")
              # percentile over integer MICRO-entropy: dyadic
              # interpolation on int64 is exact in every engine
              # (sf0.001 tri-SF boundary finding; entropy_bits is
              # already 6-decimal, so micro units are lossless)
              .withColumn("__eq", F.round(F.col("entropy_bits")
                                          * 1e6).cast("long")))
    thr = F.broadcast(scored.agg(
        F.percentile("__eq", 0.25).alias("thr")))
    return (scored.crossJoin(thr)
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum((F.col("__eq") >= F.col("thr"))
                       .cast("long")).cast("long").alias("n_kept"),
                 (F.round(F.max("thr")) / 1e6).alias("threshold")))


def q_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language consistency audit: the confusion
    matrix of the corpus's own `lang` labels against the stopword
    language detector — mislabeled partitions (a top corpus-quality
    failure mode) surface as heavy off-diagonal cells.  Composes the
    oracled langid classifier; one scan, one vocabulary-bounded agg."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang",
                        langid(F.col("text")).alias("pred_lang"))
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("is_match", F.col("lang") == F.col("pred_lang")))


def q_events_anomaly(spark, sf_dir):
    """Rolling Tukey-fence anomaly detection per user
    (operators/timeseries.py rolling_outliers): each click scored
    against its own previous 32 values, quartiles via the exact
    percentile frame aggregate (engine-exact parity with
    quantile_cont).  Per-user summary of scored/flagged events."""
    from dask_ms_spark.operators.timeseries import rolling_outliers

    ev = (_ev(spark, sf_dir)
          .where("event_type = 'click'"))
    scored = rolling_outliers(ev, window=32, k=1.5, min_history=8)
    return (scored.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.col("is_anomaly").isNotNull().cast("long"))
                  .cast("long").alias("n_scored"),
                 F.sum(F.coalesce(F.col("is_anomaly").cast("long"),
                                  F.lit(0))).cast("long")
                  .alias("n_anomalies")))


def q_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension Type 2 maintenance (operators/cdc.py
    scd2_apply): customer segment changes at seq 10 (%4 keys) and seq
    20 (%8 keys) folded into a versioned dimension — validity ranges
    chain within the batch, open rows close, untouched keys pass
    through one broadcast anti-join.  Per-segment version profile."""
    from dask_ms_spark.operators.cdc import scd2_apply

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    dim = cust.select(
        "c_custkey", "c_mktsegment",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"))
    k = F.col("c_custkey")
    ch = (cust.where(k % 4 == 0)
          .select("c_custkey", F.lit(10).alias("effective_seq"),
                  F.concat("c_mktsegment", F.lit("_v2"))
                  .alias("c_mktsegment"))
          .unionByName(
              cust.where(k % 8 == 0)
              .select("c_custkey", F.lit(20).alias("effective_seq"),
                      F.concat("c_mktsegment", F.lit("_v3"))
                      .alias("c_mktsegment"))))
    out = scd2_apply(dim, ch, "c_custkey")
    return (out.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.col("is_current").cast("long")).cast("long")
                  .alias("n_current"),
                 F.sum(F.col("valid_to").isNotNull().cast("long"))
                  .cast("long").alias("n_closed")))


def q_cdc_apply(spark, sf_dir):
    """MERGE INTO as DataFrame algebra (operators/cdc.py apply_cdc):
    a synthetic change feed (deletes %7, price updates %5, inserted
    keys %13 shifted, overlapping keys resolved by highest seq) merged
    into the orders snapshot; per-priority profile of the result.  The
    snapshot sees one broadcast anti-join — it never shuffles."""
    from dask_ms_spark.operators.cdc import apply_cdc

    # snap feeds the three synthetic change legs AND the merge's
    # pass-through side — materialise once (lineage-reuse rule)
    snap = scoped_persist(_t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)")
        .alias("o_totalprice")))
    k = F.col("o_orderkey")
    deletes = snap.where(k % 7 == 0).select(
        "o_orderkey", F.lit("D").alias("op"), F.lit(1).alias("seq"),
        F.lit(None).cast("string").alias("o_orderpriority"),
        F.lit(None).cast("decimal(18,2)").alias("o_totalprice"))
    updates = snap.where(k % 5 == 0).select(
        "o_orderkey", F.lit("U").alias("op"), F.lit(2).alias("seq"),
        "o_orderpriority",
        (F.col("o_totalprice") + 1000).cast("decimal(18,2)")
        .alias("o_totalprice"))
    inserts = snap.where(k % 13 == 0).select(
        (k + 3000000).alias("o_orderkey"), F.lit("I").alias("op"),
        F.lit(1).alias("seq"), "o_orderpriority", "o_totalprice")
    changes = deletes.unionByName(updates).unionByName(inserts)
    merged = apply_cdc(snap, changes, "o_orderkey")
    return (merged.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("o_totalprice").cast("double"), 2)
                  .alias("total")))


def q_robust_stats(spark, sf_dir):
    """Per-returnflag robust profile (functions/stats.py robust_stats):
    exact median/quartiles/IQR/MAD + Tukey-fence outlier counts —
    engine-exact because Spark's exact percentile and DuckDB's
    quantile_cont implement the same interpolation (measured
    bit-identical)."""
    from dask_ms_spark.functions.stats import robust_stats

    return robust_stats(_t(spark, sf_dir, "lineitem"),
                        "l_extendedprice", ["l_returnflag"])


def q_pipeline_funnel(spark, sf_dir):
    """The whole curation pipeline as ONE declarative plan: Gopher
    quality gate, exact content dedup, MinHash near-dedup — per-lang
    survivor funnel (n_total -> n_quality -> +exact -> +near).  Each
    stage's verdict computes independently over the corpus and the
    funnel is the cumulative AND, so the stages share one scoped
    persist of the (doc_id, lang, text) projection (r12: the three
    stages otherwise each re-scan and re-decompress the text column —
    interleaved A/B at sf0.1 reads the shared-persist spelling at
    0.85x, medians 3.76 vs 4.42 s over 8 alternations); this is the
    composability argument for declaring curation as DataFrame
    algebra instead of chained materialised passes."""
    from dask_ms_spark.llm.corpus import quality_filter
    from dask_ms_spark.llm.dedup import minhash_dedup, normalize_text

    docs = scoped_persist(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "text"))
    q = quality_filter(docs).select("doc_id",
                                    F.col("keep").alias("q_keep"))
    ex = docs.select(
        "doc_id",
        portable_hash64(normalize_text(F.col("text"))).alias("dg"))
    ex = ex.withColumn(
        "ex_keep",
        F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy("dg"))).select("doc_id", "ex_keep")
    mh = minhash_dedup(docs, num_hashes=16, num_bands=4, shingle_k=5,
                       threshold=0.5) \
        .select(F.col("drop_id").alias("doc_id"),
                F.lit(False).alias("mh_keep"))
    flags = (docs.select("doc_id", "lang")
             .join(q, "doc_id").join(ex, "doc_id")
             .join(mh, "doc_id", "left")
             .withColumn("mh_keep",
                         F.coalesce(F.col("mh_keep"), F.lit(True))))
    b = lambda c: F.sum(c.cast("long")).cast("long")  # noqa: E731
    return (flags.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_total"),
                 b(F.col("q_keep")).alias("n_quality"),
                 b(F.col("q_keep") & F.col("ex_keep"))
                 .alias("n_quality_exact"),
                 b(F.col("q_keep") & F.col("ex_keep")
                   & F.col("mh_keep")).alias("n_survivors")))


def q_constraint_audit(spark, sf_dir):
    """Declarative data-quality audit (operators/quality.py): nulls,
    ranges, accepted values, key uniqueness, referential integrity —
    all row rules in ONE scan, uniqueness one partial-merged count,
    the FK one broadcast anti-join.  One report row per rule."""
    from dask_ms_spark.operators.quality import (accepted_values,
                                                 constraint_audit,
                                                 expression, foreign_key,
                                                 in_range, not_null,
                                                 unique)

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rules = [
        not_null("l_orderkey"),
        in_range("l_quantity", 1, 30),
        accepted_values("l_returnflag", ["A", "N", "R"]),
        expression("discount_fraction",
                   (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1)),
        unique(["l_orderkey", "l_linenumber"]),
        foreign_key("l_orderkey", orders, "o_orderkey"),
    ]
    return constraint_audit(li, rules)


def q_incremental_join(spark, sf_dir):
    """Append-only incremental join maintenance (operators/joins.py
    append_join_delta): the rows ADDED to orders x lineitem by a
    simulated 1997+ ingest batch, computed as dA.B + A.dB + dA.dB —
    history never joins history, and the delta legs broadcast.
    Rolled up per order priority with decimal-exact revenue."""
    from dask_ms_spark.operators.joins import append_join_delta

    o_cols = ["o_orderkey", "o_orderpriority", "o_orderdate"]
    orders = _t(spark, sf_dir, "orders").select(*o_cols)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice",
        "l_shipdate")
    # the delta legs are broadcast BUILD sides and the cut is a 1-row
    # aggregate — neither needs the split widening (r13); the history
    # legs keep it (they are the probe sides the join CPU rides on)
    orders_nw = _t(spark, sf_dir, "orders", widen=False).select(*o_cols)
    li_nw = _t(spark, sf_dir, "lineitem", widen=False).select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice",
        "l_shipdate")
    # the simulated ingest batch is the LAST 60 days relative to the
    # data (a delta must be small for the broadcast legs to be the
    # right plan; a fixed date would silently grow into a
    # megabroadcast when the driver regenerates testdata)
    cut = orders_nw.agg(
        F.date_sub(F.max("o_orderdate"), 60).alias("c")).first().c
    a_old = orders.where(F.col("o_orderdate") < cut).drop("o_orderdate")
    a_new = orders_nw.where(F.col("o_orderdate") >= cut) \
        .drop("o_orderdate")
    b_old = li.where(F.col("l_shipdate") < cut).drop("l_shipdate")
    b_new = li_nw.where(F.col("l_shipdate") >= cut).drop("l_shipdate")
    delta = append_join_delta(a_old, a_new, b_old, b_new, "o_orderkey")
    return (delta.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_new_rows"),
                 F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(18,2)")).cast("double"), 2)
                  .alias("new_revenue")))


def q_multimodal_audio(spark, sf_dir):
    """Audio leg of the multimodal surface: the binary payload
    interpreted as signed 8-bit PCM, summarised by a numpy kernel in
    ``mapInPandas`` (llm/multimodal.py audio_features).  Every output
    column is a pure function of the payload bytes, so the Arrow
    kernel path is oracle-checked end-to-end — the same discipline as
    ``multimodal_features``; the CJK documents exercise signedness
    (UTF-8 lead bytes >= 0x80 map to negative samples)."""
    from dask_ms_spark.llm.multimodal import audio_features, media_table

    media = media_table(_t(spark, sf_dir, "documents"))
    return audio_features(media)


def q_active_users_rolling(spark, sf_dir):
    """Daily + trailing-7-day distinct active users.  Rolling COUNT
    DISTINCT is not window-decomposable; the scale shape is: collapse
    to distinct (day, user) FIRST (the only corpus-sized stage, one
    partial-merged distinct), then explode each pair to the <=7 days
    it can serve and re-distinct — all downstream work is bounded by
    days x users, independent of event volume."""
    ev = _ev(spark, sf_dir)
    day = F.to_date("ts")
    du = ev.select(day.alias("day"), "user_id").distinct() \
        .localCheckpoint(eager=False)  # persist A/B-rejected r13 (1.35x)
    dau = du.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau"))
    served = (du.select(
        F.explode(F.sequence(F.col("day"),
                             F.date_add(F.col("day"), 6)))
        .alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau")))
    # trailing windows only exist for days with actual activity
    return (dau.join(served, "day")
            .select(F.unix_date("day").alias("day_idx"), "dau", "wau"))


def q_session_stats(spark, sf_dir):
    """Batch gap-based sessionization (operators/timeseries.py
    sessionize; 30-min gap) rolled up to per-session stats — the
    replayable-history complement of the streaming session window
    (events_session)."""
    from dask_ms_spark.operators.timeseries import sessionize

    ev = _ev(spark, sf_dir)
    s = sessionize(ev, gap_seconds=1800)
    return (s.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.min(F.unix_timestamp("ts")).alias("start_epoch"),
                 F.max(F.unix_timestamp("ts")).alias("end_epoch"),
                 (F.max(F.unix_timestamp("ts"))
                  - F.min(F.unix_timestamp("ts"))).alias("duration_s"),
                 F.round(F.sum(F.round("value", 4)), 4)
                  .alias("value_sum")))


def q_dataset_card(spark, sf_dir):
    """Per-(lang, source) dataset card: the release-notes profile a
    corpus publisher ships — volumes, token totals, exact-dup ratio.
    One scan, digest-only distinct, two partial-merged aggregates."""
    d = _t(spark, sf_dir, "documents")
    from dask_ms_spark.llm.dedup import normalize_text

    per_doc = d.select(
        "lang", "source",
        F.length("text").cast("long").alias("n_chars"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        portable_hash64(normalize_text(F.col("text"))).alias("digest"))
    agg = (per_doc.groupBy("lang", "source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
                F.countDistinct("digest").cast("long")
                 .alias("n_unique_docs")))
    return agg.select(
        "lang", "source", "n_docs", "total_chars", "total_tokens",
        "n_unique_docs",
        F.round(F.lit(1.0) - F.col("n_unique_docs")
                / F.col("n_docs").cast("double"), 6).alias("dup_ratio"),
        F.round(F.col("total_chars") / F.col("n_docs").cast("double"), 6)
         .alias("avg_doc_chars"))


def q_events_ema(spark, sf_dir):
    """Per-user exponentially weighted moving average of click values
    (operators/timeseries.py windowed_ema): bounded 16-row trailing
    frame, decay weights inlined as literals so the recurrence is an
    engine-exact frame aggregate, not a sequential scan."""
    from dask_ms_spark.operators.timeseries import windowed_ema

    ev = (_ev(spark, sf_dir)
          .where("event_type = 'click'"))
    out = windowed_ema(ev, value_col="value",
                       order_cols=("ts", "event_id"), by="user_id",
                       alpha=0.8, window=16)
    return out.select("event_id", "user_id",
                      F.unix_timestamp("ts").alias("epoch"),
                      F.round("value", 4).alias("value"), "ema")


def q_interval_overlap(spark, sf_dir):
    """Interval-interval overlap join (operators/joins.py
    interval_overlap_join): click activity windows [ts, ts+value*60s]
    against error windows [ts, ts+30min] per user, bucketized to
    hourly keys with canonical-first-bucket emission (no distinct
    stage) — the scale-safe form of an inequality join."""
    from dask_ms_spark.operators.joins import interval_overlap_join

    ev = _ev(spark, sf_dir)
    ep = F.unix_timestamp("ts")
    clicks = (ev.where("event_type = 'click'")
              .select("user_id", ep.alias("ls"),
                      (ep + F.round(F.col("value") * 60).cast("long"))
                      .alias("le")))
    errors = (ev.where("event_type = 'error'")
              .select("user_id", ep.alias("rs"),
                      (ep + F.lit(1800)).alias("re_s")))
    j = interval_overlap_join(clicks, errors, "ls", "le", "rs", "re_s",
                              by="user_id", bucket_width=3600.0)
    ov = F.least(F.col("le"), F.col("re_s")) \
        - F.greatest(F.col("ls"), F.col("rs"))
    return (j.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum(ov).cast("long").alias("overlap_seconds")))


def q_corpus_overlap_kmv(spark, sf_dir):
    """Release-to-release corpus overlap from one merged KMV sketch
    (llm/sketches.py kmv_overlap): |v1|, |v2|, union and Jaccard
    estimated without joining the corpora — only (8-byte hash, flag)
    pairs shuffle, and the sketch is k rows regardless of corpus
    size.  v2 is the corpus_diff simulation (drop %11, revise %5,
    add %13) so the expected overlap is known."""
    from dask_ms_spark.llm.dedup import normalize_text
    from dask_ms_spark.llm.sketches import kmv_overlap

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v2 = (d.where(did % 11 != 0)
           .select(F.when(did % 5 == 0,
                          F.concat("text", F.lit(" rev2")))
                    .otherwise(F.col("text")).alias("text"))
           .unionByName(d.where(did % 13 == 0).select("text")))
    a = d.select(normalize_text(F.col("text")).alias("v"))
    b = v2.select(normalize_text(F.col("text")).alias("v"))
    return kmv_overlap(a, b, "v", k=256)


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient over the
    minhash-LSH near-dup candidate graph (operators/graph.py
    triangle_count): dense template cliques light up, chance pair
    hits stay triangle-free."""
    from dask_ms_spark.llm.dedup import minhash_lsh_pairs
    from dask_ms_spark.operators.graph import triangle_count

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, num_bands=4,
                              shingle_k=5, threshold=0.5)
    return triangle_count(pairs)


def q_char_entropy(spark, sf_dir):
    """Per-doc character-distribution quality signals: Shannon entropy
    (bits, fixed-point-quantised terms) and Simpson diversity over the
    lower-cased char histogram (llm/corpus.py char_entropy)."""
    from dask_ms_spark.llm.corpus import char_entropy

    return char_entropy(_t(spark, sf_dir, "documents"))


def q_heavy_hitters_cms(spark, sf_dir):
    """Count-min-sketch heavy hitters (llm/sketches.py cms_sketch /
    cms_estimate): a 4x1024 mergeable frequency sketch over token
    occurrences built in ONE scan (map-side explode x depth, reduce
    side bounded by depth*width cells), then the exact top-20 tokens
    probed against the broadcast sketch.  The one-sided guarantee
    (cms_est >= exact_freq, overcount = collision mass only) is
    checked value-for-value by the oracle, which rebuilds the
    identical md5-hashed sketch in SQL."""
    from dask_ms_spark.llm.sketches import cms_estimate, cms_sketch

    toks = scoped_persist(  # feeds sketch AND top-k
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.lower(F.col("text"))))
                .alias("token")))
    sk = cms_sketch(toks, "token", width=1024, depth=4)
    exact = (toks.groupBy("token")
             .agg(F.count(F.lit(1)).cast("long").alias("exact_freq")))
    top = exact.orderBy(F.col("exact_freq").desc(), "token").limit(20)
    return (cms_estimate(sk, top, "token", width=1024, depth=4)
            .select("token", "exact_freq",
                    F.col("cms_est").cast("long").alias("cms_est")))


def _cms_hh_sql(width: int = 1024, depth: int = 4, k: int = 20) -> str:
    """Mirror of q_heavy_hitters_cms: identical md5 bucket hashes,
    cell sums grouped over the full vocabulary, min-over-rows probe
    of the exact top-k."""
    h = _DUCK_HASH.format(
        x="(token || 'cms:' || cast(d as varchar))")
    return f"""
        WITH t AS (SELECT CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                               ELSE regexp_split_to_array(
                                   trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                          AS toks
                   FROM documents),
        w AS (SELECT unnest(toks) AS token FROM t),
        f AS (SELECT token, count(*) AS freq FROM w GROUP BY token),
        dd AS (SELECT unnest(range({depth})) AS d),
        cells AS (SELECT d, {h} % {width} AS bucket,
                         sum(freq) AS cnt
                  FROM f CROSS JOIN dd GROUP BY 1, 2),
        top AS (SELECT token, freq FROM f
                ORDER BY freq DESC, token LIMIT {k}),
        probe AS (SELECT top.token, top.freq, dd.d,
                         {h} % {width} AS bucket
                  FROM top CROSS JOIN dd)
        SELECT p.token, cast(p.freq as bigint) AS exact_freq,
               cast(min(coalesce(c.cnt, 0)) as bigint) AS cms_est
        FROM probe p LEFT JOIN cells c USING (d, bucket)
        GROUP BY 1, 2
    """


def q_tensor_chan_avg(spark, sf_dir):
    """Flag-aware channel averaging of a tensor column
    (functions/vector.py masked_bin_average): bin-8 averages over the
    unmasked elements of each embedding vector, all in Catalyst
    higher-order functions — the MS DATA/FLAG channel-averaging shape
    with zero Python exchange.  Bin values are quantised to micro
    units (NULL bins sentinel -999999999) and CSV-joined so the
    driver's pandas canon can hash them."""
    from dask_ms_spark.functions.vector import masked_bin_average

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mask = F.transform(vec, lambda x: x > 0)
    binned = masked_bin_average(vec, mask, 8)
    q = F.transform(binned, lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"),
        F.lit(-999999999)).cast("string"))
    return embs.select("vec_id", F.array_join(q, ",").alias("chan_avg_q"))


_CHAN_AVG_KEPT = ("list_filter(list_slice(vec, b * 8 + 1, b * 8 + 8), "
                  "x -> x > 0)")
_CHAN_AVG_SQL = f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform(
               range(0, cast(ceil(len(vec) / 8.0) as int)),
               b -> CASE WHEN len({_CHAN_AVG_KEPT}) > 0
                    THEN cast(cast(round(
                        (list_sum({_CHAN_AVG_KEPT})
                         / len({_CHAN_AVG_KEPT})) * 1000000)
                        as bigint) as varchar)
                    ELSE '-999999999' END), ',') AS chan_avg_q
    FROM v
"""


def q_tensor_row_avg(spark, sf_dir):
    """Cross-row masked tensor mean (operators/grouping.py
    tensor_row_average): element-wise flag-honouring average of the
    embedding vectors per synthetic baseline (vec_id % 16) — the MS
    time/baseline-averaging reduction as ONE (group, position)-keyed
    shuffle.  quantize_scale applies the fixed-point sum discipline
    so the oracle agrees bit-for-bit under any shuffle order."""
    from dask_ms_spark.operators.grouping import tensor_row_average

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = embs.select((F.col("vec_id") % 16).alias("g"),
                    vec.alias("vec"),
                    F.transform(vec, lambda x: x > 0).alias("m"))
    out = tensor_row_average(d, ["g"], "vec", "m",
                             quantize_scale=1 << 20)
    q = F.transform(F.col("vec_mean"), lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"),
        F.lit(-999999999)).cast("string"))
    return out.select("g", F.array_join(q, ",").alias("mean_q"),
                      "n_rows")


_ROW_AVG_SQL = """
    WITH v AS (SELECT vec_id % 16 AS g,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    e AS (SELECT g, i AS pos,
                 CASE WHEN vec[i] > 0 THEN vec[i] END AS xv
          FROM v, UNNEST(range(1, len(vec) + 1)) AS t(i)),
    c AS (SELECT g, pos,
                 cast(sum(cast(round(xv * 1048576) as bigint))
                      as double) / 1048576 AS s,
                 count(xv) AS n, count(*) AS nr
          FROM e GROUP BY 1, 2)
    SELECT g,
           array_to_string(list(
               CASE WHEN n > 0
               THEN cast(cast(round(s / n * 1000000) as bigint)
                         as varchar)
               ELSE '-999999999' END ORDER BY pos), ',') AS mean_q,
           cast(max(nr) as bigint) AS n_rows
    FROM c GROUP BY g
"""


def q_dedup_edit_distance(spark, sf_dir):
    """Verbatim near-dup pairs (llm/dedup.py edit_distance_pairs):
    LSH candidates verified by EXACT banded Levenshtein over the
    normalised text — candidates shuffle as ids only, payload joins in
    for the surviving set, distance runs JVM-side with the
    O(max_edits * n) threshold form."""
    from dask_ms_spark.llm.dedup import edit_distance_pairs

    return edit_distance_pairs(
        _t(spark, sf_dir, "documents"), max_edits=200, max_ratio=0.4,
        num_hashes=16, num_bands=4, shingle_k=5, lsh_threshold=0.5) \
        .select("id_a", "id_b", F.col("edits").cast("long").alias("edits"),
                "edit_ratio")


def _edit_distance_sql(n: int = 5, num_hashes: int = 16,
                       num_bands: int = 4, threshold: float = 0.5,
                       max_edits: int = 200,
                       max_ratio: float = 0.4) -> str:
    """Mirror of q_dedup_edit_distance: the _minhash_drop_sql
    candidate CTEs, then exact levenshtein over the shared normalised
    text (DuckDB's levenshtein == Spark's, probed: unit-cost code
    points), ratio filtered on the ROUNDED value exactly as the Spark
    side does."""
    rows_per_band = num_hashes // num_bands
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    base = ("list_transform(grams, s -> " +
            _DUCK_HASH.format(x="s") + f" % {MINHASH_P})")
    mins = ", ".join(
        f"list_min(list_transform(hset, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_COEFFS[:num_hashes])
    band_exprs = ", ".join(
        _DUCK_HASH.format(
            x=("array_to_string(list_slice(sig, "
               f"{b * rows_per_band + 1}, {(b + 1) * rows_per_band}), ',') "
               f"|| 'band{b}'"))
        for b in range(num_bands))
    band_ids = "[" + ", ".join(str(b) for b in range(num_bands)) + "]"
    return f"""
        WITH sh AS (SELECT doc_id AS id, {shingles} AS grams
                    FROM documents),
        hb AS (SELECT id, list_distinct({base}) AS hset FROM sh),
        sg AS (SELECT id, [{mins}] AS sig FROM hb),
        banded AS (
            SELECT id, unnest([{band_exprs}]) AS band_hash,
                   unnest({band_ids}) AS band_id
            FROM sg),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
                 ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            WHERE a.id < b.id),
        est AS (
            SELECT id_a, id_b,
                   len(list_filter(range(1, {num_hashes + 1}),
                       i -> sa.sig[i] = sb.sig[i])) / {num_hashes}.0
                   AS est_jaccard
            FROM cand
            JOIN sg sa ON sa.id = id_a
            JOIN sg sb ON sb.id = id_b),
        nt AS (SELECT doc_id, {norm} AS t FROM documents),
        lev AS (
            SELECT id_a, id_b,
                   levenshtein(na.t, nb.t) AS edits,
                   greatest(length(na.t), length(nb.t), 1) AS L
            FROM est
            JOIN nt na ON na.doc_id = id_a
            JOIN nt nb ON nb.doc_id = id_b
            WHERE est_jaccard >= {threshold})
        SELECT id_a, id_b, cast(edits as bigint) AS edits,
               round(edits * 1.0 / L, 6) AS edit_ratio
        FROM lev
        WHERE edits <= {max_edits}
          AND round(edits * 1.0 / L, 6) <= {max_ratio}
    """


_PR_FREQS = [1.4e9 + 2.0e6 * k for k in range(32)]
_PR_L, _PR_M = 0.01, -0.02


def q_phase_rotate(spark, sf_dir):
    """Visibility rephasing (functions/complexf.py phase_rotate): the
    measurement-equation geometric-delay phasor applied per channel to
    a synthetic 32-channel complex DATA column (embedding halves as
    re/im planes, uvw derived from vec_id) — one codegen'd projection,
    no shuffle, no Python.  Rotated samples quantised to micro units
    for the hash compare."""
    from dask_ms_spark.functions.complexf import c_make, phase_rotate

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = embs.select(
        "vec_id",
        c_make(F.slice(vec, 1, 32), F.slice(vec, 33, 32)).alias("z"),
        ((F.col("vec_id") % 97) * 10.0 - 480).alias("u"),
        ((F.col("vec_id") % 89) * 12.0 - 520).alias("v"),
        ((F.col("vec_id") % 31) * 3.0 - 45).alias("w"))
    rot = phase_rotate(F.col("z"), F.col("u"), F.col("v"), F.col("w"),
                       _PR_L, _PR_M, _PR_FREQS)
    q = F.transform(rot, lambda x: F.round(x * 1e6).cast("long")
                    .cast("string"))
    return d.select("vec_id", F.array_join(q, ",").alias("rot_q"))


def _phase_rotate_sql() -> str:
    import math as _math

    n = _math.sqrt(1.0 - _PR_L * _PR_L - _PR_M * _PR_M)
    freqs = "[" + ", ".join(repr(f) for f in _PR_FREQS) + "]"
    c = 299792458.0
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding,
                                         x -> cast(x as double)) AS e,
                          (vec_id % 97) * 10.0 - 480 AS u,
                          (vec_id % 89) * 12.0 - 520 AS vv,
                          (vec_id % 31) * 3.0 - 45 AS w
                   FROM embeddings),
        b AS (SELECT vec_id, e,
                     (-2 * pi()) * (u * {_PR_L} + vv * ({_PR_M})
                                    + w * ({n - 1.0!r})) / {c!r}
                     AS base
              FROM v)
        SELECT vec_id,
               array_to_string(flatten(list_transform(
                   range(1, 33),
                   k -> [cast(cast(round((e[k] * cos(base * ({freqs})[k])
                              - e[32+k] * sin(base * ({freqs})[k]))
                             * 1000000) as bigint) as varchar),
                         cast(cast(round((e[k] * sin(base * ({freqs})[k])
                              + e[32+k] * cos(base * ({freqs})[k]))
                             * 1000000) as bigint) as varchar)])), ',')
               AS rot_q
        FROM b
    """


# abscissae quantised to the 2^-20 dyadic grid: their full
# fixed-point decimal literals are EXACT in DuckDB's literal->DECIMAL
# ->DOUBLE parse path (a raw repr(double) literal double-rounds there
# — measured: 14/64 values off by 1 ulp, amplified through the
# cancellation-prone OLS denominator), and F.lit ships the identical
# bits on the Spark side.
_SI_LOGX = [round(__import__("math").log(f) * (1 << 20)) / (1 << 20)
            for f in (_PR_FREQS[:32] + _PR_FREQS[:32])]


def q_spectral_index(spark, sf_dir):
    """Per-row spectral-index fit (functions/vector.py log_log_fit
    via precomputed log-abscissae): log-log OLS of embedding channel
    amplitudes against the fixed frequency comb — flux ~ freq^alpha
    per source, one codegen'd expression, no explode/shuffle.
    Negative/zero channels excluded (the flagged-channel
    analogue)."""
    from dask_ms_spark.functions.vector import log_log_fit

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fit = log_log_fit(vec, _SI_LOGX, xs_are_logs=True)
    return embs.select(
        "vec_id",
        F.round(fit["alpha"], 6).alias("alpha"),
        F.round(fit["intercept"], 6).alias("intercept"),
        fit["n_used"].alias("n_used"))


def _spectral_index_sql() -> str:
    import math as _math

    del _math
    # exact 2^-20-grid decimals, cast to DOUBLE[] once (the cast of
    # an exactly-representable value is exact; leaving them DECIMAL
    # would overflow scale in the x*x products)
    lx = ("CAST([" + ", ".join("%.20f" % x for x in _SI_LOGX)
          + "] AS DOUBLE[])")
    return f"""
        WITH v AS (SELECT vec_id,
                          list_transform(embedding,
                                         x -> cast(x as double)) AS e
                   FROM embeddings),
        p AS (SELECT vec_id,
                     list_filter(
                         list_transform(range(1, len(e) + 1),
                             i -> CASE WHEN e[i] > 0 THEN
                                  {{'y': ln(e[i]), 'x': ({lx})[i]}}
                                  END),
                         s -> s IS NOT NULL) AS kept
              FROM v),
        s AS (SELECT vec_id, len(kept) AS n,
                     -- list_reduce over a 0.0-prepended list == the
                     -- Spark aggregate() LEFT fold bit-for-bit
                     -- (list_sum uses a different summation order)
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(kept, s -> s.x)),
                         (a, b) -> a + b) AS sx,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(kept, s -> s.y)),
                         (a, b) -> a + b) AS sy,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(kept, s -> s.x * s.x)),
                         (a, b) -> a + b) AS sxx,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         list_transform(kept, s -> s.x * s.y)),
                         (a, b) -> a + b) AS sxy
              FROM p)
        SELECT vec_id,
               round(CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
                     THEN (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     END, 6) AS alpha,
               round(CASE WHEN n >= 2 AND n * sxx - sx * sx != 0
                     THEN (sy - ((n * sxy - sx * sy)
                                 / (n * sxx - sx * sx)) * sx) / n
                     END, 6) AS intercept,
               cast(n as bigint) AS n_used
        FROM s
    """


def q_weighted_quantiles(spark, sf_dir):
    """Exact weighted quantiles (functions/stats.py
    weighted_quantiles): quantity-weighted price percentiles per
    return flag — the smallest value whose cumulative weight reaches
    q * total (an order statistic, not an interpolation, so results
    are engine-exact).  One window + one aggregation, single shuffle
    on the group."""
    from dask_ms_spark.functions.stats import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity",
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("tb"))
    return weighted_quantiles(li, "l_extendedprice", "l_quantity",
                              qs=(0.25, 0.5, 0.75, 0.9),
                              group_cols="l_returnflag",
                              tiebreak_col="tb")


_WQ_SQL = """
    WITH c AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                      cast(l_quantity as double) AS w,
                      l_orderkey * 8 + l_linenumber AS tb
               FROM lineitem),
    cw AS (SELECT g, v,
                  sum(w) OVER (PARTITION BY g ORDER BY v, tb
                               ROWS UNBOUNDED PRECEDING) AS cwv,
                  sum(w) OVER (PARTITION BY g) AS tw
           FROM c)
    SELECT g AS l_returnflag,
           min(CASE WHEN cwv >= 0.25 * tw THEN v END) AS q25,
           min(CASE WHEN cwv >= 0.5 * tw THEN v END) AS q50,
           min(CASE WHEN cwv >= 0.75 * tw THEN v END) AS q75,
           min(CASE WHEN cwv >= 0.9 * tw THEN v END) AS q90
    FROM cw GROUP BY g
"""


def _scratch(kind: str, sf_dir: str) -> str:
    """Per-(operator, scale-factor, process) scratch dir for queries
    that drive a WRITE-side operator end-to-end: wiped at call start
    so results are a pure function of the inputs; keyed by sf AND pid
    so concurrent harnesses (driver at sf0.01, bench at sf0.1, a
    judge re-running check_oracle alongside either) never race each
    other's stores."""
    import shutil
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        f"dms_{kind}_{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def q_snapshot_roundtrip(spark, sf_dir):
    """Atomic multi-table snapshot round trip (operators/snapshot.py
    publish_snapshot/read_snapshot): publish version 0 (half the
    corpus), then version 1 (full corpus + an orders rollup), read
    CURRENT back and digest every table plus the version numbers.
    Proves the pointer flip serves v1, and that the published copy is
    faithful — the oracle digests the same source relations directly,
    so any divergence in the store round trip hash-mismatches."""
    from dask_ms_spark.operators.snapshot import (publish_snapshot,
                                                  read_snapshot)

    store = _scratch("snapshot", sf_dir)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_chars"))
    v0 = publish_snapshot({"docs": docs.where("doc_id % 2 = 0")}, store)
    rollup = (_t(spark, sf_dir, "orders")
              .groupBy("o_orderpriority")
              .agg(F.count(F.lit(1)).cast("long").alias("n_orders")))
    v1 = publish_snapshot({"docs": docs, "orders_rollup": rollup},
                          store)
    snap = read_snapshot(spark, store)
    d = (snap["docs"].agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("checksum"))
        .select(F.lit("docs").alias("tbl"), "n_rows", "checksum"))
    o = (snap["orders_rollup"].agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_orders").cast("long").alias("checksum"))
        .select(F.lit("orders_rollup").alias("tbl"), "n_rows",
                "checksum"))
    v = spark.range(1).select(
        F.lit("versions").alias("tbl"),
        F.lit(int(v0)).cast("long").alias("n_rows"),
        F.lit(int(v1)).cast("long").alias("checksum"))
    return d.unionByName(o).unionByName(v)


def q_backfill_restart(spark, sf_dir):
    """Restartable partitioned backfill (operators/backfill.py):
    recompute a per-(ISO-week, event-type) events rollup one week at a
    time with rename-committed completion markers — first over half
    the weeks, then a "restarted" run over all weeks that SKIPS the
    committed half — and read back the union of committed partitions.
    The oracle computes the same rollup declaratively: the backfilled
    store must equal the single-pass answer exactly.  The driver-side
    loop sequences O(#weeks) partition jobs; each job is fully
    distributed (the 100 TB shape — see backfill.py docstring)."""
    from dask_ms_spark.operators.backfill import backfill, read_backfill

    store = _scratch("backfill", sf_dir)
    # each week is a SEPARATE Spark job (the backfill contract), so
    # cross-job exchange reuse cannot help — without the persist every
    # week job re-scans the events parquet and re-derives the week
    # column (O(#weeks) full scans; the derived-column filter cannot
    # push down).  Persist the narrow (week, event_type, user_id)
    # projection once instead (r12, guide §2.6/§5).
    ev = scoped_persist(
        _ev(spark, sf_dir)
        .withColumn("week", F.date_format(
            F.date_trunc("week", F.col("ts")), "yyyy-MM-dd"))
        .select("week", "event_type", "user_id"))
    weeks = sorted(r.week for r in
                   ev.select("week").distinct().collect())

    def run(spark_, week):
        return (ev.where(F.col("week") == week)
                .groupBy("week", "event_type")
                .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                     F.countDistinct("user_id").cast("long")
                     .alias("n_users")))

    # a single local week-rollup cannot saturate the session, so
    # overlap the partition jobs (guide §2.6; backfill's documented
    # many-small-partitions mode) — commit semantics are unchanged,
    # the markers are per-partition-atomic.  On a cluster where one
    # partition fills the executors, 1 is the right value.
    conc = _BACKFILL_CONCURRENCY
    first = backfill(spark, weeks[: len(weeks) // 2], run, store,
                     max_concurrent=conc)
    second = backfill(spark, weeks, run, store, max_concurrent=conc)
    done = {p for p, s in first if s == "done"}
    # restart discipline: every partition committed in pass 1 must be
    # skipped (not recomputed) in pass 2
    assert all(s == "skipped" for p, s in second if p in done), second
    return read_backfill(spark, store) \
        .select("week", "event_type", "n_events", "n_users")


def q_ann_ivf_indexed(spark, sf_dir):
    """Persistent IVF index end-to-end (llm/similarity.py
    build_ivf_index + ivf_query_indexed): k-means (2 Lloyd iters)
    centroids + cell-partitioned corpus written to storage, then
    queried back — probing reads ONLY the nprobe cell partitions (the
    layout IS the pruning; PartitionFilters plan-asserted in pytest).
    The oracle mirrors the deterministic k-means (quantised fixed-
    point centroid means) and exact cosine within probed cells."""
    from dask_ms_spark.llm.similarity import (build_ivf_index,
                                              ivf_query_indexed)

    path = _scratch("ivf_index", sf_dir)
    # r12 optimization: the 2-iteration Lloyd plan embeds the corpus
    # subtree many times (seed centroids + per-iteration scoring) and
    # the index build scans it again — persist the cast scan once
    embs = scoped_persist(
        _t(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")))
    build_ivf_index(embs, path, num_cells=8, iters=2)
    qs = embs.where("vec_id < 5")
    return (ivf_query_indexed(spark, path, qs, k=10, nprobe=4)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.round("cos_sim", 6).alias("cos_sim")))


def _ivf_indexed_sql(k: int = 10, num_cells: int = 8, nprobe: int = 4,
                     n_queries: int = 5, scale: int = 1 << 20) -> str:
    """Mirror of build_ivf_index + ivf_query_indexed: the _kmeans_sql
    two-iteration Lloyd CTEs (lowest-id init, (d2, cidx) argmin,
    fixed-point centroid update), then the STORED centroids = quantised
    means over final members, probe assignment by cosine against them,
    exact cosine within probed cells."""
    dist = ("list_sum(list_transform(range(1, len(vec) + 1), "
            "i -> (vec[i] - cvec[i]) * (vec[i] - cvec[i])))")
    cos_qc = _COS.replace("va", "q.qvec").replace("vb", "c.cvec")
    cos_qn = _COS.replace("va", "p.qvec").replace("vb", "mem.vec")
    return f"""
        WITH pts AS (SELECT vec_id AS id,
                            list_transform(embedding,
                                           x -> cast(x as double)) AS vec
                     FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY id) AS cidx,
                      vec AS cvec
               FROM (SELECT id, vec FROM pts ORDER BY id
                     LIMIT {num_cells})),
        d1 AS (SELECT id, vec, cidx, {dist} AS d2
               FROM pts CROSS JOIN c0),
        a1 AS (SELECT id, vec, cidx,
                      row_number() OVER (PARTITION BY id
                                         ORDER BY d2, cidx) AS rn
               FROM d1),
        ex AS (SELECT cidx, i AS pos,
                      cast(round(vec[i] * {scale}) as bigint) AS qx
               FROM a1, UNNEST(range(1, len(vec) + 1)) AS t(i)
               WHERE rn = 1),
        m AS (SELECT cidx, pos,
                     cast(sum(qx) as double)
                     / cast(count(*) * {scale} as double) AS cx
              FROM ex GROUP BY 1, 2),
        c1 AS (SELECT cidx, list(cx ORDER BY pos) AS cvec
               FROM m GROUP BY cidx),
        d2t AS (SELECT id, vec, cidx, {dist} AS d2
                FROM pts CROSS JOIN c1),
        a2 AS (SELECT id, vec, cidx,
                      row_number() OVER (PARTITION BY id
                                         ORDER BY d2, cidx) AS rn
                FROM d2t),
        mem AS (SELECT id, cidx AS cell, vec FROM a2 WHERE rn = 1),
        ex2 AS (SELECT cell, i AS pos,
                       cast(round(vec[i] * {scale}) as bigint) AS qx
                FROM mem, UNNEST(range(1, len(vec) + 1)) AS t(i)),
        m2 AS (SELECT cell, pos,
                      cast(sum(qx) as double)
                      / cast(count(*) * {scale} as double) AS cx
               FROM ex2 GROUP BY 1, 2),
        c2 AS (SELECT cell AS cent_id, list(cx ORDER BY pos) AS cvec
               FROM m2 GROUP BY cell),
        q AS (SELECT id AS query_id, vec AS qvec FROM pts
              WHERE id < {n_queries}),
        paff AS (SELECT q.query_id, q.qvec, c.cent_id, {cos_qc} AS aff
                 FROM q, c2 c),
        probes AS (
            SELECT query_id, qvec, cent_id AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY aff DESC, cent_id ASC) AS pr FROM paff)
            WHERE pr <= {nprobe}),
        scored AS (
            SELECT DISTINCT p.query_id, mem.id AS neighbor_id,
                   {cos_qn} AS cos
            FROM probes p JOIN mem ON p.cell = mem.cell
            WHERE p.query_id != mem.id),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC,
                                               neighbor_id ASC)
                   AS rank, cos
            FROM scored)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos_sim
        FROM ranked WHERE rank <= {k}
    """


def q_flag_summary(spark, sf_dir):
    """Flag-occupancy QA (operators/bda.py flag_summary): the
    `flagstats` staple — per-baseline visibility/flagged counts with
    the per-row fold map-side (no explode; the only exchange is the
    group partial-sum)."""
    from dask_ms_spark.operators.bda import flag_summary

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = embs.select((F.col("vec_id") % 16).alias("b"),
                    F.transform(vec, lambda x: x <= 0).alias("fl"))
    out = flag_summary(d, ["b"], "fl")
    return out.select(
        "b", F.col("n_rows").cast("long").alias("n_rows"),
        "n_vis", "n_flagged",
        F.round(F.col("flag_frac") * 1e6).cast("long").alias("frac_q"))


_FLAG_SUMMARY_SQL = """
    WITH v AS (SELECT vec_id % 16 AS b,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    r AS (SELECT b, len(vec) AS nv,
                 len(list_filter(vec, x -> x <= 0)) AS nf
          FROM v)
    SELECT b, cast(count(*) as bigint) AS n_rows,
           cast(sum(nv) as bigint) AS n_vis,
           cast(sum(nf) as bigint) AS n_flagged,
           cast(round(cast(sum(nf) as double) / sum(nv) * 1000000)
                as bigint) AS frac_q
    FROM r GROUP BY b
"""


def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (llm/similarity.py pq_topk): corpus
    vectors collapse to 8 codebook codes (the 32x scan-compression
    move that makes exhaustive asymmetric-distance search affordable
    at 100 TB), queries score via broadcast per-query lookup tables.
    Distances are order-free fixed-point int64 sums, so ranking is
    engine-exact and the oracle mirrors the argmin/LUT arithmetic
    term by term."""
    from dask_ms_spark.llm.similarity import pq_topk

    embs = _t(spark, sf_dir, "embeddings") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = embs.where("vec_id < 5")
    return pq_topk(embs, queries, dim=64, k=10, num_sub=8,
                   num_codes=8) \
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"), "approx_d")


_ANN_PQ_SQL = """
    WITH v AS (SELECT vec_id AS id,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    sv AS (SELECT id, m, list_slice(vec, m * 8 + 1, m * 8 + 8) AS sv
           FROM v, UNNEST(range(8)) AS t(m)),
    cb AS (SELECT m, cast(id as int) AS k, sv AS cv
           FROM sv WHERE id < 8),
    dist AS (SELECT s.id, s.m, c.k,
                    list_sum(list_transform(range(1, 9),
                        i -> cast(round((s.sv[i] - c.cv[i])
                                        * (s.sv[i] - c.cv[i])
                                        * 1048576) as bigint))) AS d
             FROM sv s JOIN cb c USING (m)),
    enc AS (SELECT id, m, k AS code FROM (
                SELECT id, m, k, row_number() OVER (
                    PARTITION BY id, m ORDER BY d, k) AS rn
                FROM dist)
            WHERE rn = 1),
    lut AS (SELECT id AS qid, m, k, d AS pd FROM dist WHERE id < 5),
    scored AS (SELECT l.qid AS query_id, e.id AS neighbor_id,
                      cast(sum(l.pd) as bigint) AS approx_d
               FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.code
               WHERE l.qid != e.id
               GROUP BY 1, 2),
    ranked AS (SELECT query_id, neighbor_id, approx_d,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY approx_d,
                                                  neighbor_id) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cast(rank as bigint) AS rank,
           approx_d
    FROM ranked WHERE rank <= 10
"""


def q_rfi_flag(spark, sf_dir):
    """RFI flagging (operators/rfi.py rfi_flag): per-(baseline,
    channel) rolling robust z-score — deviation from the rolling
    median beyond k * 1.4826 * MAD flags the sample; pre-flagged
    cells persist and are excluded from every statistic.  All three
    statistics are window aggregates over ONE (baseline, channel)
    exchange.  The threshold constant crosses to the oracle as its
    exact integer ratio (dyadic-literal rule)."""
    from dask_ms_spark.operators.rfi import rfi_flag

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select((F.col("vec_id") % 8).alias("b"),
                    F.col("vec_id").alias("t"),
                    F.col("embedding").alias("data"),
                    F.transform(F.col("embedding"),
                                lambda x: x <= -1.5).alias("fl"))
    out = rfi_flag(d, "t", ["b"], "data", "fl", window=3, k=4.0)
    return out.select(
        "b", F.col("t").alias("vec_id"), "n_flagged_new",
        F.array_join(F.transform(F.col("flag_rfi"),
                     lambda fl: F.when(fl, "1").otherwise("0")), ",")
         .alias("flag_csv"))


def _rfi_flag_sql() -> str:
    num, den = (1.4826).as_integer_ratio()
    anum, aden = (1.2533141373155003).as_integer_ratio()
    return f"""
    WITH v AS (SELECT vec_id % 8 AS b, vec_id AS t,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    e AS (SELECT b, t, i - 1 AS pos,
                 CASE WHEN NOT (vec[i] <= -1.5) THEN vec[i] END AS x
          FROM v, UNNEST(range(1, len(vec) + 1)) AS u(i)),
    st AS (SELECT b, t, pos, x,
                  quantile_cont(x, 0.5) OVER (PARTITION BY b, pos)
                      AS med
           FROM e),
    st2 AS (SELECT *, quantile_cont(abs(x - med), 0.5) OVER (
                    PARTITION BY b, pos) AS mad,
                  avg(abs(x - med)) OVER (PARTITION BY b, pos) AS aad,
                  quantile_cont(x, 0.5) OVER (
                    PARTITION BY b, pos ORDER BY t
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS rmed
            FROM st),
    th AS (SELECT *, 4.0 * (CASE WHEN mad > 0
                            THEN (CAST({num} AS DOUBLE) / {den}) * mad
                            ELSE (CAST({anum} AS DOUBLE) / {aden})
                                 * coalesce(aad, 0.0) END) AS thr
           FROM st2),
    fl AS (SELECT b, t, pos,
                  (x IS NULL) OR (x IS NOT NULL AND rmed IS NOT NULL
                      AND abs(x - rmed) > thr) AS f,
                  CASE WHEN x IS NOT NULL AND rmed IS NOT NULL
                       AND abs(x - rmed) > thr
                       THEN 1 ELSE 0 END AS nw
           FROM th)
    SELECT b, t AS vec_id,
           cast(sum(nw) as bigint) AS n_flagged_new,
           array_to_string(list(CASE WHEN f THEN '1' ELSE '0' END
                                ORDER BY pos), ',') AS flag_csv
    FROM fl GROUP BY b, t
    """


def q_gain_solve(spark, sf_dir):
    """Antenna-gain solve (operators/calibration.py gain_solve): two
    damped antsol iterations over synthetic visibilities
    V_pq = G_p conj(G_q) scaled per row; per-iteration sums are
    int64-quantised, so the oracle mirrors every multiply/add in the
    same order and matches bit-for-bit.  The gain table is broadcast-
    joined onto the edge list each iteration — per-antenna state never
    shuffles the visibility set."""
    from dask_ms_spark.operators.calibration import gain_solve

    embs = _t(spark, sf_dir, "embeddings")
    p = (F.col("vec_id") % 8).cast("double")
    q = ((F.col("vec_id") / 8).cast("long") % 8).cast("double")
    ap, bp = 1.0 + 0.05 * p, 0.02 * p
    aq, bq = 1.0 + 0.05 * q, 0.02 * q
    s = 1.0 + 0.001 * (F.col("vec_id") % 7).cast("double")
    d = embs.select(
        (F.col("vec_id") % 8).alias("antenna1"),
        ((F.col("vec_id") / 8).cast("long") % 8).alias("antenna2"),
        F.array(s * (ap * aq + bp * bq),
                s * (bp * aq - ap * bq)).alias("vis")) \
        .where(F.col("antenna1") < F.col("antenna2"))
    out = gain_solve(d, iters=2, damping=0.5)
    return out.select(
        "antenna",
        F.round(F.element_at("gain", 1) * 1e6).cast("long")
         .alias("gre_q"),
        F.round(F.element_at("gain", 2) * 1e6).cast("long")
         .alias("gim_q"))


# shared CTE chain: synthetic V_pq = G_p conj(G_q) visibilities and
# the two quantised antsol iterations; the gain_solve oracle projects
# g2, the applycal oracle applies g2 back onto vis
_GAIN_CTES = """
    WITH base AS (
        SELECT vec_id, vec_id % 8 AS a1, (vec_id // 8) % 8 AS a2,
               1.0 + 0.05 * cast(vec_id % 8 as double) AS ap,
               0.02 * cast(vec_id % 8 as double) AS bp,
               1.0 + 0.05 * cast((vec_id // 8) % 8 as double) AS aq,
               0.02 * cast((vec_id // 8) % 8 as double) AS bq,
               1.0 + 0.001 * cast(vec_id % 7 as double) AS s
        FROM embeddings),
    vis AS (SELECT vec_id, a1, a2,
                   s * (ap * aq + bp * bq) AS vre,
                   s * (bp * aq - ap * bq) AS vim
            FROM base WHERE a1 < a2),
    edges AS (SELECT a1 AS p, a2 AS q, vre, vim FROM vis
              UNION ALL
              SELECT a2 AS p, a1 AS q, vre, -vim AS vim FROM vis),
    -- iteration 1: g0 = (1, 0) for every antenna, so num = V and
    -- den = 1 per edge; quantised sums mirror _qsum exactly
    it1 AS (SELECT p AS antenna,
                   cast(sum(cast(round((vre * 1.0 - vim * 0.0)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sre,
                   cast(sum(cast(round((vre * 0.0 + vim * 1.0)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sim,
                   cast(sum(cast(round((1.0 * 1.0 + 0.0 * 0.0)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sd
            FROM edges GROUP BY p),
    g1 AS (SELECT antenna,
                  0.5 * 1.0 + (0.5 * sre) / sd AS gre,
                  0.5 * 0.0 + (0.5 * sim) / sd AS gim
           FROM it1),
    it2 AS (SELECT e.p AS antenna,
                   cast(sum(cast(round((e.vre * g.gre - e.vim * g.gim)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sre,
                   cast(sum(cast(round((e.vre * g.gim + e.vim * g.gre)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sim,
                   cast(sum(cast(round((g.gre * g.gre + g.gim * g.gim)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sd
            FROM edges e JOIN g1 g ON g.antenna = e.q
            GROUP BY e.p),
    g2 AS (SELECT i.antenna,
                  0.5 * g.gre + (0.5 * i.sre) / i.sd AS gre,
                  0.5 * g.gim + (0.5 * i.sim) / i.sd AS gim
           FROM it2 i JOIN g1 g ON g.antenna = i.antenna)
"""

_GAIN_SOLVE_SQL = _GAIN_CTES + """
    SELECT antenna,
           cast(round(gre * 1000000) as bigint) AS gre_q,
           cast(round(gim * 1000000) as bigint) AS gim_q
    FROM g2
"""


def q_applycal(spark, sf_dir):
    """applycal — solve then CORRECT (functions/complexf.py
    apply_gains mode='correct' on gain_solve's solutions): the
    visibilities are divided by G_p conj(G_q), spelled V * conj(g) /
    |g|^2 so the whole correction is one codegen'd projection; both
    gain attachments are broadcast joins (the fact table never
    shuffles — the applycal contract at 100 TB of DATA)."""
    from dask_ms_spark.functions.complexf import apply_gains
    from dask_ms_spark.operators.calibration import gain_solve

    embs = _t(spark, sf_dir, "embeddings")
    p = (F.col("vec_id") % 8).cast("double")
    q = ((F.col("vec_id") / 8).cast("long") % 8).cast("double")
    ap, bp = 1.0 + 0.05 * p, 0.02 * p
    aq, bq = 1.0 + 0.05 * q, 0.02 * q
    s = 1.0 + 0.001 * (F.col("vec_id") % 7).cast("double")
    d = embs.select(
        "vec_id",
        (F.col("vec_id") % 8).alias("antenna1"),
        ((F.col("vec_id") / 8).cast("long") % 8).alias("antenna2"),
        F.array(s * (ap * aq + bp * bq),
                s * (bp * aq - ap * bq)).alias("vis")) \
        .where(F.col("antenna1") < F.col("antenna2"))
    gains = gain_solve(d, vis_col="vis", iters=2, damping=0.5)
    out = apply_gains(d, gains, ant1_col="antenna1",
                      ant2_col="antenna2", data_col="vis",
                      mode="correct")
    return out.select(
        "vec_id",
        F.round(F.element_at("vis_corrected", 1) * F.lit(1e6))
         .cast("long").alias("cre_q"),
        F.round(F.element_at("vis_corrected", 2) * F.lit(1e6))
         .cast("long").alias("cim_q"))


_APPLYCAL_SQL = _GAIN_CTES + """
    , gp AS (SELECT v.vec_id, v.vre, v.vim,
                    p.gre * q.gre + p.gim * q.gim AS pr,
                    p.gim * q.gre - p.gre * q.gim AS pi
             FROM vis v JOIN g2 p ON p.antenna = v.a1
                        JOIN g2 q ON q.antenna = v.a2)
    SELECT vec_id,
           cast(round((vre * pr + vim * pi) / (pr * pr + pi * pi)
                      * 1000000.0) as bigint) AS cre_q,
           cast(round((vim * pr - vre * pi) / (pr * pr + pi * pi)
                      * 1000000.0) as bigint) AS cim_q
    FROM gp
"""


def q_grid_conv(spark, sf_dir):
    """Convolutional gridding (operators/imaging.py
    grid_visibilities kernel path): each visibility spreads over the
    (2s+1)^2 neighbouring cells with truncated-gaussian weights — a
    FIXED map-side neighbour-explode on the same grid-bounded
    aggregate, per-cell contributions fixed-point quantised so the
    reduction is shuffle-order deterministic and engine-exact."""
    from dask_ms_spark.operators.imaging import grid_visibilities

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        ((F.col("vec_id") * 13.7) % 24.0 - 12.0).alias("u"),
        ((F.col("vec_id") * 7.3) % 24.0 - 12.0).alias("v"),
        F.round(F.element_at("embedding", 1) * 1e3).alias("re"),
        F.round(F.element_at("embedding", 2) * 1e3).alias("im"))
    g = grid_visibilities(d, "u", "v", "re", "im", cell_size=1.0,
                          npix=32, hermitian=False,
                          kernel_support=1,
                          quantize_scale=1 << 20)
    return g.select(
        F.col("iu").cast("long").alias("iu"),
        F.col("iv").cast("long").alias("iv"),
        F.round(F.col("vis_re") * F.lit(float(1 << 20))).cast("long")
         .alias("re_fx"),
        F.round(F.col("vis_im") * F.lit(float(1 << 20))).cast("long")
         .alias("im_fx"),
        F.round(F.col("wsum") * F.lit(float(1 << 20))).cast("long")
         .alias("w_fx"),
        F.col("n_vis").cast("long").alias("n_vis"))


def _grid_conv_sql() -> str:
    import math

    from dask_ms_spark.operators.imaging import KERNEL_OVERSAMPLE

    qs = float(1 << 20)
    # s=1, sigma=0.5 -> 1/(2 sigma^2) = 2.0 exactly (dyadic).
    # The kernel is the SAME oversampled literal table the Spark plan
    # bakes in (engine-exact: runtime exp() differs by 1 ulp between
    # libms, which flipped one fixed-point tie in 684 cells at sf0.1);
    # repr() literals round-trip to the identical doubles, and the
    # linear interpolation below is exactly-specified IEEE arithmetic.
    over = KERNEL_OVERSAMPLE
    n_tab = int(1.5 * over) + 2
    tab = ", ".join(repr(math.exp(-((i / over) ** 2) * 2.0))
                    for i in range(n_tab + 1))

    def g1d(d: str) -> str:
        return (f"(__tab[cast(floor(abs({d}) * {over}.0) as int) + 1]"
                f" + (abs({d}) * {over}.0"
                f"     - floor(abs({d}) * {over}.0))"
                f" * (__tab[cast(floor(abs({d}) * {over}.0) as int) + 2]"
                f"    - __tab[cast(floor(abs({d}) * {over}.0) as int)"
                f"            + 1]))")

    # 13.7e0 / 7.3e0: the e0 suffix forces DOUBLE literals — bare
    # 13.7 parses as DECIMAL in DuckDB, and vec_id * DECIMAL is exact
    # decimal arithmetic that diverges ~1e-12 from Spark's double
    # product, flipping fixed-point roundings that land near a tie
    return f"""
    WITH tabcte AS (SELECT CAST([{tab}] AS DOUBLE[]) AS __tab),
    d AS (SELECT fmod(vec_id * 13.7e0, 24.0) - 12.0 AS u,
                 fmod(vec_id * 7.3e0, 24.0) - 12.0 AS v,
                 round(embedding[1] * 1000.0) AS re,
                 round(embedding[2] * 1000.0) AS im
          FROM embeddings),
    sp AS (SELECT u / 1.0 + 16 AS x, v / 1.0 + 16 AS y, re, im,
                  du, dv
           FROM d, UNNEST([-1, 0, 1]) AS tu(du),
                   UNNEST([-1, 0, 1]) AS tv(dv)),
    c AS (SELECT cast(floor(x + 0.5) + du as bigint) AS iu,
                 cast(floor(y + 0.5) + dv as bigint) AS iv,
                 {g1d('(x - (floor(x + 0.5) + du))')}
                 * {g1d('(y - (floor(y + 0.5) + dv))')} AS k,
                 re, im
          FROM sp, tabcte),
    q AS (SELECT iu, iv,
                 round((1.0 * k) * re * {qs!r}) / {qs!r} AS cre,
                 round((1.0 * k) * im * {qs!r}) / {qs!r} AS cim,
                 round((1.0 * k) * {qs!r}) / {qs!r} AS cw
          FROM c
          WHERE iu >= 0 AND iu < 32 AND iv >= 0 AND iv < 32)
    SELECT iu, iv,
           cast(round(sum(cre) * {qs!r}) as bigint) AS re_fx,
           cast(round(sum(cim) * {qs!r}) as bigint) AS im_fx,
           cast(round(sum(cw) * {qs!r}) as bigint) AS w_fx,
           cast(count(*) as bigint) AS n_vis
    FROM q GROUP BY 1, 2
    """


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language (chars per BPE-ish token —
    the tokenizer-budget planning number: languages with high
    fertility cost fewer tokens per char): one map-side
    regexp_extract_all count feeding a keyed aggregate.  The token
    regex (functions/text.py BPE_TOKEN_PATTERN) is RE2-safe, so the
    DuckDB oracle runs the identical pattern."""
    from dask_ms_spark.functions.text import bpe_token_count

    docs = _t(spark, sf_dir, "documents")
    out = (docs.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text").cast("long")).alias("n_chars"),
                F.sum(bpe_token_count(F.col("text")).cast("long"))
                .alias("n_tokens")))
    return out.select(
        "lang", "n_docs", "n_chars", "n_tokens",
        F.round(F.col("n_chars") / F.col("n_tokens") * 1e6)
         .cast("long").alias("fertility_q"))


def _tokenizer_fertility_sql() -> str:
    from dask_ms_spark.functions.text import BPE_TOKEN_PATTERN

    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"""
    WITH d AS (SELECT lang, length(text) AS c,
                      len(regexp_extract_all(text, '{pat}')) AS t
               FROM documents)
    SELECT lang, cast(count(*) as bigint) AS n_docs,
           cast(sum(c) as bigint) AS n_chars,
           cast(sum(t) as bigint) AS n_tokens,
           cast(round(cast(sum(c) as bigint)
                      / cast(sum(t) as bigint) * 1000000.0)
                as bigint) AS fertility_q
    FROM d GROUP BY lang
"""


def q_scan_summary(spark, sf_dir):
    """listobs per-scan summary (operators/listobs.py scan_summary):
    one keyed aggregate with map-side combine; distinct baselines
    ride an 8-byte packed key."""
    from dask_ms_spark.operators.listobs import scan_summary

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        (F.col("vec_id") % 5).alias("SCAN_NUMBER"),
        (F.col("vec_id") % 5 % 2).alias("FIELD_ID"),
        F.col("vec_id").cast("double").alias("TIME"),
        (F.col("vec_id") % 7).alias("ANTENNA1"),
        ((F.col("vec_id") / 7).cast("long") % 7).alias("ANTENNA2"),
        F.slice("embedding", 1, 8).alias("DATA"))
    out = scan_summary(d, data_col="DATA")
    return out.select(
        F.col("scan").cast("long").alias("scan"),
        F.col("field").cast("long").alias("field"),
        "time_min", "time_max",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_baselines").cast("long").alias("n_baselines"),
        F.col("n_vis").cast("long").alias("n_vis"))


_SCAN_SUMMARY_SQL = """
    WITH v AS (SELECT vec_id % 5 AS scan, vec_id % 5 % 2 AS field,
                      cast(vec_id as double) AS t,
                      vec_id % 7 AS a1, (vec_id // 7) % 7 AS a2,
                      len(embedding[1:8]) AS w
               FROM embeddings)
    SELECT scan, field, min(t) AS time_min, max(t) AS time_max,
           cast(count(*) as bigint) AS n_rows,
           cast(count(DISTINCT greatest(a1, a2) * 65536
                               + least(a1, a2)) as bigint)
               AS n_baselines,
           cast(sum(w) as bigint) AS n_vis
    FROM v GROUP BY scan, field
"""


def q_sample_unimax(spark, sf_dir):
    """UniMax mixture sampling (llm/sampling.py sample_unimax):
    capped waterfilling computed declaratively on the |groups|-row
    stats table (closed form of the paper's iterative allocation),
    upsampling materialised as epoch copies with the partial epoch
    on the coordinated hash filter."""
    from dask_ms_spark.llm.sampling import sample_unimax

    docs = _t(spark, sf_dir, "documents")
    out = sample_unimax(docs, "doc_id", "source", budget=200000.0,
                        max_epochs=1.4, count_col="n_chars")
    return out.select("doc_id", "source",
                      F.col("epoch").cast("int").alias("epoch"))


def _sample_unimax_sql(budget: float = 200000.0,
                       max_epochs: float = 1.4) -> str:
    bucket = (_DUCK_HASH.format(
        x="cast(doc_id as varchar) || 'unimax'") + " % 1000000")
    return f"""
    WITH stats AS (SELECT source, cast(sum(n_chars) as double) AS s
                   FROM documents GROUP BY source),
    caps AS (SELECT source, s, s * {max_epochs!r} AS c FROM stats),
    o AS (SELECT *,
                 row_number() OVER (ORDER BY c, source) AS j,
                 count(*) OVER () AS k,
                 coalesce(sum(c) OVER (ORDER BY c, source
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0.0) AS sprev,
                 coalesce(lag(c) OVER (ORDER BY c, source), 0.0)
                     AS cprev
          FROM caps),
    tt AS (SELECT min(CASE WHEN tj <= c AND tj >= cprev THEN tj END)
                  AS tstar
           FROM (SELECT *, ({budget!r} - sprev) / (k - j + 1) AS tj
                 FROM o)),
    rates AS (SELECT source, least(c, coalesce(tstar, c)) / s AS rt
              FROM caps CROSS JOIN tt),
    cand AS (SELECT d.doc_id, d.source, u.e AS epoch, r.rt
             FROM documents d JOIN rates r USING (source),
                  UNNEST(range(0, cast(floor(r.rt) as bigint) + 1))
                  AS u(e))
    SELECT doc_id, source, cast(epoch as int) AS epoch
    FROM cand
    WHERE epoch < floor(rt)
       OR {bucket} < cast(floor((rt - floor(rt)) * 1000000)
                          as bigint)
    """


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment pairs (llm/dedup.py containment_pairs,
    the quote/subset detector): df-capped inverted-index candidates
    (the cap bounds posting fan-out, the LSH family's bucket-cap
    discipline) + exact set-containment verify; deterministic
    portable hashes make the pair set engine-identical."""
    from dask_ms_spark.llm.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    out = containment_pairs(docs, threshold=0.6)
    return out.select(
        "id_a", "id_b",
        F.round(F.col("cont_a_in_b") * 1e6).cast("long").alias("cab_q"),
        F.round(F.col("cont_b_in_a") * 1e6).cast("long").alias("cba_q"))


def _containment_sql(n: int = 5, threshold: float = 0.6,
                     max_doc_freq: int = 50,
                     min_matches: int = 3) -> str:
    norm = _DUCK_NORM.format(x="text")
    shingles = (f"list_distinct(CASE WHEN length({norm}) <= {n - 1} "
                f"THEN [{norm}] ELSE list_transform("
                f"range(1, length({norm}) - {n - 2}), "
                f"i -> substring({norm}, i, {n})) END)")
    base = ("list_transform(grams, s -> " +
            _DUCK_HASH.format(x="s") + f" % {MINHASH_P})")
    return f"""
        WITH sh AS (SELECT doc_id AS id, {shingles} AS grams
                    FROM documents),
        hb AS (SELECT id, list_distinct({base}) AS hset FROM sh),
        p AS (SELECT id, unnest(hset) AS h FROM hb),
        rare AS (SELECT h FROM p GROUP BY h
                 HAVING count(*) <= {max_doc_freq}),
        cp AS (SELECT p.* FROM p JOIN rare USING (h)),
        cand AS (SELECT a.id AS id_a, b.id AS id_b
                 FROM cp a JOIN cp b ON a.h = b.h AND a.id < b.id
                 GROUP BY 1, 2 HAVING count(*) >= {min_matches}),
        sc AS (SELECT id_a, id_b,
                      round(len(list_intersect(ha.hset, hb2.hset))
                            / len(ha.hset), 6) AS cab,
                      round(len(list_intersect(ha.hset, hb2.hset))
                            / len(hb2.hset), 6) AS cba
               FROM cand JOIN hb ha ON ha.id = id_a
                         JOIN hb hb2 ON hb2.id = id_b)
        SELECT id_a, id_b,
               cast(round(cab * 1000000.0) as bigint) AS cab_q,
               cast(round(cba * 1000000.0) as bigint) AS cba_q
        FROM sc WHERE greatest(cab, cba) >= {threshold}
    """


def q_parallactic_angle(spark, sf_dir):
    """mscal derived columns (functions/mscal.py): hour angle,
    parallactic angle and elevation per row from MJD-seconds time and
    (ra, dec) — pure row-local spherical trig in codegen, zero
    shuffles (the casacore mscal TAQL columns HA1/PA1/AZEL1,
    re-expressed as Column math).  Quantised at 1e4 (0.36 arcsec):
    libm-vs-JVM trig agrees far below that."""
    from dask_ms_spark.functions.mscal import (elevation_deg,
                                               hour_angle_deg,
                                               parallactic_angle_deg)

    lon, lat = 21.443, -30.712          # MeerKAT site (public)
    embs = _t(spark, sf_dir, "embeddings")
    v = embs.select(
        "vec_id",
        (F.lit(5.02e9) + F.col("vec_id") * F.lit(7919.0)).alias("t"),
        ((F.col("vec_id") * F.lit(37.0)) % F.lit(360.0)).alias("ra"),
        (F.lit(-60.0) + (F.col("vec_id") * F.lit(13.0))
         % F.lit(110.0)).alias("dec"))
    q = F.lit(1e4)
    return v.select(
        "vec_id",
        F.round(hour_angle_deg(F.col("t"), F.lit(lon), F.col("ra"))
                * q).cast("long").alias("ha_q"),
        F.round(parallactic_angle_deg(
            F.col("t"), F.lit(lon), F.lit(lat), F.col("ra"),
            F.col("dec")) * q).cast("long").alias("pa_q"),
        F.round(elevation_deg(
            F.col("t"), F.lit(lon), F.lit(lat), F.col("ra"),
            F.col("dec")) * q).cast("long").alias("el_q"))


_PARALLACTIC_SQL = """
    WITH v AS (SELECT vec_id,
                      5020000000.0e0 + vec_id * 7919.0e0 AS t,
                      fmod(vec_id * 37.0, 360.0) AS ra,
                      -60.0 + fmod(vec_id * 13.0, 110.0) AS dec
               FROM embeddings),
    g AS (SELECT *,
                 fmod(fmod(18.697374558 + 24.06570982441908
                           * (t / 86400.0 - 51544.5), 24.0)
                      + 24.0, 24.0) AS gmst
          FROM v),
    hw AS (SELECT *, fmod(fmod(gmst * 15.0 + 21.443 - ra, 360.0)
                          + 360.0, 360.0) AS haw
           FROM g),
    h AS (SELECT *, CASE WHEN haw > 180.0 THEN haw - 360.0
                         ELSE haw END AS ha
          FROM hw)
    SELECT vec_id,
           cast(round(ha * 10000.0) as bigint) AS ha_q,
           cast(round(degrees(atan2(
                sin(radians(ha)),
                tan(radians(-30.712)) * cos(radians(dec))
                - sin(radians(dec)) * cos(radians(ha))))
                * 10000.0) as bigint) AS pa_q,
           cast(round(degrees(asin(
                sin(radians(-30.712)) * sin(radians(dec))
                + cos(radians(-30.712)) * cos(radians(dec))
                * cos(radians(ha))))
                * 10000.0) as bigint) AS el_q
    FROM h
"""


def q_flag_grow(spark, sf_dir):
    """Morphological flag dilation (operators/rfi.py flag_grow, the
    CASA flagdata growtime/growfreq pass): separable rectangle
    dilation as two window maxima over one posexplode — keyed
    exchanges only, no joins, no driver round trips."""
    from dask_ms_spark.operators.rfi import flag_grow

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        (F.col("vec_id") % 4).alias("b"),
        F.col("vec_id").alias("t"),
        F.transform("embedding",
                    lambda x: x.cast("double") > F.lit(0.35))
         .alias("flag"))
    out = flag_grow(d, "t", ["b"], "flag",
                    time_radius=2, chan_radius=1)
    return out.select(
        "b", F.col("t").alias("vec_id"),
        F.col("n_grown").cast("long").alias("n_grown"),
        F.array_join(F.transform(
            "flag_grown",
            lambda f: F.when(f, F.lit("1")).otherwise(F.lit("0"))),
            ",").alias("flag_csv"))


_FLAG_GROW_SQL = """
    WITH v AS (SELECT vec_id % 4 AS b, vec_id AS t,
                      list_transform(embedding,
                                     x -> cast(x as double) > 0.35)
                      AS fl
               FROM embeddings),
    e AS (SELECT b, t, i - 1 AS pos, fl[i] AS f
          FROM v, UNNEST(range(1, len(fl) + 1)) AS u(i)),
    gt AS (SELECT *, max(CASE WHEN f THEN 1 ELSE 0 END) OVER (
                 PARTITION BY b, pos ORDER BY t
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ft
           FROM e),
    gc AS (SELECT *, max(ft) OVER (
                 PARTITION BY b, t ORDER BY pos
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) = 1 AS fc
           FROM gt)
    SELECT b, t AS vec_id,
           cast(sum(CASE WHEN fc AND NOT f THEN 1 ELSE 0 END)
                as bigint) AS n_grown,
           array_to_string(list(CASE WHEN fc THEN '1' ELSE '0' END
                                ORDER BY pos), ',') AS flag_csv
    FROM gc GROUP BY b, t
"""


def q_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (llm/corpus.py ngram_novelty):
    fraction of a doc's distinct word trigrams appearing in no other
    document — grams shuffle as 8-byte md5-derived hashes, never
    strings; one explode, one df aggregation, one hash-keyed join
    back, one doc-keyed aggregation."""
    from dask_ms_spark.llm.corpus import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    out = ngram_novelty(docs, n=3)
    return out.select(
        "doc_id", F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.round(F.col("novelty") * 1e6).cast("long").alias("novelty_q"))


def _ngram_novelty_sql() -> str:
    gram = "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]"
    h = _DUCK_HASH.format(x=gram)
    return f"""
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                           ELSE regexp_split_to_array(
                               trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END AS w
               FROM documents),
    g AS (SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(w) - 2), i -> {h}))
                 AS grams
          FROM t WHERE len(w) >= 3),
    e AS (SELECT doc_id, unnest(grams) AS g FROM g),
    dfq AS (SELECT g, count(*) AS df FROM e GROUP BY g),
    sc AS (SELECT doc_id, cast(count(*) as bigint) AS n_distinct,
                  cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                       as bigint) AS n_novel
           FROM e JOIN dfq USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(sc.n_distinct, 0) AS n_distinct,
           coalesce(sc.n_novel, 0) AS n_novel,
           cast(round(cast(sc.n_novel as double) / sc.n_distinct
                      * 1000000.0) as bigint) AS novelty_q
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
"""


def q_channel_regrid(spark, sf_dir):
    """Doppler-frame channel regrid (functions/vector.py
    channel_regrid): per-row fractional shift via linear
    interpolation, pure higher-order functions — zero shuffle, zero
    Python; out-of-grid channels NULL."""
    from dask_ms_spark.functions.vector import channel_regrid

    embs = _t(spark, sf_dir, "embeddings")
    shift = (F.col("vec_id") % 5).cast("double") * 0.5 - 1.0
    out = channel_regrid(F.col("embedding"), shift, 64)
    q = F.transform(out, lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"),
        F.lit(-999999999)).cast("string"))
    return embs.select("vec_id", F.array_join(q, ",").alias("regrid_q"))


_CHANNEL_REGRID_SQL = """
    WITH v AS (SELECT vec_id,
                      cast(vec_id % 5 as double) * 0.5 - 1.0 AS shift,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform(range(0, 64), i -> CASE
               WHEN cast(i as double) + shift >= 0
                AND cast(i as double) + shift
                    <= cast(len(vec) - 1 as double)
               THEN cast(cast(round(
                   ((1.0 - (cast(i as double) + shift
                            - cast(floor(cast(i as double) + shift)
                                   as double)))
                    * vec[cast(floor(cast(i as double) + shift)
                               as int) + 1]
                    + (cast(i as double) + shift
                       - cast(floor(cast(i as double) + shift)
                              as double))
                    * vec[least(cast(floor(cast(i as double) + shift)
                                    as int) + 2, len(vec))])
                   * 1000000) as bigint) as varchar)
               ELSE '-999999999' END), ',') AS regrid_q
    FROM v
"""


def q_spectral_moments(spark, sf_dir):
    """Spectral moments (functions/vector.py spectral_moments):
    per-row intensity-weighted mean channel and dispersion over
    unmasked cells — map-side folds, no explode.  The oracle mirrors
    the left-to-right fold via list_reduce (the list_sum order
    divergence rule, SCALE.md)."""
    from dask_ms_spark.functions.vector import spectral_moments

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mask = F.transform(vec, lambda x: x > 0)
    s = spectral_moments(vec, mask)
    return embs.select(
        "vec_id",
        F.round(s["mom0"] * 1e6).cast("long").alias("mom0_q"),
        F.coalesce(F.round(s["mom1"] * 1e6).cast("long"),
                   F.lit(-999999999)).alias("mom1_q"),
        F.coalesce(F.round(s["mom2"] * 1e6).cast("long"),
                   F.lit(-999999999)).alias("mom2_q"))


_SPECTRAL_MOMENTS_SQL = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x ->
                          CASE WHEN cast(x as double) > 0
                               THEN cast(x as double) END) AS vv,
                      len(embedding) AS n
               FROM embeddings),
    s0 AS (SELECT vec_id, vv, n,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(vv, x -> coalesce(x, 0.0))),
                      (a, b) -> a + b) AS mom0,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, n + 1), i ->
                          coalesce(vv[i] * cast(i - 1 as double),
                                   0.0))),
                      (a, b) -> a + b) AS sx
           FROM v),
    s1 AS (SELECT vec_id, vv, n, mom0,
                  CASE WHEN mom0 > 0 THEN sx / mom0 END AS mom1
           FROM s0),
    s2 AS (SELECT vec_id, mom0, mom1,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(range(1, n + 1), i ->
                          coalesce(vv[i]
                              * (cast(i - 1 as double) - mom1)
                              * (cast(i - 1 as double) - mom1),
                              0.0))),
                      (a, b) -> a + b) AS sxx
           FROM s1)
    SELECT vec_id,
           cast(round(mom0 * 1000000) as bigint) AS mom0_q,
           coalesce(cast(round(mom1 * 1000000) as bigint),
                    -999999999) AS mom1_q,
           coalesce(cast(round(CASE WHEN mom0 > 0
                               THEN sqrt(sxx / mom0) END * 1000000)
                         as bigint), -999999999) AS mom2_q
    FROM s2
"""


def q_imaging_weights(spark, sf_dir):
    """Briggs robust imaging weights (operators/imaging.py
    imaging_weights): per-row uv-cell occupancy via a window count
    (one exchange, no join-back), global normalisation as a 1-row
    broadcast aggregate; the 5*10^-R constant crosses to the oracle
    as its exact integer ratio."""
    from dask_ms_spark.operators.imaging import imaging_weights

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        ((F.col("vec_id") * 13.7) % 40.0 - 20.0).alias("u"),
        ((F.col("vec_id") * 7.3) % 40.0 - 20.0).alias("v"),
        (1.0 + (F.col("vec_id") % 3).cast("double")).alias("w"))
    out = imaging_weights(d, "u", "v", 4.0, "w", mode="briggs",
                          robust=0.5)
    return out.select(
        "vec_id", F.col("n_cell").cast("long").alias("n_cell"),
        F.round(F.col("imaging_weight") * 1e6).cast("long")
         .alias("iw_q"))


def _imaging_weights_sql() -> str:
    num, den = ((5.0 * 10.0 ** -0.5) ** 2).as_integer_ratio()
    return f"""
    WITH v AS (SELECT vec_id,
                      fmod(vec_id * 13.7e0, 40.0) - 20.0 AS u,
                      fmod(vec_id * 7.3e0, 40.0) - 20.0 AS vv,
                      1.0 + cast(vec_id % 3 as double) AS w
               FROM embeddings),
    c AS (SELECT *, cast(floor(u / 4.0 + 0.5) as bigint) AS cu,
                 cast(floor(vv / 4.0 + 0.5) as bigint) AS cv
          FROM v),
    n AS (SELECT *, count(*) OVER (PARTITION BY cu, cv) AS n_cell,
                 sum(w) OVER (PARTITION BY cu, cv) AS wk_row
          FROM c),
    cs AS (SELECT cu, cv, sum(w) AS wk
           FROM c GROUP BY 1, 2),
    g AS (SELECT cast(sum(wk * wk) as double) / sum(wk) AS mean_w
          FROM cs)
    SELECT vec_id, cast(n_cell as bigint) AS n_cell,
           cast(round(w / (1.0 + wk_row
                           * ((CAST({num} AS DOUBLE) / {den})
                              / mean_w)) * 1000000) as bigint) AS iw_q
    FROM n CROSS JOIN g
    """


def q_sample_temperature(spark, sf_dir):
    """Temperature-balanced mixture sampling (llm/sampling.py
    sample_temperature, the mT5 rebalancing): per-source char mass
    moves toward the alpha=0.5 share by pure downsampling — sqrt
    spelling is IEEE-exact cross-engine, the rarest source keeps
    rate 1, membership is the coordinated hash filter."""
    from dask_ms_spark.llm.sampling import sample_temperature

    docs = _t(spark, sf_dir, "documents")
    out = sample_temperature(docs, "doc_id", "source", alpha=0.5,
                             count_col="n_chars")
    return out.select("doc_id", "source",
                      F.col("n_chars").cast("long").alias("n_chars"))


_SAMPLE_TEMPERATURE_SQL = """
    WITH stats AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n
                   FROM documents GROUP BY source),
    r AS (SELECT source, sqrt(n) / n AS ratio FROM stats),
    m AS (SELECT max(ratio) AS rmax FROM r),
    rates AS (SELECT source, ratio / rmax AS rate
              FROM r CROSS JOIN m)
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d JOIN rates t ON d.source = t.source
    WHERE cast(('0x' || substring(md5(cast(doc_id as varchar)
                                      || 'temperature'), 1, 15))
               as bigint) % 1000000
          < CAST(floor(t.rate * 1000000) AS BIGINT)
"""


def q_crossmatch_nearest(spark, sf_dir):
    """Nearest-match variant of the Zones cross-match: each left
    source keeps only its closest counterpart within the radius (ties
    by right id) — the source-association spelling."""
    from dask_ms_spark.operators.crossmatch import crossmatch_sky

    embs = _t(spark, sf_dir, "embeddings")
    a = embs.select(
        F.col("vec_id").alias("id"),
        ((F.col("vec_id") * 137.508) % 360.0).alias("ra"),
        (((F.col("vec_id") * 7.919) % 120.0) - 60.0).alias("dec"))
    b0 = embs.where("vec_id % 3 = 0")
    b = b0.select(
        (F.col("vec_id") + 100000).alias("id"),
        ((((F.col("vec_id") * 137.508) % 360.0) + 360.0
          + 0.2 * ((F.col("vec_id") % 5) - 2) / 2) % 360.0).alias("ra"),
        ((((F.col("vec_id") * 7.919) % 120.0) - 60.0)
         + 0.2 * ((F.col("vec_id") % 3) - 1) / 2).alias("dec"))
    out = crossmatch_sky(a, b, 0.25, max_abs_dec=61.0, nearest=True)
    return out.select(
        "left_id", "right_id",
        F.round(F.col("sep_deg") * 1e6).cast("long").alias("sep_q"))


_CROSSMATCH_NEAREST_SQL = """
    WITH a AS (SELECT vec_id AS left_id,
                      fmod(vec_id * 137.508e0, 360.0) AS ra,
                      fmod(vec_id * 7.919e0, 120.0) - 60.0 AS dec
               FROM embeddings),
    b AS (SELECT vec_id + 100000 AS right_id,
                 fmod(fmod(vec_id * 137.508e0, 360.0) + 360.0
                      + 0.2e0 * ((vec_id % 5) - 2) / 2, 360.0) AS ra,
                 (fmod(vec_id * 7.919e0, 120.0) - 60.0)
                     + 0.2e0 * ((vec_id % 3) - 1) / 2 AS dec
          FROM embeddings WHERE vec_id % 3 = 0),
    pairs AS (SELECT left_id, right_id,
                     degrees(2 * asin(sqrt(
                         sin(radians(b.dec - a.dec) / 2)
                         * sin(radians(b.dec - a.dec) / 2)
                         + cos(radians(a.dec)) * cos(radians(b.dec))
                         * sin(radians(b.ra - a.ra) / 2)
                         * sin(radians(b.ra - a.ra) / 2)))) AS sep
              FROM a CROSS JOIN b),
    hits AS (SELECT *, row_number() OVER (
                 PARTITION BY left_id ORDER BY sep, right_id) AS rn
             FROM pairs WHERE sep <= 0.25)
    SELECT left_id, right_id,
           cast(round(sep * 1000000) as bigint) AS sep_q
    FROM hits WHERE rn = 1
"""


def q_bda_weighted(spark, sf_dir):
    """WEIGHT-weighted BDA (operators/bda.py bda_average with
    weight_data=True): cells carry sum(w*v)/sum(w) over unflagged
    samples — the MS WEIGHT semantic; numerator and denominator both
    ride the fixed-point discipline, so the oracle mirrors them
    term-exactly."""
    from dask_ms_spark.operators.bda import bda_average

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = embs.select(
        (F.col("vec_id") % 16).alias("b"),
        ((F.col("vec_id") % 16 + 1).cast("double") * 100.0).alias("uv"),
        F.col("vec_id").cast("double").alias("t"),
        (F.lit(1.0) + (F.col("vec_id") % 3).cast("double")).alias("w"),
        vec.alias("data"),
        F.transform(vec, lambda x: x <= 0).alias("fl"))
    out = bda_average(d, "t", ["b"], "uv", base_interval=4.0,
                      ref_uvdist=800.0, max_factor=8,
                      data_col="data", flag_col="fl", weight_col="w",
                      weight_data=True, quantize_scale=1 << 20)
    q = F.transform(F.col("data_mean"), lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"), F.lit(-999999999)).cast("string"))
    return out.select(
        "b", "bin", "factor",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.col("weight_sum") * 1e6).cast("long").alias("wsum_q"),
        F.array_join(q, ",").alias("data_q"))


_BDA_WEIGHTED_SQL = """
    WITH v AS (SELECT vec_id % 16 AS b,
                      cast(vec_id as double) AS t,
                      1.0 + cast(vec_id % 3 as double) AS w,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    p AS (SELECT *, cast(greatest(1, least(
                 cast(floor(800.0 / (cast(b + 1 as double) * 100.0))
                      as bigint), 8)) as int) AS factor
          FROM v),
    k AS (SELECT *, cast(floor(t / (4.0 * factor)) as bigint) AS bin
          FROM p),
    s AS (SELECT b, bin, min(factor) AS factor, count(*) AS n_rows,
                 sum(w) AS wsum
          FROM k GROUP BY 1, 2),
    e AS (SELECT b, bin, w, i AS pos,
                 CASE WHEN NOT (vec[i] <= 0) THEN vec[i] END AS xv
          FROM k, UNNEST(range(1, len(vec) + 1)) AS u(i)),
    c AS (SELECT b, bin, pos,
                 cast(sum(cast(round(xv * w * 1048576) as bigint))
                      as double) / 1048576 AS sm,
                 cast(sum(CASE WHEN xv IS NOT NULL THEN
                          cast(round(w * 1048576) as bigint) END)
                      as double) / 1048576 AS dw,
                 count(xv) AS n
          FROM e GROUP BY 1, 2, 3),
    d AS (SELECT b, bin,
                 array_to_string(list(
                     CASE WHEN n > 0 AND dw != 0
                     THEN cast(cast(round(sm / dw * 1000000) as bigint)
                               as varchar)
                     ELSE '-999999999' END ORDER BY pos), ',') AS data_q
          FROM c GROUP BY 1, 2)
    SELECT s.b, s.bin, s.factor, cast(s.n_rows as bigint) AS n_rows,
           cast(round(s.wsum * 1000000) as bigint) AS wsum_q,
           d.data_q
    FROM s JOIN d USING (b, bin)
"""


def q_sigma_clip(spark, sf_dir):
    """Iterative sigma clipping (operators/rfi.py sigma_clip): robust
    per-baseline mean/std with outliers beyond 2.5 sigma excluded over
    two rounds; quantised accumulators make every iteration
    engine-exact, and the oracle replays both rounds as CTEs."""
    from dask_ms_spark.operators.rfi import sigma_clip

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select((F.col("vec_id") % 8).alias("b"),
                    F.explode(F.col("embedding").cast("array<double>"))
                    .alias("x"))
    out = sigma_clip(d, "x", ["b"], k=2.5, iters=2)
    return out.select(
        "b",
        F.round(F.col("clip_mean") * 1e6).cast("long").alias("mean_q"),
        F.round(F.col("clip_std") * 1e6).cast("long").alias("std_q"),
        "n_kept", F.col("n_in").cast("long").alias("n_in"))


_SIGMA_CLIP_SQL = """
    WITH d AS (SELECT vec_id % 8 AS b, cast(x as double) AS x
               FROM embeddings, UNNEST(embedding) AS u(x)),
    n0 AS (SELECT b, count(*) AS n_in FROM d GROUP BY b),
    s1 AS (SELECT b,
                  cast(sum(cast(round(x * 1048576) as bigint))
                       as double) / 1048576 AS s,
                  cast(sum(cast(round((x * x) * 1048576) as bigint))
                       as double) / 1048576 AS ss,
                  count(*) AS n
           FROM d GROUP BY b),
    b1 AS (SELECT b, s / n AS m,
                  sqrt(greatest(CASE WHEN n > 1
                       THEN (ss - s * s / n) / (n - 1)
                       ELSE 0.0 END, 0.0)) AS sd
           FROM s1),
    d1 AS (SELECT d.b, d.x FROM d JOIN b1 USING (b)
           WHERE b1.sd = 0 OR abs(d.x - b1.m) <= 2.5 * b1.sd),
    s2 AS (SELECT b,
                  cast(sum(cast(round(x * 1048576) as bigint))
                       as double) / 1048576 AS s,
                  cast(sum(cast(round((x * x) * 1048576) as bigint))
                       as double) / 1048576 AS ss,
                  count(*) AS n
           FROM d1 GROUP BY b),
    b2 AS (SELECT b, s / n AS m,
                  sqrt(greatest(CASE WHEN n > 1
                       THEN (ss - s * s / n) / (n - 1)
                       ELSE 0.0 END, 0.0)) AS sd
           FROM s2),
    d2 AS (SELECT d1.b, d1.x FROM d1 JOIN b2 USING (b)
           WHERE b2.sd = 0 OR abs(d1.x - b2.m) <= 2.5 * b2.sd),
    fin AS (SELECT b,
                   cast(sum(cast(round(x * 1048576) as bigint))
                        as double) / 1048576 AS s,
                   cast(sum(cast(round((x * x) * 1048576) as bigint))
                        as double) / 1048576 AS ss,
                   count(*) AS n_kept
            FROM d2 GROUP BY b)
    SELECT n0.b,
           cast(round((s / n_kept) * 1000000) as bigint) AS mean_q,
           cast(round(sqrt(greatest(CASE WHEN n_kept > 1
                THEN (ss - s * s / n_kept) / (n_kept - 1)
                ELSE 0.0 END, 0.0)) * 1000000) as bigint) AS std_q,
           cast(coalesce(n_kept, 0) as bigint) AS n_kept,
           cast(n0.n_in as bigint) AS n_in
    FROM n0 LEFT JOIN fin f USING (b)
"""


def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composed ANN (llm/similarity.py ivfpq_topk): inverted-
    file cells bound WHICH rows are touched (sub-linear), PQ codes
    bound HOW MUCH each touched row costs (32x smaller) — FAISS's
    default layout as one declarative plan.  The oracle chains the
    ann_ivf cell-assignment mirror with the ann_pq encode/LUT mirror."""
    from dask_ms_spark.llm.similarity import ivfpq_topk

    # r12 optimization: ivfpq_topk fans the corpus out to ~6 subtrees
    # (seed check, centroids, cell assignment, codebooks, encode,
    # query legs) — persist the cast scan once so the plan reads one
    # InMemoryRelation instead of re-scanning per branch (16 parquet
    # scan branches before, plan-verified).  Production instead
    # persists the INDEX (build_ivf_index); this is the inline form.
    embs = scoped_persist(
        _t(spark, sf_dir, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>")))
    queries = embs.where("vec_id < 5")
    return ivfpq_topk(embs, queries, dim=64, k=10, num_cells=16,
                      nprobe=4, num_sub=8, num_codes=8) \
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank"), "approx_d")


_ANN_IVFPQ_SQL = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding,
                                     x -> cast(x as double)) AS vec
               FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, vec AS cvec FROM v
             WHERE vec_id < 16),
    aff AS (SELECT v.vec_id, v.vec, c.cent_id,
                   list_dot_product(v.vec, c.cvec)
                   / (sqrt(list_dot_product(v.vec, v.vec))
                      * sqrt(list_dot_product(c.cvec, c.cvec))) AS aff
            FROM v, cent c),
    cells AS (SELECT vec_id AS neighbor_id, cent_id AS cell
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY vec_id
                        ORDER BY aff DESC, cent_id ASC) AS pr
                    FROM aff)
              WHERE pr = 1),
    probes AS (SELECT vec_id AS query_id, cent_id AS cell
               FROM (SELECT *, row_number() OVER (
                         PARTITION BY vec_id
                         ORDER BY aff DESC, cent_id ASC) AS pr
                     FROM aff WHERE vec_id < 5)
               WHERE pr <= 4),
    sv AS (SELECT vec_id AS id, m,
                  list_slice(vec, m * 8 + 1, m * 8 + 8) AS sv
           FROM v, UNNEST(range(8)) AS t(m)),
    cb AS (SELECT m, cast(id as int) AS k, sv AS cv
           FROM sv WHERE id < 8),
    dist AS (SELECT s.id, s.m, c.k,
                    list_sum(list_transform(range(1, 9),
                        i -> cast(round((s.sv[i] - c.cv[i])
                                        * (s.sv[i] - c.cv[i])
                                        * 1048576) as bigint))) AS d
             FROM sv s JOIN cb c USING (m)),
    enc AS (SELECT id, m, k AS code FROM (
                SELECT id, m, k, row_number() OVER (
                    PARTITION BY id, m ORDER BY d, k) AS rn
                FROM dist)
            WHERE rn = 1),
    lut AS (SELECT id AS qid, m, k, d AS pd FROM dist WHERE id < 5),
    cand AS (SELECT p.query_id, c.neighbor_id
             FROM probes p JOIN cells c ON p.cell = c.cell
             WHERE p.query_id != c.neighbor_id),
    scored AS (SELECT cd.query_id, cd.neighbor_id,
                      cast(sum(l.pd) as bigint) AS approx_d
               FROM cand cd
               JOIN enc e ON e.id = cd.neighbor_id
               JOIN lut l ON l.qid = cd.query_id AND l.m = e.m
                          AND l.k = e.code
               GROUP BY 1, 2),
    ranked AS (SELECT query_id, neighbor_id, approx_d,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY approx_d,
                                                  neighbor_id) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cast(rank as bigint) AS rank,
           approx_d
    FROM ranked WHERE rank <= 10
"""


def q_curriculum(spark, sf_dir):
    """Curriculum ordering (llm/sampling.py curriculum_order): docs
    staged by score quartile (exact percentiles, 1-row broadcast),
    deterministically shuffled within stage by the coordinated hash —
    emits SORT KEYS (stage, pos), not a global rank, so the plan has
    no single-partition window."""
    from dask_ms_spark.llm.sampling import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    out = curriculum_order(docs, "doc_id", "n_chars", n_stages=4)
    return out.select(F.col("id").alias("doc_id"),
                      F.col("stage").cast("long").alias("stage"),
                      F.col("pos").cast("long").alias("pos"))


_CURRICULUM_SQL = """
    WITH th AS (SELECT quantile_cont(cast(n_chars as double),
                                     [0.25, 0.5, 0.75]) AS t
                FROM documents),
    d AS (SELECT doc_id, cast(n_chars as double) AS score
          FROM documents)
    SELECT doc_id,
           cast(3 - ((CASE WHEN score >= t[1] THEN 1 ELSE 0 END)
                     + (CASE WHEN score >= t[2] THEN 1 ELSE 0 END)
                     + (CASE WHEN score >= t[3] THEN 1 ELSE 0 END))
                as bigint) AS stage,
           cast(('0x' || substring(md5(cast(doc_id as varchar)
                                       || 'curriculum'), 1, 15))
                as bigint) % 1000000 AS pos
    FROM d CROSS JOIN th
"""


def q_stokes_convert(spark, sf_dir):
    """Polarization conversion (functions/complexf.py
    stokes_from_corrs): 4 interleaved complex correlations -> Stokes
    [I, Q, U, V], pure per-row codegen arithmetic — zero shuffles;
    the first 8 embedding elements stand in for the correlation
    vector."""
    from dask_ms_spark.functions.complexf import stokes_from_corrs

    embs = _t(spark, sf_dir, "embeddings")
    vis = F.slice(F.transform(F.col("embedding"),
                              lambda x: x.cast("double")), 1, 8)
    s = stokes_from_corrs(vis, basis="linear")
    q = F.transform(s, lambda x: F.round(x * 1e6).cast("long")
                    .cast("string"))
    return embs.select("vec_id", F.array_join(q, ",").alias("stokes_q"))


_STOKES_SQL = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding[1:8],
                                     x -> cast(x as double)) AS c
               FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform(
               [(c[1] + c[7]) * 0.5, (c[2] + c[8]) * 0.5,
                (c[1] - c[7]) * 0.5, (c[2] - c[8]) * 0.5,
                (c[3] + c[5]) * 0.5, (c[4] + c[6]) * 0.5,
                (c[4] - c[6]) * 0.5, (c[5] - c[3]) * 0.5],
               x -> cast(cast(round(x * 1000000) as bigint)
                         as varchar)), ',') AS stokes_q
    FROM v
"""


def q_closure_phase(spark, sf_dir):
    """Closure phases (operators/calibration.py closure_phases): the
    gain-independent triangle diagnostic arg(V_pq V_qr conj(V_pr));
    baselines are a dimension-sized relation, so all three join legs
    broadcast.  Synthetic per-baseline phases theta(p, q) make every
    triangle's closure theta_pq + theta_qr - theta_pr, which the
    oracle mirrors arithmetic-exactly."""
    from dask_ms_spark.operators.calibration import closure_phases

    embs = _t(spark, sf_dir, "embeddings")
    base = embs.select((F.col("vec_id") % 8).alias("antenna1"),
                       ((F.col("vec_id") / 8).cast("long") % 8)
                       .alias("antenna2")).distinct() \
        .where(F.col("antenna1") < F.col("antenna2"))
    p = F.col("antenna1").cast("double")
    q = F.col("antenna2").cast("double")
    th = 0.1 * (p + q) + 0.05 * (p - q)
    d = base.select("antenna1", "antenna2",
                    F.array(F.cos(th), F.sin(th)).alias("vis"))
    out = closure_phases(d)
    return out.select(
        "p", "q", "r",
        F.round(F.col("closure_phase") * 1e6).cast("long")
         .alias("cp_q"))


_CLOSURE_SQL = """
    WITH base AS (SELECT DISTINCT vec_id % 8 AS p,
                                  (vec_id // 8) % 8 AS q
                  FROM embeddings),
    pairs AS (SELECT p, q,
                     cos(0.1 * (cast(p as double) + cast(q as double))
                         + 0.05 * (cast(p as double)
                                   - cast(q as double))) AS re,
                     sin(0.1 * (cast(p as double) + cast(q as double))
                         + 0.05 * (cast(p as double)
                                   - cast(q as double))) AS im
              FROM base WHERE p < q),
    tri AS (SELECT a.p, a.q, b.q AS r,
                   a.re AS re1, a.im AS im1,
                   b.re AS re2, b.im AS im2,
                   c.re AS re3, c.im AS im3
            FROM pairs a
            JOIN pairs b ON b.p = a.q
            JOIN pairs c ON c.p = a.p AND c.q = b.q)
    SELECT p, q, r,
           cast(round(atan2(
               (re1 * im2 + im1 * re2) * re3
                   - (re1 * re2 - im1 * im2) * im3,
               (re1 * re2 - im1 * im2) * re3
                   + (re1 * im2 + im1 * re2) * im3) * 1000000)
                as bigint) AS cp_q
    FROM tri
"""


def q_hanning(spark, sf_dir):
    """Hanning spectral smoothing (functions/vector.py
    hanning_smooth): [0.25, 0.5, 0.25] channel convolution with
    flag-aware weight renormalisation, pure map over the scan."""
    from dask_ms_spark.functions.vector import hanning_smooth

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: F.when(
        ~(x.cast("double") <= -1.5), x.cast("double")))
    out = hanning_smooth(vec)
    q = F.transform(out, lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"),
        F.lit(-999999999)).cast("string"))
    return embs.select("vec_id", F.array_join(q, ",").alias("sm_q"))


_HANNING_SQL = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x ->
                          CASE WHEN NOT (cast(x as double) <= -1.5)
                               THEN cast(x as double) END) AS vv,
                      len(embedding) AS n
               FROM embeddings)
    SELECT vec_id,
           array_to_string(list_transform(range(1, n + 1), i ->
               CASE WHEN vv[i] IS NOT NULL THEN cast(cast(round(
                   ((coalesce(vv[i], 0.0) * 0.5
                     + coalesce(CASE WHEN i > 1 THEN vv[i - 1] END,
                                0.0) * 0.25
                     + coalesce(CASE WHEN i < n THEN vv[i + 1] END,
                                0.0) * 0.25)
                    / ((CASE WHEN vv[i] IS NOT NULL
                        THEN 0.5 ELSE 0.0 END)
                       + (CASE WHEN i > 1 AND vv[i - 1] IS NOT NULL
                          THEN 0.25 ELSE 0.0 END)
                       + (CASE WHEN i < n AND vv[i + 1] IS NOT NULL
                          THEN 0.25 ELSE 0.0 END)))
                   * 1000000) as bigint) as varchar)
               ELSE '-999999999' END), ',') AS sm_q
    FROM v
"""


def q_uvcontsub(spark, sf_dir):
    """Continuum subtraction (functions/vector.py uvcontsub): per-row
    linear fit over unmasked channels, subtracted in place — the
    uvlin pass; folds mirror via list_reduce in the oracle."""
    from dask_ms_spark.functions.vector import uvcontsub

    embs = _t(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mask = F.transform(vec, lambda x: ~(x <= -1.5))
    out = uvcontsub(vec, mask)
    q = F.transform(out, lambda x: F.coalesce(
        F.round(x * 1e6).cast("long"),
        F.lit(-999999999)).cast("string"))
    return embs.select("vec_id", F.array_join(q, ",").alias("sub_q"))


_UVCONTSUB_SQL = """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x ->
                          CASE WHEN NOT (cast(x as double) <= -1.5)
                               THEN cast(x as double) END) AS vv,
                      len(embedding) AS n
               FROM embeddings),
    k AS (SELECT vec_id, vv, n,
                 list_filter(list_transform(range(1, n + 1), i ->
                     CASE WHEN vv[i] IS NOT NULL THEN struct_pack(
                         y := vv[i],
                         x := cast(i - 1 as double)) END),
                     p -> p IS NOT NULL) AS kept
          FROM v),
    s AS (SELECT vec_id, vv, n,
                 cast(len(kept) as double) AS kn,
                 len(kept) AS ki,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(kept, p -> p.x)),
                     (a, b) -> a + b) AS sx,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(kept, p -> p.y)),
                     (a, b) -> a + b) AS sy,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(kept, p -> p.x * p.x)),
                     (a, b) -> a + b) AS sxx,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(kept, p -> p.x * p.y)),
                     (a, b) -> a + b) AS sxy
          FROM k),
    f AS (SELECT vec_id, vv, n, ki,
                 CASE WHEN kn * sxx - sx * sx != 0
                      THEN (kn * sxy - sx * sy)
                           / (kn * sxx - sx * sx)
                      ELSE 0.0 END AS slope,
                 sx, sy, kn
          FROM s),
    g AS (SELECT vec_id, vv, n, ki, slope,
                 CASE WHEN kn > 0 THEN (sy - slope * sx) / kn
                      ELSE 0.0 END AS icept
          FROM f)
    SELECT vec_id,
           array_to_string(list_transform(range(1, n + 1), i ->
               CASE WHEN ki >= 2 AND vv[i] IS NOT NULL
               THEN cast(cast(round(
                   (vv[i] - (icept + slope
                             * cast(i - 1 as double)))
                   * 1000000) as bigint) as varchar)
               WHEN vv[i] IS NOT NULL
               THEN cast(cast(round(vv[i] * 1000000) as bigint)
                         as varchar)
               ELSE '-999999999' END), ',') AS sub_q
    FROM g
"""


def q_predict_vis(spark, sf_dir):
    """Point-source visibility prediction (operators/calibration.py
    predict_vis): the gridless forward model — source terms bake in
    as literals, accumulation order fixed, pure map over the scan."""
    from dask_ms_spark.operators.calibration import predict_vis

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        ((F.col("vec_id") * 13.7) % 400.0 - 200.0).alias("u"),
        ((F.col("vec_id") * 7.3) % 400.0 - 200.0).alias("v"))
    out = predict_vis(d, "u", "v",
                      [(2.0, 1e-3, -2e-3), (1.0, -3e-3, 1.5e-3)])
    return out.select(
        "vec_id",
        F.round(F.element_at("model_vis", 1) * 1e6).cast("long")
         .alias("re_q"),
        F.round(F.element_at("model_vis", 2) * 1e6).cast("long")
         .alias("im_q"))


def _predict_vis_sql() -> str:
    import math

    tp = 2.0 * math.pi
    # emit the 2*pi constant as its exact integer ratio
    num, den = tp.as_integer_ratio()
    c = f"(CAST({num} AS DOUBLE) / {den})"
    return f"""
    WITH d AS (SELECT vec_id,
                      fmod(vec_id * 13.7e0, 400.0) - 200.0 AS u,
                      fmod(vec_id * 7.3e0, 400.0) - 200.0 AS v
               FROM embeddings)
    SELECT vec_id,
           cast(round((0.0 + 2.0 * cos({c} * (u * 0.001
                                              + v * (-0.002)))
                       + 1.0 * cos({c} * (u * (-0.003)
                                          + v * 0.0015)))
                      * 1000000) as bigint) AS re_q,
           cast(round((0.0 + 2.0 * sin({c} * (u * 0.001
                                              + v * (-0.002)))
                       + 1.0 * sin({c} * (u * (-0.003)
                                          + v * 0.0015)))
                      * 1000000) as bigint) AS im_q
    FROM d
    """


def q_grid_vis(spark, sf_dir):
    """Visibility gridding (operators/imaging.py grid_visibilities):
    predict -> quantise per row -> scatter onto a 64x64 uv grid with
    the hermitian fold.  The groupBy key space is bounded by npix^2,
    so map-side partial aggregation makes the exchange carry grid
    cells, not visibilities; per-row int64 quantisation BEFORE the
    cell sum keeps the reduction shuffle-order deterministic."""
    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import grid_visibilities

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        ((F.col("vec_id") * 13.7) % 64.0 - 32.0).alias("u"),
        ((F.col("vec_id") * 7.3) % 64.0 - 32.0).alias("v"))
    vis = predict_vis(d, "u", "v",
                      [(2.0, 1e-3, -2e-3), (1.0, -3e-3, 1.5e-3)])
    q = vis.select(
        "u", "v",
        F.round(F.element_at("model_vis", 1) * 1e6).alias("re"),
        F.round(F.element_at("model_vis", 2) * 1e6).alias("im"))
    g = grid_visibilities(q, "u", "v", "re", "im", cell_size=1.0,
                          npix=64, hermitian=True)
    return g.select(
        F.col("iu").cast("long").alias("iu"),
        F.col("iv").cast("long").alias("iv"),
        F.col("vis_re").cast("long").alias("re_q"),
        F.col("vis_im").cast("long").alias("im_q"),
        F.col("n_vis").cast("long").alias("n_vis"))


def _grid_vis_sql() -> str:
    import math

    num, den = (2.0 * math.pi).as_integer_ratio()
    c = f"(CAST({num} AS DOUBLE) / {den})"
    return f"""
    WITH d AS (SELECT fmod(vec_id * 13.7e0, 64.0) - 32.0 AS u,
                      fmod(vec_id * 7.3e0, 64.0) - 32.0 AS v
               FROM embeddings),
    p AS (SELECT u, v,
                 round((2.0 * cos({c} * (u * 0.001 + v * (-0.002)))
                        + 1.0 * cos({c} * (u * (-0.003)
                                           + v * 0.0015))) * 1000000)
                     AS re,
                 round((2.0 * sin({c} * (u * 0.001 + v * (-0.002)))
                        + 1.0 * sin({c} * (u * (-0.003)
                                           + v * 0.0015))) * 1000000)
                     AS im
          FROM d),
    h AS (SELECT u, v, re, im FROM p
          UNION ALL
          SELECT -u, -v, re, -im FROM p),
    cells AS (SELECT cast(floor(u / 1.0 + 0.5) as bigint) + 32 AS iu,
                     cast(floor(v / 1.0 + 0.5) as bigint) + 32 AS iv,
                     re, im
              FROM h)
    SELECT iu, iv,
           cast(sum(re) as bigint) AS re_q,
           cast(sum(im) as bigint) AS im_q,
           count(*) AS n_vis
    FROM cells
    WHERE iu >= 0 AND iu < 64 AND iv >= 0 AND iv < 64
    GROUP BY 1, 2
    """


def q_sumthreshold(spark, sf_dir):
    """SumThreshold RFI flagging (operators/rfi.py
    sumthreshold_flag): the AOFlagger combinatorial threshold — a
    whole pass stack (M = 1, 2, 4 with flagged-sample substitution)
    over ONE (group, order) exchange.  All constants dyadic
    (rho = 2) so every window sum is exact in both engines."""
    from dask_ms_spark.operators.rfi import sumthreshold_flag

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        (F.col("vec_id") % 4).alias("g"),
        F.when(F.col("vec_id") % 37 == 3, 5.0)
         .when((F.col("vec_id") % 37).between(10, 17), 0.375)
         .otherwise(0.0).alias("x"))
    out = sumthreshold_flag(d, "vec_id", ["g"], "x", chi1=1.0,
                            rho=2.0, windows=(1, 2, 4))
    return out.select("vec_id", "g", "x", "st_flag")


_SUMTHRESHOLD_SQL = """
    WITH d AS (SELECT vec_id, vec_id % 4 AS g,
                      CASE WHEN vec_id % 37 = 3 THEN 5.0
                           WHEN vec_id % 37 BETWEEN 10 AND 17
                               THEN 0.375
                           ELSE 0.0 END AS x
               FROM embeddings),
    p1 AS (SELECT *,
                  coalesce(bool_or(ex) OVER
                      (PARTITION BY g ORDER BY vec_id
                       ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
                      false) AS f
           FROM (SELECT *, x > 1.0 AS ex FROM d)),
    -- pass M=2, chi = 0.5: flagged samples enter at the threshold
    p2b AS (SELECT *,
                   CASE WHEN f THEN 0.5 ELSE x END AS used
            FROM p1),
    p2e AS (SELECT *,
                   (count(*) OVER w2 = 2
                    AND sum(used) OVER w2 > 1.0) AS ex2
            FROM p2b
            WINDOW w2 AS (PARTITION BY g ORDER BY vec_id
                          ROWS BETWEEN CURRENT ROW
                          AND 1 FOLLOWING)),
    p2 AS (SELECT *,
                  f OR coalesce(bool_or(ex2) OVER
                      (PARTITION BY g ORDER BY vec_id
                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
                      false) AS f2
           FROM p2e),
    -- pass M=4, chi = 0.25
    p4b AS (SELECT *,
                   CASE WHEN f2 THEN 0.25 ELSE x END AS used4
            FROM p2),
    p4e AS (SELECT *,
                   (count(*) OVER w4 = 4
                    AND sum(used4) OVER w4 > 1.0) AS ex4
            FROM p4b
            WINDOW w4 AS (PARTITION BY g ORDER BY vec_id
                          ROWS BETWEEN CURRENT ROW
                          AND 3 FOLLOWING)),
    p4 AS (SELECT *,
                  f2 OR coalesce(bool_or(ex4) OVER
                      (PARTITION BY g ORDER BY vec_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                      false) AS f4
           FROM p4e)
    SELECT vec_id, g, x, f4 AS st_flag FROM p4
    """


def _classifier_feats(docs):
    nz = F.greatest(F.length("text"), F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (F.length(F.regexp_replace("text", "[^0-9]", ""))
         .cast("double") / nz).alias("x2"),
        (F.length(F.regexp_replace("text", "[^ ]", ""))
         .cast("double") / nz).alias("x3"))


def q_quality_classifier(spark, sf_dir):
    """Distributed logistic-regression quality classifier
    (llm/classifier.py): 2 full-batch GD steps — weights bake into
    each iteration as literals, gradients are ONE 1-row aggregate of
    int64-quantised contributions (bit-deterministic under any
    shuffle order), then a pure map-side scoring pass.  The oracle
    replays both iterations in SQL, gain_solve-style."""
    from dask_ms_spark.llm.classifier import (logistic_score,
                                              logistic_train)

    # r12 optimization: each GD iteration is an eager 1-row aggregate
    # and scoring a third pass — without a persist every one of them
    # re-runs the regex feature extraction over the full text column.
    # The persisted frame is (doc_id, y, x1..x3): five numbers/row at
    # any corpus size, vs 3 full text scans + regex.
    feats = scoped_persist(
        _classifier_feats(_t(spark, sf_dir, "documents")))
    w = logistic_train(feats, ["x1", "x2", "x3"], "y", iters=2,
                       lr=1.0)
    out = logistic_score(feats, ["x1", "x2", "x3"], w)
    return out.select(
        "doc_id",
        F.round(F.col("score") * 1e6).cast("long").alias("score_q"),
        (F.col("score") > 0.5).alias("pred_en"))


_QUALITY_CLASSIFIER_SQL = """
    WITH feats AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               cast(n_chars as double) / 1000.0 AS x1,
               cast(length(regexp_replace(text, '[^0-9]', '', 'g'))
                    as double)
                   / greatest(length(text), 1) AS x2,
               cast(length(regexp_replace(text, '[^ ]', '', 'g'))
                    as double)
                   / greatest(length(text), 1) AS x3
        FROM documents),
    -- iteration 1 from w = 0: sigma(0) = 0.5 exactly
    it1 AS (SELECT count(*) AS n,
                   sum(cast(round((y - 0.5) * 1048576.0) as bigint))
                       AS g0,
                   sum(cast(round((y - 0.5) * x1 * 1048576.0)
                            as bigint)) AS g1,
                   sum(cast(round((y - 0.5) * x2 * 1048576.0)
                            as bigint)) AS g2,
                   sum(cast(round((y - 0.5) * x3 * 1048576.0)
                            as bigint)) AS g3
            FROM feats),
    w1 AS (SELECT n,
                  (g0 / 1048576.0) / n AS w0,
                  (g1 / 1048576.0) / n AS w1,
                  (g2 / 1048576.0) / n AS w2,
                  (g3 / 1048576.0) / n AS w3
           FROM it1),
    p2 AS (SELECT f.*, w1.*,
                  1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2
                                     + w3 * x3))) AS p
           FROM feats f CROSS JOIN w1),
    it2 AS (SELECT any_value(n) AS n,
                   any_value(w0) AS w0, any_value(w1) AS w1,
                   any_value(w2) AS w2, any_value(w3) AS w3,
                   sum(cast(round((y - p) * 1048576.0) as bigint))
                       AS g0,
                   sum(cast(round((y - p) * x1 * 1048576.0)
                            as bigint)) AS g1,
                   sum(cast(round((y - p) * x2 * 1048576.0)
                            as bigint)) AS g2,
                   sum(cast(round((y - p) * x3 * 1048576.0)
                            as bigint)) AS g3
            FROM p2),
    w2f AS (SELECT w0 + (g0 / 1048576.0) / n AS w0,
                   w1 + (g1 / 1048576.0) / n AS w1,
                   w2 + (g2 / 1048576.0) / n AS w2,
                   w3 + (g3 / 1048576.0) / n AS w3
            FROM it2)
    SELECT f.doc_id,
           cast(round(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2
                                         + w3 * x3))) * 1000000)
                as bigint) AS score_q,
           1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2
                              + w3 * x3))) > 0.5 AS pred_en
    FROM feats f CROSS JOIN w2f
    """


def q_uvw_compute(spark, sf_dir):
    """UVW geometry (operators/calibration.py uvw_from_baseline):
    the Thompson-Moran-Swenson baseline rotation as a pure map —
    declination terms bake in as literals, zero exchanges."""
    from dask_ms_spark.operators.calibration import uvw_from_baseline

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        ((F.col("vec_id") * 17.3) % 1000.0 - 500.0).alias("bx"),
        ((F.col("vec_id") * 11.9) % 1000.0 - 500.0).alias("by"),
        ((F.col("vec_id") * 5.7) % 200.0 - 100.0).alias("bz"),
        ((F.col("vec_id") * 0.013) % 6.0 - 3.0).alias("ha"))
    out = uvw_from_baseline(d, "bx", "by", "bz", "ha", dec=0.7,
                            wavelength=0.25)
    return out.select(
        "vec_id",
        F.round(F.col("u") * 1e6).cast("long").alias("u_q"),
        F.round(F.col("v") * 1e6).cast("long").alias("v_q"),
        F.round(F.col("w") * 1e6).cast("long").alias("w_q"))


def _uvw_sql() -> str:
    import math

    parts = {}
    for name, val in (("sd", math.sin(0.7)), ("cd", math.cos(0.7)),
                      ("inv", 1.0 / 0.25)):
        n, dn = val.as_integer_ratio()
        parts[name] = f"(CAST({n} AS DOUBLE) / {dn})"
    sd, cd, inv = parts["sd"], parts["cd"], parts["inv"]
    return f"""
    WITH d AS (SELECT vec_id,
                      fmod(vec_id * 17.3e0, 1000.0) - 500.0 AS bx,
                      fmod(vec_id * 11.9e0, 1000.0) - 500.0 AS by,
                      fmod(vec_id * 5.7e0, 200.0) - 100.0 AS bz,
                      fmod(vec_id * 0.013e0, 6.0) - 3.0 AS ha
               FROM embeddings)
    SELECT vec_id,
           cast(round((sin(ha) * bx + cos(ha) * by) * {inv}
                      * 1000000) as bigint) AS u_q,
           cast(round((-{sd} * cos(ha) * bx + {sd} * sin(ha) * by
                       + {cd} * bz) * {inv} * 1000000) as bigint)
               AS v_q,
           cast(round(({cd} * cos(ha) * bx - {cd} * sin(ha) * by
                       + {sd} * bz) * {inv} * 1000000) as bigint)
               AS w_q
    FROM d
    """


def q_grid_wstack(spark, sf_dir):
    """W-stacked gridding (operators/imaging.py
    grid_visibilities_wstack): the wide-field path — visibilities
    bin to w-planes with floor(w/step + 0.5) (engine-portable, no
    round()), then per-plane bounded grid aggregation; the w-term
    enters prediction as a literal-baked n-1 constant."""
    from dask_ms_spark.operators.calibration import predict_vis
    from dask_ms_spark.operators.imaging import (
        grid_visibilities_wstack)

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        "vec_id",
        ((F.col("vec_id") * 13.7) % 64.0 - 32.0).alias("u"),
        ((F.col("vec_id") * 7.3) % 64.0 - 32.0).alias("v"),
        ((F.col("vec_id") * 3.1) % 40.0 - 20.0).alias("w"))
    vis = predict_vis(d, "u", "v", [(2.0, 0.05, -0.08)], w_col="w")
    q = vis.select(
        "u", "v", "w",
        F.round(F.element_at("model_vis", 1) * 1e6).alias("re"),
        F.round(F.element_at("model_vis", 2) * 1e6).alias("im"))
    g = grid_visibilities_wstack(q, "u", "v", "w", "re", "im",
                                 cell_size=1.0, npix=64, w_step=4.0,
                                 hermitian=True)
    return g.select(
        F.col("iw").cast("long").alias("iw"),
        F.col("iu").cast("long").alias("iu"),
        F.col("iv").cast("long").alias("iv"),
        F.col("vis_re").cast("long").alias("re_q"),
        F.col("vis_im").cast("long").alias("im_q"),
        F.col("n_vis").cast("long").alias("n_vis"))


def _grid_wstack_sql() -> str:
    import math

    num, den = (2.0 * math.pi).as_integer_ratio()
    c = f"(CAST({num} AS DOUBLE) / {den})"
    n1 = math.sqrt(1.0 - 0.05 ** 2 - (-0.08) ** 2) - 1.0
    n1n, n1d = n1.as_integer_ratio()
    n1s = f"(CAST({n1n} AS DOUBLE) / {n1d})"
    return f"""
    WITH d AS (SELECT fmod(vec_id * 13.7e0, 64.0) - 32.0 AS u,
                      fmod(vec_id * 7.3e0, 64.0) - 32.0 AS v,
                      fmod(vec_id * 3.1e0, 40.0) - 20.0 AS w
               FROM embeddings),
    p AS (SELECT u, v, w,
                 round(2.0 * cos({c} * (u * 0.05 + v * (-0.08)
                                        + w * {n1s})) * 1000000)
                     AS re,
                 round(2.0 * sin({c} * (u * 0.05 + v * (-0.08)
                                        + w * {n1s})) * 1000000)
                     AS im
          FROM d),
    h AS (SELECT u, v, w, re, im FROM p
          UNION ALL
          SELECT -u, -v, -w, re, -im FROM p),
    cells AS (SELECT cast(floor(w / 4.0 + 0.5) as bigint) AS iw,
                     cast(floor(u / 1.0 + 0.5) as bigint) + 32 AS iu,
                     cast(floor(v / 1.0 + 0.5) as bigint) + 32 AS iv,
                     re, im
              FROM h)
    SELECT iw, iu, iv,
           cast(sum(re) as bigint) AS re_q,
           cast(sum(im) as bigint) AS im_q,
           count(*) AS n_vis
    FROM cells
    WHERE iu >= 0 AND iu < 64 AND iv >= 0 AND iv < 64
    GROUP BY 1, 2, 3
    """


def q_dsir_select(spark, sf_dir):
    """DSIR importance weighting (llm/dsir.py): hashed-unigram
    importance of every document against the src1 target slice.
    Two bucket-bounded aggregates + one broadcast log-ratio join;
    per-bucket ratios are int64-quantised BEFORE the per-doc sum so
    the reduction is shuffle-order deterministic.  The target is a
    slice of the corpus, so it rides the one materialised explode as
    a predicate flag (r12: one tokenize pass instead of two —
    identical distributions by construction)."""
    from dask_ms_spark.llm.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    w = dsir_weights(docs, target_pred=F.col("source") == "src1",
                     n_buckets=8192, smoothing=1.0)
    return w.select(
        F.col("id").alias("doc_id"), "n_tokens",
        F.round(F.col("log_weight") * 1e6).cast("long").alias("lw_q"))


_DSIR_SQL = """
    WITH tok AS (
        SELECT doc_id, unnest(CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                              ELSE regexp_split_to_array(
                                  trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END) AS tok
        FROM documents),
    occ AS (SELECT doc_id,
                   cast(('0x' || substring(md5(tok), 1, 15)) as bigint)
                       % 8192 AS bucket
            FROM tok),
    ttok AS (
        SELECT unnest(CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                      ELSE regexp_split_to_array(
                          trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END) AS tok
        FROM documents WHERE source = 'src1'),
    tocc AS (SELECT cast(('0x' || substring(md5(tok), 1, 15)) as bigint)
                        % 8192 AS bucket
             FROM ttok),
    rc AS (SELECT bucket, count(*) AS c_raw FROM occ GROUP BY 1),
    tc AS (SELECT bucket, count(*) AS c_tgt FROM tocc GROUP BY 1),
    tot AS (SELECT (SELECT sum(c_raw) FROM rc) AS n_raw,
                   (SELECT sum(c_tgt) FROM tc) AS n_tgt),
    lam AS (SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
                   round((ln((coalesce(c_tgt, 0) + 1.0)
                             / (n_tgt + 8192.0))
                          - ln((coalesce(c_raw, 0) + 1.0)
                               / (n_raw + 8192.0))) * 1000000)
                       AS lam_q
            FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
            CROSS JOIN tot),
    sc AS (SELECT occ.doc_id, count(*) AS n_tokens,
                  sum(lam_q) AS lw
           FROM occ JOIN lam USING (bucket) GROUP BY 1)
    SELECT d.doc_id,
           cast(coalesce(n_tokens, 0) as bigint) AS n_tokens,
           cast(coalesce(lw, 0) as bigint) AS lw_q
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN sc USING (doc_id)
    """


def q_statwt(spark, sf_dir):
    """CASA-statwt re-weighting (operators/calibration.py statwt):
    the noise_estimate pass (one window lag + one baseline agg) plus
    ONE broadcast join of the per-baseline sigma table back onto the
    visibility-sized frame; WEIGHT = 1/sigma^2."""
    from dask_ms_spark.operators.calibration import statwt

    embs = _t(spark, sf_dir, "embeddings")
    d = embs.select(
        (F.col("vec_id") % 4).alias("b"),
        F.col("vec_id").alias("t"),
        F.transform(F.slice("embedding", 1, 8),
                    lambda x: x.cast("double")).alias("vis"))
    out = statwt(d, "t", ["b"], "vis")
    return (out.groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.min("n_diff_terms").cast("long")
                  .alias("n_diff_terms"),
                 F.round(F.min("sigma") * 1e6).cast("long")
                  .alias("sigma_q"),
                 F.round(F.min("weight") * 1e3).cast("long")
                  .alias("weight_q")))


_STATWT_SQL = """
    WITH v AS (SELECT vec_id % 4 AS b, vec_id AS t,
                      list_transform(embedding[1:8],
                                     x -> cast(x as double)) AS vis
               FROM embeddings),
    e AS (SELECT b, t, i - 1 AS pos, vis[i] AS x
          FROM v, UNNEST(range(1, len(vis) + 1)) AS u(i)),
    d AS (SELECT b, pos,
                 x - lag(x) OVER (PARTITION BY b, pos ORDER BY t) AS dd
          FROM e),
    q AS (SELECT b, cast(round(dd * dd * 1048576.0) as bigint) AS dsq
          FROM d WHERE dd IS NOT NULL),
    s AS (SELECT b, count(*) AS n_diff_terms,
                 sqrt(cast(sum(dsq) as double) / 1048576.0
                      / count(*) / 2.0) AS sigma
          FROM q GROUP BY b),
    c AS (SELECT b, count(*) AS n_rows FROM v GROUP BY b)
    SELECT c.b, cast(n_rows as bigint) AS n_rows,
           cast(n_diff_terms as bigint) AS n_diff_terms,
           cast(round(sigma * 1000000.0) as bigint) AS sigma_q,
           cast(round(1000.0 / (sigma * sigma)) as bigint) AS weight_q
    FROM c JOIN s USING (b)
"""


def q_events_changepoint(spark, sf_dir):
    """CUSUM changepoint per event_type
    (operators/timeseries.py cusum_changepoints): one shuffle on the
    key serves the running sum, the per-key totals and the argmax;
    int64 fixed point end-to-end (qs=2^12 keeps n*S_k far under 2^63
    at 10x this stream's size)."""
    from dask_ms_spark.operators.timeseries import cusum_changepoints

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoints(ev, value_col="value",
                              order_cols=("ts", "event_id"),
                              by="event_type",
                              quantize_scale=1 << 12)


_EVENTS_CHANGEPOINT_SQL = """
    WITH x AS (SELECT event_type, ts, event_id,
                      cast(round(value * 4096.0) as bigint) AS xq
               FROM events),
    r AS (SELECT event_type,
                 row_number() OVER w AS k,
                 sum(xq) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run,
                 sum(xq) OVER (PARTITION BY event_type) AS tot,
                 count(*) OVER (PARTITION BY event_type) AS n
          FROM x
          WINDOW w AS (PARTITION BY event_type
                       ORDER BY ts, event_id)),
    s AS (SELECT event_type, k, n, run, tot,
                 n * run - k * tot AS nsk
          FROM r WHERE k < n),
    best AS (SELECT *, row_number() OVER (
                 PARTITION BY event_type
                 ORDER BY abs(nsk) DESC, k ASC) AS rn
             FROM s)
    SELECT event_type, cast(n as bigint) AS n,
           cast(k as bigint) AS change_pos,
           cast(round(abs(nsk) / cast(n as double)) as bigint)
               AS cusum_max_q,
           round((cast(tot - run as double) / (n - k)
                  - cast(run as double) / k) / 4096.0, 6)
               AS mean_shift
    FROM best WHERE rn = 1
"""


def q_c4_filter(spark, sf_dir):
    """C4 line-level cleaning (llm/corpus.py c4_line_filter): docs
    are line-ified deterministically (substr windows + planted
    terminal punctuation / violations, identical in both engines),
    then the filter's explode -> codegen line verdicts -> one
    doc-keyed rebuild runs; output is the verdict row plus a 16-hex
    digest of the rebuilt text."""
    from dask_ms_spark.llm.corpus import c4_line_filter

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    synth = F.concat_ws(
        "\n",
        F.concat(F.substring(t, 1, 60), F.lit(".")),
        F.substring(t, 62, 40),
        F.concat(F.lit("lorem ipsum "), F.substring(t, 103, 50),
                 F.lit(".")),
        F.concat(F.substring(t, 154, 80), F.lit("!")),
        F.concat(F.substring(t, 235, 70), F.lit("?")))
    lined = docs.select("doc_id", synth.alias("text"))
    out = c4_line_filter(lined)
    return out.select(
        "doc_id", F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"), "keep",
        F.substring(F.md5(F.col("text")), 1, 16).alias("text_digest"))


_C4_FILTER_SQL = r"""
    WITH lined AS (SELECT doc_id,
            substring(text, 1, 60) || '.' || chr(10)
            || substring(text, 62, 40) || chr(10)
            || 'lorem ipsum ' || substring(text, 103, 50) || '.'
            || chr(10)
            || substring(text, 154, 80) || '!' || chr(10)
            || substring(text, 235, 70) || '?' AS text
        FROM documents),
    l AS (SELECT doc_id, i AS pos, ls[i] AS line
          FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                FROM lined),
               UNNEST(range(1, len(ls) + 1)) AS u(i)),
    v AS (SELECT doc_id, pos, line,
                 (right(rtrim(line), 1) IN ('.', '!', '?', '"'))
                 AND len(regexp_extract_all(line, '\S+')) >= 5
                 AND NOT contains(lower(line), 'lorem ipsum')
                 AND NOT contains(lower(line), 'javascript')
                 AND NOT contains(lower(line), '{') AS keep_line
          FROM l),
    agg AS (SELECT doc_id,
                   count(*) AS n_lines,
                   sum(CASE WHEN keep_line THEN 1 ELSE 0 END)
                       AS n_kept,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE keep_line), '') AS text
            FROM v GROUP BY doc_id)
    SELECT doc_id, cast(n_lines as bigint) AS n_lines,
           cast(n_kept as bigint) AS n_kept,
           n_kept >= 3 AS keep,
           substring(md5(text), 1, 16) AS text_digest
    FROM agg
"""


def q_closure_amp(spark, sf_dir):
    """Closure amplitudes (operators/calibration.py
    closure_amplitudes): the gain-amplitude-independent quadrangle
    observable |V_pq||V_rs| / (|V_pr||V_qs|); baselines are a
    dimension-sized relation so all four join legs broadcast.
    Synthetic per-baseline magnitudes 1 + 0.1(p+q) make the oracle
    arithmetic-exact."""
    from dask_ms_spark.operators.calibration import closure_amplitudes

    embs = _t(spark, sf_dir, "embeddings")
    base = embs.select((F.col("vec_id") % 8).alias("antenna1"),
                       ((F.col("vec_id") / 8).cast("long") % 8)
                       .alias("antenna2")).distinct() \
        .where(F.col("antenna1") < F.col("antenna2"))
    p = F.col("antenna1").cast("double")
    q = F.col("antenna2").cast("double")
    m = F.lit(1.0) + 0.1 * (p + q)
    th = 0.1 * (p - q)
    d = base.select("antenna1", "antenna2",
                    F.array(m * F.cos(th), m * F.sin(th)).alias("vis"))
    out = closure_amplitudes(d)
    return out.select(
        "p", "q", "r", "s",
        F.round(F.col("closure_amp") * 1e6).cast("long")
         .alias("ca_q"))


_CLOSURE_AMP_SQL = """
    WITH base AS (SELECT DISTINCT vec_id % 8 AS p,
                                  (vec_id // 8) % 8 AS q
                  FROM embeddings),
    pairs AS (SELECT p, q,
                     sqrt(pow((1.0 + 0.1 * (p + q))
                              * cos(0.1 * (p - q)), 2)
                          + pow((1.0 + 0.1 * (p + q))
                                * sin(0.1 * (p - q)), 2)) AS m
              FROM base WHERE p < q)
    SELECT a.p, a.q, b.p AS r, b.q AS s,
           cast(round(CASE WHEN c.m * d.m > 0
                           THEN a.m * b.m / (c.m * d.m) END
                      * 1000000) as bigint) AS ca_q
    FROM pairs a
    JOIN pairs b ON b.p > a.q
    JOIN pairs c ON c.p = a.p AND c.q = b.p
    JOIN pairs d ON d.p = a.q AND d.q = b.q
"""


def q_split_leakage(spark, sf_dir):
    """Leakage-safe split (llm/sampling.py leakage_safe_split): LSH
    near-dup clusters assigned WHOLE to one train/val/test split by
    hashing the cluster id — a test doc's near-copy can never sit in
    train.  Edge contraction over 8-byte id pairs + one row-local
    hash + one id-keyed join."""
    from dask_ms_spark.llm.dedup import minhash_lsh_pairs
    from dask_ms_spark.llm.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, num_bands=4,
                              shingle_k=5, threshold=0.5)
    out = leakage_safe_split(docs, pairs, id_col="doc_id")
    return out.select("doc_id",
                      F.col("component").cast("long").alias("component"),
                      "split")


def _split_leakage_sql() -> str:
    """Mirror of q_split_leakage: the dedup-clusters recursive CTE
    (identical candidate graph) + the deterministic_split bucket
    hash applied to the component id."""
    bucket = _DUCK_HASH.format(
        x="cast(cluster_id as varchar) || 'split'") + " % 1000000"
    return f"""
        WITH RECURSIVE
        {_lsh_graph_ctes()},
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.src, u.d FROM reach r JOIN undir u ON u.s = r.dst),
        comp AS (SELECT src AS doc_id, min(dst) AS cluster_id
                 FROM reach GROUP BY src)
        SELECT doc_id, cast(cluster_id as bigint) AS component,
               CASE WHEN {bucket} < 800000 THEN 'train'
                    WHEN {bucket} < 900000 THEN 'val'
                    ELSE 'test' END AS split
        FROM comp
    """


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail selection (llm/corpus.py
    ccnet_perplexity_buckets): per-LANGUAGE equal-population buckets
    by ranked LM perplexity — one window rank per language on top of
    the lm_perplexity plan; ties break on doc_id so membership is
    engine-exact."""
    from dask_ms_spark.llm.corpus import ccnet_perplexity_buckets

    docs = _t(spark, sf_dir, "documents")
    return ccnet_perplexity_buckets(docs)


_CCNET_BUCKETS_SQL = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                           ELSE regexp_split_to_array(
                               trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                      AS toks
               FROM documents),
    g AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
          FROM t, UNNEST(range(1, len(toks))) AS r(i)
          WHERE len(toks) >= 2),
    uni AS (SELECT w1, count(*) AS c1 FROM g GROUP BY w1),
    bi AS (SELECT w1, w2, count(*) AS c2 FROM g GROUP BY w1, w2),
    v AS (SELECT count(DISTINCT w) AS vocab FROM (
              SELECT w1 AS w FROM g UNION ALL SELECT w2 FROM g)),
    lm AS (SELECT w1, w2, (c2 + 1) / (c1 + vocab) AS p
           FROM bi JOIN uni USING (w1) CROSS JOIN v),
    sc AS (SELECT doc_id,
                  cast(round(-ln(p) * 1048576.0) as bigint) AS q
           FROM g JOIN lm USING (w1, w2)),
    score AS (SELECT doc_id,
                     cast(count(*) as bigint) AS n_bigrams,
                     round(cast(sum(q) as double) / count(*)
                           / 1048576.0, 6) AS avg_neg_logp
              FROM sc GROUP BY doc_id),
    ranked AS (SELECT d.doc_id, d.lang, s.n_bigrams, s.avg_neg_logp,
                      ntile(3) OVER (PARTITION BY d.lang
                                     ORDER BY s.avg_neg_logp, d.doc_id)
                          AS idx
               FROM documents d JOIN score s USING (doc_id))
    SELECT doc_id, lang, n_bigrams, avg_neg_logp,
           CASE idx WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
"""


def q_lm_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram LM scoring (llm/corpus.py
    lm_perplexity(smoothing='kneser_ney') — the smoothing family
    KenLM/CCNet actually use): discounted seen mass + distinct-
    continuation backoff; self-scored, so every instance takes the
    seen branch and the oracle mirrors the formula exactly."""
    from dask_ms_spark.llm.corpus import lm_perplexity

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity(docs, smoothing="kneser_ney")


_LM_KNESER_NEY_SQL = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                           ELSE regexp_split_to_array(
                               trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                      AS toks
               FROM documents),
    g AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
          FROM t, UNNEST(range(1, len(toks))) AS r(i)
          WHERE len(toks) >= 2),
    uni AS (SELECT w1, count(*) AS c1 FROM g GROUP BY w1),
    bi AS (SELECT w1, w2, count(*) AS c2 FROM g GROUP BY w1, w2),
    nf AS (SELECT w1, count(*) AS nfv FROM bi GROUP BY w1),
    nb AS (SELECT w2, count(*) AS nbv FROM bi GROUP BY w2),
    nt AS (SELECT count(*) AS n_types FROM bi),
    sc AS (SELECT doc_id,
                  cast(round(-ln(
                      greatest(c2 - 0.75, 0.0) / c1
                      + 0.75 * nfv / c1
                        * (nbv / cast(n_types as double)))
                      * 1048576.0) as bigint) AS q
           FROM g JOIN bi USING (w1, w2) JOIN uni USING (w1)
                JOIN nf USING (w1) JOIN nb USING (w2)
                CROSS JOIN nt)
    SELECT doc_id, cast(count(*) as bigint) AS n_bigrams,
           round(cast(sum(q) as double) / count(*) / 1048576.0, 6)
               AS avg_neg_logp
    FROM sc GROUP BY doc_id
"""


def q_attribution(spark, sf_dir):
    """Last-touch conversion attribution: every purchase credits the
    same user's most recent click/view within a 7-day horizon — the
    marketing-analytics staple.  Linear spelling: ONE window per user
    over the time-ordered event stream picks each purchase's last
    preceding touch (the events_funnel union+window form — no
    purchase x touch range-join pair blow-up), then one bounded
    aggregate per touch class.  Value sums are int64 cents
    (shuffle-order exact)."""
    ev = _ev(spark, sf_dir)
    is_touch = F.col("event_type").isin("click", "view")
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    touch = F.last(F.when(is_touch, F.struct(
        F.col("event_type").alias("t_type"),
        F.unix_timestamp("ts").alias("t_ep"))), ignorenulls=True) \
        .over(w)
    scored = (ev.withColumn("__t", touch)
              .where(F.col("event_type") == "purchase"))
    horizon = 7 * 86400
    credited = F.when(
        F.col("__t").isNotNull()
        & ((F.unix_timestamp("ts") - F.col("__t.t_ep")) <= horizon),
        F.col("__t.t_type")).otherwise("none")
    return (scored.select(credited.alias("touch_type"),
                          F.round(F.col("value") * 100).cast("long")
                           .alias("cents"))
            .groupBy("touch_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"),
                 F.sum("cents").alias("value_cents")))


_ATTRIBUTION_SQL = """
    WITH s AS (SELECT user_id, ts, event_id, event_type, value,
                      last_value(CASE WHEN event_type IN
                                      ('click', 'view')
                                 THEN struct_pack(
                                     t_type := event_type,
                                     t_ep := epoch(ts)) END
                                 IGNORE NULLS)
                          OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS t
               FROM events),
    p AS (SELECT CASE WHEN t IS NOT NULL
                       AND epoch(ts) - t.t_ep <= 604800
                      THEN t.t_type ELSE 'none' END AS touch_type,
                 cast(round(value * 100) as bigint) AS cents
          FROM s WHERE event_type = 'purchase')
    SELECT touch_type,
           cast(count(*) as bigint) AS n_conversions,
           cast(sum(cents) as bigint) AS value_cents
    FROM p GROUP BY touch_type
"""


def q_bandpass_solve(spark, sf_dir):
    """Per-channel bandpass solve (operators/calibration.py
    bandpass_solve — the CASA bandpass task shape): gain_solve with
    the channel as an extra key, two damped iterations over
    channel-dependent synthetic gains; int64-quantised sums keep the
    oracle bit-exact per (chan, antenna)."""
    from dask_ms_spark.operators.calibration import bandpass_solve

    embs = _t(spark, sf_dir, "embeddings")
    p = (F.col("vec_id") % 8).cast("double")
    q = ((F.col("vec_id") / 8).cast("long") % 8).cast("double")
    c = (F.col("vec_id") % 3).cast("double")
    ap, bp = 1.0 + 0.05 * p + 0.01 * c, 0.02 * p - 0.005 * c
    aq, bq = 1.0 + 0.05 * q + 0.01 * c, 0.02 * q - 0.005 * c
    s = 1.0 + 0.001 * (F.col("vec_id") % 7).cast("double")
    d = embs.select(
        (F.col("vec_id") % 3).alias("chan"),
        (F.col("vec_id") % 8).alias("antenna1"),
        ((F.col("vec_id") / 8).cast("long") % 8).alias("antenna2"),
        F.array(s * (ap * aq + bp * bq),
                s * (bp * aq - ap * bq)).alias("vis")) \
        .where(F.col("antenna1") < F.col("antenna2"))
    out = bandpass_solve(d, iters=2, damping=0.5)
    return out.select(
        "chan", "antenna",
        F.round(F.element_at("gain", 1) * 1e6).cast("long")
         .alias("gre_q"),
        F.round(F.element_at("gain", 2) * 1e6).cast("long")
         .alias("gim_q"))


_BANDPASS_SQL = """
    WITH base AS (
        SELECT vec_id, vec_id % 3 AS ch,
               vec_id % 8 AS a1, (vec_id // 8) % 8 AS a2,
               1.0 + 0.05 * cast(vec_id % 8 as double)
                   + 0.01 * cast(vec_id % 3 as double) AS ap,
               0.02 * cast(vec_id % 8 as double)
                   - 0.005 * cast(vec_id % 3 as double) AS bp,
               1.0 + 0.05 * cast((vec_id // 8) % 8 as double)
                   + 0.01 * cast(vec_id % 3 as double) AS aq,
               0.02 * cast((vec_id // 8) % 8 as double)
                   - 0.005 * cast(vec_id % 3 as double) AS bq,
               1.0 + 0.001 * cast(vec_id % 7 as double) AS s
        FROM embeddings),
    vis AS (SELECT ch, a1, a2,
                   s * (ap * aq + bp * bq) AS vre,
                   s * (bp * aq - ap * bq) AS vim
            FROM base WHERE a1 < a2),
    edges AS (SELECT ch, a1 AS p, a2 AS q, vre, vim FROM vis
              UNION ALL
              SELECT ch, a2 AS p, a1 AS q, vre, -vim AS vim FROM vis),
    it1 AS (SELECT ch, p AS antenna,
                   cast(sum(cast(round(vre * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sre,
                   cast(sum(cast(round(vim * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sim,
                   cast(sum(cast(round(1.0 * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sd
            FROM edges GROUP BY ch, p),
    g1 AS (SELECT ch, antenna,
                  0.5 * 1.0 + (0.5 * sre) / sd AS gre,
                  0.5 * 0.0 + (0.5 * sim) / sd AS gim
           FROM it1),
    it2 AS (SELECT e.ch, e.p AS antenna,
                   cast(sum(cast(round((e.vre * g.gre - e.vim * g.gim)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sre,
                   cast(sum(cast(round((e.vre * g.gim + e.vim * g.gre)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sim,
                   cast(sum(cast(round((g.gre * g.gre + g.gim * g.gim)
                                       * 1048576.0) as bigint))
                        as double) / 1048576.0 AS sd
            FROM edges e JOIN g1 g ON g.antenna = e.q AND g.ch = e.ch
            GROUP BY e.ch, e.p),
    g2 AS (SELECT i.ch, i.antenna,
                  0.5 * g.gre + (0.5 * i.sre) / i.sd AS gre,
                  0.5 * g.gim + (0.5 * i.sim) / i.sd AS gim
           FROM it2 i JOIN g1 g ON g.antenna = i.antenna
                                AND g.ch = i.ch)
    SELECT ch AS chan, antenna,
           cast(round(gre * 1000000) as bigint) AS gre_q,
           cast(round(gim * 1000000) as bigint) AS gim_q
    FROM g2
"""


def q_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (functions/stats.py
    cuped_adjust, Deng et al. 2013): per-user pre/post value sums
    around a fixed split date, arms by portable hash, pooled theta
    from exact decimal moments — one global 1-row aggregate plus one
    per-arm aggregate; the adjustment is mean-zero so the lift
    estimate is untouched while its variance shrinks."""
    from dask_ms_spark.functions.stats import cuped_adjust
    from dask_ms_spark.llm.sampling import hash_bucket

    ev = _ev(spark, sf_dir)
    split_ep = 1705363200        # 2024-01-16 00:00:00 UTC
    ep = F.unix_timestamp("ts")
    units = (ev.groupBy("user_id")
             .agg(F.sum(F.when(ep < split_ep, F.col("value"))
                        .otherwise(0.0)).alias("pre_metric"),
                  F.sum(F.when(ep >= split_ep, F.col("value"))
                        .otherwise(0.0)).alias("post_metric"))
             .withColumn("arm", F.when(
                 hash_bucket(F.col("user_id"), 2, "ab") == 0,
                 "A").otherwise("B")))
    # quantize the unit metrics BEFORE handing to cuped_adjust so
    # the per-user float sums (order-dependent in the last ulp)
    # cannot leak into the comparison
    units = units.select(
        "arm",
        (F.round(F.col("pre_metric") * 100) / 100).alias("pre_metric"),
        (F.round(F.col("post_metric") * 100) / 100)
        .alias("post_metric"))
    return cuped_adjust(units)


_CUPED_SQL = f"""
    WITH u AS (SELECT user_id,
                      round(sum(CASE WHEN epoch(ts) < 1705363200
                                THEN value ELSE 0 END) * 100) / 100
                          AS x,
                      round(sum(CASE WHEN epoch(ts) >= 1705363200
                                THEN value ELSE 0 END) * 100) / 100
                          AS y,
                      CASE WHEN {_DUCK_HASH.format(
                          x="cast(user_id as varchar) || 'ab'")}
                           % 2 = 0 THEN 'A' ELSE 'B' END AS arm
               FROM events GROUP BY user_id),
    q AS (SELECT arm,
                 cast(round(x * 10000) as bigint) AS xq,
                 cast(round(y * 10000) as bigint) AS yq
          FROM u),
    m AS (SELECT count(*) AS n, sum(xq) AS sx, sum(yq) AS sy,
                 sum(xq * xq) AS sxx, sum(xq * yq) AS sxy
          FROM q),
    th AS (SELECT (cast(n as double) * cast(sxy as double)
                   - cast(sx as double) * cast(sy as double))
                  / (cast(n as double) * cast(sxx as double)
                     - cast(sx as double) * cast(sx as double))
                      AS theta,
                  cast(sx as double) / cast(n as double) AS mx
           FROM m),
    adj AS (SELECT arm, yq,
                   cast(round(cast(yq as double)
                              - theta * (cast(xq as double) - mx))
                        as bigint) AS yadjq
            FROM q CROSS JOIN th)
    SELECT arm, cast(count(*) as bigint) AS n_units,
           round(cast(sum(yq) as double) / count(*) / 10000.0, 6)
               AS mean_post,
           round(cast(sum(yadjq) as double) / count(*) / 10000.0, 6)
               AS mean_post_cuped
    FROM adj GROUP BY arm
"""


def q_cusum_segments(spark, sf_dir):
    """Multi-changepoint binary segmentation
    (operators/timeseries.py cusum_segments): two CUSUM levels over
    each event_type stream, min_shift gate against noise splits; one
    exchange per level on (key, segment-path), splits attach by
    broadcast.  Same int64 fixed point as events_changepoint, so the
    segment tree is engine-exact."""
    from dask_ms_spark.operators.timeseries import cusum_segments

    ev = _t(spark, sf_dir, "events")
    return cusum_segments(ev, value_col="value",
                          order_cols=("ts", "event_id"),
                          by="event_type", levels=2, min_seg=8,
                          min_shift=5.0, quantize_scale=1 << 12)


def _cusum_segments_sql(min_seg: int = 8, min_shift: float = 5.0,
                        qs: int = 1 << 12) -> str:
    thr = float(min_shift) * qs

    def level(src, seg_expr, out):
        return f"""
    r{out} AS (SELECT by, ts, event_id, xq, pos, {seg_expr} AS seg,
                      row_number() OVER w AS k,
                      sum(xq) OVER (w ROWS BETWEEN UNBOUNDED
                                    PRECEDING AND CURRENT ROW) AS run,
                      sum(xq) OVER (PARTITION BY by, {seg_expr})
                          AS tot,
                      count(*) OVER (PARTITION BY by, {seg_expr})
                          AS n
               FROM {src}
               WINDOW w AS (PARTITION BY by, {seg_expr}
                            ORDER BY ts, event_id)),
    c{out} AS (SELECT by, seg, k, run, tot, n,
                      row_number() OVER (
                          PARTITION BY by, seg
                          ORDER BY abs(n * run - k * tot) DESC,
                                   k ASC) AS rn
               FROM r{out}
               WHERE k >= {min_seg} AND k <= n - {min_seg}
                 AND n >= {2 * min_seg}),
    b{out} AS (SELECT by, seg, k AS split FROM c{out}
               WHERE rn = 1
                 AND abs(cast(tot - run as double) / (n - k)
                         - cast(run as double) / k) >= {thr!r}),
    s{out} AS (SELECT r.by, r.ts, r.event_id, r.xq, r.pos,
                      CASE WHEN b.split IS NULL THEN r.seg
                           WHEN r.k <= b.split THEN r.seg || '0'
                           ELSE r.seg || '1' END AS seg
               FROM r{out} r LEFT JOIN b{out} b
                 ON b.by = r.by AND b.seg = r.seg)"""

    return f"""
    WITH x AS (SELECT event_type AS by, ts, event_id,
                      cast(round(value * {float(qs)!r}) as bigint)
                          AS xq,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id)
                          AS pos
               FROM events),
    {level("x", "''", 1)},
    {level("s1", "seg", 2)}
    SELECT by AS event_type, seg AS segment,
           cast(count(*) as bigint) AS n,
           cast(min(pos) as bigint) AS start_pos,
           cast(max(pos) as bigint) AS end_pos,
           round(cast(sum(xq) as double) / count(*)
                 / {float(qs)!r}, 6) AS mean
    FROM s2 GROUP BY by, seg
    """


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (llm/corpus.py heaps_fit,
    the zipf_fit companion): first-occurrence positions from one
    doc-offset prefix sum, V(n) at 40 log-spaced checkpoints in a
    single conditional-sum aggregate, native regr fit over the
    (ln n, ln V) points."""
    from dask_ms_spark.llm.corpus import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


_HEAPS_SQL = """
    WITH t AS (SELECT doc_id,
                      CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                           ELSE regexp_split_to_array(
                               trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                      AS toks
               FROM documents),
    c AS (SELECT doc_id, len(toks) AS cnt FROM t),
    o AS (SELECT doc_id,
                 coalesce(sum(cnt) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS off
          FROM c),
    inst AS (SELECT toks[i] AS w, off + i AS gpos
             FROM t JOIN o USING (doc_id),
                  UNNEST(range(1, len(toks) + 1)) AS u(i)),
    first AS (SELECT w, min(gpos) AS fp FROM inst GROUP BY w),
    tot AS (SELECT sum(cnt) AS n_tokens FROM c),
    voc AS (SELECT count(*) AS vocab FROM first),
    gs AS (SELECT DISTINCT greatest(1, cast(floor(
               exp(ln(cast(n_tokens as double)) * g / 40.0) + 0.5)
               as bigint)) AS n
           FROM range(1, 41) AS r(g) CROSS JOIN tot),
    pts AS (SELECT gs.n,
                   (SELECT count(*) FROM first WHERE fp <= gs.n)
                       AS v
            FROM gs)
    SELECT cast(n_tokens as bigint) AS n_tokens,
           cast(vocab as bigint) AS vocab_size,
           round(regr_slope(ln(cast(v as double)),
                            ln(cast(n as double))), 6)
               AS heaps_beta,
           round(exp(regr_intercept(ln(cast(v as double)),
                                    ln(cast(n as double)))), 6)
               AS heaps_k
    FROM pts CROSS JOIN tot CROSS JOIN voc
    WHERE v > 0
    GROUP BY n_tokens, vocab
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q5 shape: 6-table star join with broadcast dims and a single
    fact-fact shuffle — the reference does this with manual per-dataset
    lookups (examples/ms_subtable_join.py:36-69); here it is one
    declarative plan."""
    return q_tpch_q5(spark, "/root/testdata/sf0.001")


# Every query builder in driver order, named by its function without
# the "q_" prefix.  The driver validates only the first 50 names of
# queries(); the demoted builders (see _DEMOTED) close the table.
_BUILDERS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    fn.__name__[2:]: fn for fn in (
        # driver window, positions 1-50
        q_events_funnel, q_events_retention, q_tpch_q7, q_tpch_q8, q_tpch_q15,
        q_tpch_q17, q_tpch_q21, q_table_profile, q_bm25_search, q_dsir_select,
        q_ccnet_buckets, q_phrase_boilerplate, q_sigma_clip, q_cusum_segments,
        q_ann_lsh, q_ann_ivf_indexed, q_ann_ivfpq, q_dedup_edit_distance,
        q_dedup_containment, q_backfill_restart, q_robust_stats, q_star_join,
        q_semi_join, q_anti_join, q_set_ops, q_tpch_q3, q_tpch_q4, q_tpch_q5,
        q_tpch_q9, q_tpch_q10, q_tpch_q12, q_tpch_q22, q_incremental_join,
        q_cdc_apply, q_heavy_hitters_cms, q_sample_weighted, q_zipf_fit,
        q_vocab_topk, q_corpus_overlap_kmv, q_text_repetition, q_tpch_q2,
        q_pivot, q_unpivot, q_dedup_embedding_bucketed, q_text_bpe,
        q_text_winnow, q_text_stats, q_text_langid, q_text_fingerprint,
        q_dedup_simhash,
        # past the driver window
        q_range_join, q_salted_join, q_window_frames, q_cube, q_quantiles,
        q_doc_chunks, q_pii_redact, q_dedup_incremental, q_dedup_lsh_capped,
        q_sample_mixture, q_rollup_merge, q_zorder_layout, q_corpus_diff,
        q_cardinality_kmv, q_dedup_substring, q_collocations_pmi,
        q_char_entropy, q_taql_subquery, q_graph_triangles, q_interval_overlap,
        q_events_ema, q_session_stats, q_dataset_card, q_active_users_rolling,
        q_multimodal_audio, q_constraint_audit, q_pipeline_funnel,
        q_scd2_history, q_events_anomaly, q_lang_mismatch, q_quality_prune,
        q_sample_quota, q_events_seasonality, q_conversion_lag,
        q_events_gap_stats, q_events_correlate, q_rollup, q_events_windowed,
        q_events_sliding, q_events_session, q_events_props, q_events_dedup,
        q_corpus_mixture, q_dedup_exact, q_similarity_topk, q_sample_split,
        q_udaf_ols, q_group_aggr, q_tensor_slice, q_tpch_q1, q_tpch_q6,
        q_stratified_sample, q_pack_contexts, q_embed_project,
        q_multimodal_features, q_tpch_q11, q_tpch_q20, q_value_histogram,
        q_skew_profile, q_events_transitions, q_negative_sampling,
        q_snapshot_roundtrip, q_tensor_chan_avg, q_tensor_row_avg,
        q_phase_rotate, q_spectral_index, q_weighted_quantiles, q_flag_summary,
        q_resample_interp, q_rfi_flag, q_gain_solve, q_channel_regrid,
        q_spectral_moments, q_imaging_weights, q_crossmatch_nearest,
        q_bda_weighted, q_curriculum, q_stokes_convert, q_hanning, q_uvcontsub,
        q_predict_vis, q_uvw_compute, q_quality_classifier, q_sumthreshold,
        q_tpch_q13, q_tpch_q14, q_tpch_q16, q_tpch_q18, q_tpch_q19,
        q_distinct_agg, q_projection, q_filter_pushdown, q_applycal,
        q_flag_grow, q_parallactic_angle, q_sample_unimax, q_scan_summary,
        q_tokenizer_fertility, q_grid_conv, q_statwt, q_c4_filter,
        q_closure_amp, q_split_leakage, q_attribution, q_cuped,
        q_expr_arithmetic, q_group_partition, q_sorted_read,
        q_within_group_sort, q_topk, q_broadcast_join, q_concat, q_overlay,
        q_complex_mul, q_asof_join,
        # demoted
        q_dedup_embedding, q_grid_vis, q_grid_wstack, q_ann_pq,
        q_dedup_semantic, q_contamination, q_events_changepoint,
        q_closure_phase, q_lm_kneser_ney, q_sample_temperature,
        q_bandpass_solve, q_heaps_fit, q_ngram_novelty, q_ann_ivf, q_pagerank,
    )}

# Demoted queries stay out of queries() to bound the bench sweep's
# wall-clock.  Each runs the library code named on its line, which no
# registered query runs; tools/check_oracle.py and
# tests/test_llm.py::test_demoted_queries_still_oracle_green sweep
# their oracles.
_DEMOTED = (
    "dedup_embedding",     # llm.dedup.embedding_dup_pairs_gemm (all-pairs)
    "grid_vis",            # operators.imaging.grid_visibilities (single plane)
    "grid_wstack",         # imaging.grid_visibilities_wstack + predict_vis
    "ann_pq",              # llm.similarity.pq_codebooks + pq_topk (flat)
    "dedup_semantic",      # llm.semantic.semantic_dedup
    "contamination",       # llm.contamination.contamination_report
    "events_changepoint",  # operators.timeseries.cusum_changepoints
    "closure_phase",       # operators.calibration.closure_phases
    "lm_kneser_ney",       # llm.corpus.lm_perplexity's Kneser-Ney branch
    "sample_temperature",  # llm.sampling.sample_temperature
    "bandpass_solve",      # operators.calibration.bandpass_solve
    "heaps_fit",           # llm.corpus.heaps_fit
    "ngram_novelty",       # llm.corpus.ngram_novelty
    "ann_ivf",             # llm.similarity.ivf_topk (transient index)
    "pagerank",            # operators.graph.pagerank (power iteration)
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: fn for k, fn in _BUILDERS.items()
            if k not in _DEMOTED}


def demoted_queries() -> dict[str, Callable[[SparkSession, str],
                                            DataFrame]]:
    return {k: _BUILDERS[k] for k in _DEMOTED}


# quality-filter mirror; pipeline_funnel composes it verbatim
_QUALITY_FILTER_SQL = """
            WITH t AS (SELECT doc_id,
                              CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                                   ELSE regexp_split_to_array(
                                       trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                              AS toks
                       FROM documents),
            w AS (SELECT doc_id, unnest(toks) AS w FROM t),
            c AS (SELECT doc_id, w, count(*) AS cnt
                  FROM w GROUP BY 1, 2),
            a AS (SELECT doc_id,
                         cast(sum(cnt) as bigint) AS n_words,
                         cast(count(*) as bigint) AS n_distinct,
                         cast(max(cnt) as bigint) AS max_cnt,
                         cast(sum(CASE WHEN w IN ('the', 'a')
                                  THEN cnt ELSE 0 END) as bigint)
                             AS stop_cnt
                  FROM c GROUP BY doc_id),
            f AS (SELECT d.doc_id,
                         coalesce(a.n_words, 0) AS n_words,
                         coalesce(a.n_distinct, 0) AS n_distinct,
                         coalesce(a.max_cnt, 0) AS max_cnt,
                         coalesce(a.stop_cnt, 0) AS stop_cnt
                  FROM documents d LEFT JOIN a USING (doc_id)),
            r AS (SELECT *,
                         (CASE WHEN n_words < 20 THEN 1 ELSE 0 END
                          + CASE WHEN n_words > 5000 THEN 2 ELSE 0 END
                          + CASE WHEN n_words > 0
                                  AND n_distinct / n_words < 0.40
                                 THEN 4 ELSE 0 END
                          + CASE WHEN n_words > 0
                                  AND max_cnt / n_words > 0.12
                                 THEN 8 ELSE 0 END
                          + CASE WHEN n_words > 0
                                  AND (stop_cnt = 0
                                       OR stop_cnt / n_words > 0.10)
                                 THEN 16 ELSE 0 END) AS reasons
                  FROM f)
            SELECT doc_id, n_words,
                   CASE WHEN n_words > 0
                        THEN round(n_distinct / n_words, 6) END
                       AS distinct_ratio,
                   CASE WHEN n_words > 0
                        THEN round(max_cnt / n_words, 6) END
                       AS max_word_frac,
                   CASE WHEN n_words > 0
                        THEN round(stop_cnt / n_words, 6) END
                       AS stop_frac,
                   cast(reasons as int) AS reasons,
                   reasons = 0 AS keep
            FROM r
        """


def _oracle_sql_all() -> dict[str, str]:
    """Every oracle, registered and demoted; oracle_sql() and
    demoted_oracle_sql() filter it."""
    h_norm_text = _DUCK_HASH.format(x=_DUCK_NORM.format(x="text"))
    out = {
        "projection": """
            SELECT l_orderkey, l_linenumber, l_quantity,
                   cast(l_shipdate as date) AS ship_date
            FROM lineitem
        """,
        "filter_pushdown": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem WHERE l_quantity < 5 AND l_discount > 0.05
        """,
        "taql_subquery": """
            SELECT c_nationkey,
                   cast(count(*) as bigint) AS n_cust,
                   cast(sum(cast(c_acctbal as decimal(18,2)))
                        as double) AS sum_acctbal
            FROM customer
            WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                                  WHERE n_regionkey IN (0, 2))
              AND c_acctbal > 1000.0
            GROUP BY c_nationkey
        """,
        "expr_arithmetic": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1 - l_discount) * (1 + l_tax)
                   AS charged
            FROM lineitem
        """,
        "group_partition": """
            WITH r AS (SELECT l_returnflag, l_linestatus,
                              row_number() OVER (ORDER BY l_orderkey,
                                                 l_partkey, l_suppkey,
                                                 l_linenumber, l_quantity,
                                                 l_extendedprice, l_discount,
                                                 l_tax, l_returnflag,
                                                 l_linestatus, l_shipdate)
                              - 1 AS rowid
                       FROM lineitem)
            SELECT l_returnflag, l_linestatus, count(*) AS group_count,
                   min(rowid) AS exemplar_rowid
            FROM r GROUP BY l_returnflag, l_linestatus
        """,
        "group_aggr": """
            SELECT o_orderpriority,
                   array_to_string(list_sort(list(o_orderkey)), ',')
                   AS orderkeys,
                   count(*) AS n
            FROM orders WHERE o_totalprice > 400000
            GROUP BY o_orderpriority
        """,
        "sorted_read": """
            SELECT row_number() OVER (ORDER BY l_shipdate, l_orderkey,
                                      l_linenumber, l_quantity)
                   - 1 AS position,
                   l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_quantity >= 49
        """,
        "within_group_sort": """
            SELECT l_returnflag,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_shipdate, l_orderkey,
                                      l_linenumber) AS rank,
                   l_orderkey, l_linenumber
            FROM lineitem WHERE l_quantity >= 48
        """,
        "topk": """
            WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
                              row_number() OVER (PARTITION BY o_orderstatus
                                                 ORDER BY o_totalprice DESC,
                                                 o_orderkey ASC) AS rn
                       FROM orders)
            SELECT o_orderstatus, rn, o_orderkey,
                   round(cast(o_totalprice as double), 2) AS total
            FROM r WHERE rn <= 5
        """,
        "broadcast_join": """
            SELECT r_name, count(*) AS n_customers,
                   round(cast(sum(cast(c_acctbal as decimal(18,2)))
                         as double), 2) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "star_join": """
            SELECT n_name,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders
                                WHERE o_orderstatus = 'O')
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "concat": """
            SELECT o_orderstatus, count(*) AS n,
                   round(cast(sum(cast(o_totalprice as decimal(18,2)))
                         as double), 2) AS sum_total
            FROM orders GROUP BY o_orderstatus
        """,
        "overlay": """
            SELECT o_orderkey,
                   round(cast(CASE WHEN o_orderstatus = 'O'
                              THEN o_totalprice * 2 ELSE o_totalprice END
                         as double), 2) AS total,
                   o_orderstatus
            FROM orders
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(cast(sum(cast(l_quantity as decimal(18,2)))
                         as double), 2) AS sum_qty,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)))
                         as double), 2) AS sum_base_price,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS sum_disc_price,
                   round(avg(cast(l_quantity as double)), 6) AS avg_qty,
                   round(avg(cast(l_discount as double)), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   cast(epoch(o_orderdate) as bigint) AS odate_epoch,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey < 10
              AND o_orderdate < timestamp '1995-03-15'
              AND l_shipdate > timestamp '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "tpch_q6": """
            SELECT round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                 cast(l_discount as decimal(18,4)))
                        as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= timestamp '1994-01-01'
              AND l_shipdate < timestamp '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "tensor_slice": """
            SELECT vec_id, p.pos,
                   round(cast(embedding[p.pos + 2] as double), 6) AS val,
                   round(list_sum(list_transform(
                       list_slice(embedding, 2, 4),
                       x -> cast(x as double))), 6) AS slab_sum
            FROM embeddings,
                 (SELECT unnest([0, 1, 2]) AS pos) p
        """,
        "events_session": """
            WITH o AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w
                                    >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            s AS (SELECT user_id, ts, value,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                  FROM o)
            SELECT cast(floor(epoch(min(ts))) as bigint) AS session_epoch,
                   user_id, count(*) AS n_events,
                   round(cast(sum(cast(value as decimal(18,2)))
                         as double), 4) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "complex_mul": """
            SELECT l_orderkey, l_linenumber,
                   round(cast(cast(l_quantity as float) *
                              cast(l_quantity as float) +
                              cast(l_discount as float) *
                              cast(l_discount as float) as double), 4) AS re,
                   round(cast(cast(l_quantity as float) *
                              (-cast(l_discount as float)) +
                              cast(l_discount as float) *
                              cast(l_quantity as float) as double), 4) AS im
            FROM lineitem WHERE l_orderkey <= 100
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'click'),
            purch AS (
                SELECT user_id, ts, max(value) AS p_value FROM events
                WHERE event_type = 'purchase' GROUP BY user_id, ts)
            SELECT c.event_id, c.user_id,
                   cast(floor(epoch(c.ts)) as bigint) AS click_epoch,
                   coalesce(cast(floor(epoch(p.ts)) as bigint), -1)
                   AS purchase_epoch,
                   round(coalesce(p.p_value, -1.0), 4) AS p_value
            FROM clicks c ASOF LEFT JOIN purch p
                 ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "range_join": """
            SELECT o_orderkey,
                   cast(floor(epoch(o_orderdate)) as bigint) AS win_epoch,
                   count(*) AS n_shipped,
                   round(cast(sum(cast(l_quantity as decimal(18,2)))
                         as double), 2) AS sum_qty
            FROM orders JOIN lineitem
                 ON l_shipdate >= o_orderdate
                AND l_shipdate < o_orderdate + INTERVAL 7 DAY
            WHERE o_totalprice > 480000
            GROUP BY o_orderkey, o_orderdate
        """,
        "salted_join": """
            SELECT o_orderpriority,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "window_frames": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS order_seq,
                   round(cast(sum(cast(o_totalprice as decimal(18,2)))
                              OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey
                                    ROWS UNBOUNDED PRECEDING)
                         as double), 2) AS running_total
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   cast(grouping(l_returnflag, l_linestatus) as bigint)
                   AS gid,
                   count(*) AS n,
                   round(cast(sum(cast(l_quantity as decimal(18,2)))
                         as double), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   cast(grouping(l_returnflag, l_linestatus) as bigint)
                   AS gid,
                   count(*) AS n,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)))
                         as double), 2) AS sum_price
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "quantiles": """
            WITH c AS (SELECT l_returnflag,
                              cast(round(l_extendedprice * 100)
                                   as bigint) AS cents
                       FROM lineitem)
            SELECT l_returnflag,
                   round(quantile_cont(cents, 0.25)) / 100.0 AS p25,
                   round(quantile_cont(cents, 0.50)) / 100.0 AS p50,
                   round(quantile_cont(cents, 0.75)) / 100.0 AS p75,
                   count(*) AS n
            FROM c GROUP BY l_returnflag
        """,
        "tpch_q5": """
            SELECT n_name,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= timestamp '1996-01-01'
              AND o_orderdate < timestamp '1998-01-01'
            GROUP BY n_name
        """,
        "tpch_q14": """
            SELECT cast(year(l_shipdate) * 100 + month(l_shipdate) as int)
                   AS ship_month,
                   round(100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
                             THEN cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4))
                             ELSE cast(0 as decimal(22,6)) END) as double)
                         / cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                    cast(1 - l_discount as decimal(18,4)))
                           as double), 4) AS promo_share,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY 1
        """,
        "distinct_agg": """
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_custkeys,
                   count(*) AS n_orders,
                   round(cast(sum(cast(o_totalprice as decimal(18,2)))
                         as double), 2) AS sum_total
            FROM orders GROUP BY o_orderpriority
        """,
        "set_ops": """
            SELECT o_custkey, 'both' AS tag FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                INTERSECT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            UNION ALL
            SELECT o_custkey, 'only_open' AS tag FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                EXCEPT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        """,
        "pivot": """
            SELECT o_orderpriority,
                   count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                   AS n_open,
                   count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                   AS n_finished,
                   count(CASE WHEN o_orderstatus = 'P' THEN 1 END)
                   AS n_pending
            FROM orders GROUP BY o_orderpriority
        """,
        "unpivot": """
            SELECT l_returnflag, metric, count(*) AS n,
                   round(cast(sum(cast(val as decimal(18,2)))
                         as double), 2) AS sum_val
            FROM (
                SELECT l_returnflag, 'l_quantity' AS metric,
                       l_quantity AS val FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_extendedprice', l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_discount', l_discount
                FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
            GROUP BY l_returnflag, metric
        """,
        "dedup_exact": f"""
            SELECT {h_norm_text} AS text_hash,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_lsh_capped": _lsh_jaccard_sql(max_bucket_size=10),
        "sample_mixture": _mixture_sql(),
        "zorder_layout": _zorder_sql(),
        "corpus_diff": f"""
            WITH v2 AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 11 != 0
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id % 13 = 0),
            o AS (SELECT doc_id AS id,
                         {_DUCK_HASH.format(
                             x=_DUCK_NORM.format(x='text'))} AS old_hash
                  FROM documents),
            n AS (SELECT doc_id AS id,
                         {_DUCK_HASH.format(
                             x=_DUCK_NORM.format(x='text'))} AS new_hash
                  FROM v2)
            SELECT coalesce(o.id, n.id) AS doc_id,
                   CASE WHEN o.id IS NULL THEN 'added'
                        WHEN n.id IS NULL THEN 'removed'
                        WHEN old_hash = new_hash THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   old_hash, new_hash
            FROM o FULL OUTER JOIN n ON o.id = n.id
        """,
        # rollup_merge oracle: the FULL re-aggregate over all events —
        # passing proves merge(agg(history), agg(delta)) == agg(all)
        "rollup_merge": """
            SELECT user_id,
                   CAST(floor(date_diff('second',
                            TIMESTAMP '2024-01-01 00:00:00', ts)
                        / 21600) AS BIGINT) AS bucket,
                   count(*) AS n_events,
                   round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                              AS DOUBLE), 2) AS v_sum
            FROM events
            GROUP BY 1, 2
        """,
        "dedup_embedding_bucketed": _embedding_bucketed_sql(),
        "dedup_simhash": _simhash_sql(),
        "similarity_topk": _similarity_topk_sql(),
        "ann_ivf": _ivf_sql(),
        "ann_ivf_indexed": _ivf_indexed_sql(),
        # snapshot_roundtrip: a faithful store copy has the source's
        # aggregates; versions row pins the pointer advance (0 -> 1)
        "snapshot_roundtrip": """
            SELECT 'docs' AS tbl, cast(count(*) as bigint) AS n_rows,
                   cast(sum(length(text)) as bigint) AS checksum
            FROM documents
            UNION ALL
            SELECT 'orders_rollup', cast(count(*) as bigint),
                   cast(sum(n_orders) as bigint)
            FROM (SELECT o_orderpriority,
                         count(*) AS n_orders
                  FROM orders GROUP BY 1)
            UNION ALL
            SELECT 'versions', 0, 1
        """,
        # backfill_restart: the committed partition union must equal
        # the single-pass declarative rollup exactly
        "backfill_restart": """
            SELECT strftime(date_trunc('week', ts), '%Y-%m-%d')
                       AS week,
                   event_type,
                   cast(count(*) as bigint) AS n_events,
                   cast(count(DISTINCT user_id) as bigint) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "heavy_hitters_cms": _cms_hh_sql(),
        "tensor_chan_avg": _CHAN_AVG_SQL,
        "tensor_row_avg": _ROW_AVG_SQL,
        "dedup_edit_distance": _edit_distance_sql(),
        "phase_rotate": _phase_rotate_sql(),
        "spectral_index": _spectral_index_sql(),
        "weighted_quantiles": _WQ_SQL,
        "flag_summary": _FLAG_SUMMARY_SQL,
        "resample_interp": _RESAMPLE_INTERP_SQL,
        "rfi_flag": _rfi_flag_sql(),
        "gain_solve": _GAIN_SOLVE_SQL,
        "applycal": _APPLYCAL_SQL,
        "flag_grow": _FLAG_GROW_SQL,
        "ngram_novelty": _ngram_novelty_sql(),
        "parallactic_angle": _PARALLACTIC_SQL,
        "dedup_containment": _containment_sql(),
        "sample_unimax": _sample_unimax_sql(),
        "scan_summary": _SCAN_SUMMARY_SQL,
        "tokenizer_fertility": _tokenizer_fertility_sql(),
        "grid_conv": _grid_conv_sql(),
        "statwt": _STATWT_SQL,
        "events_changepoint": _EVENTS_CHANGEPOINT_SQL,
        "c4_filter": _C4_FILTER_SQL,
        "closure_amp": _CLOSURE_AMP_SQL,
        "split_leakage": _split_leakage_sql(),
        "ccnet_buckets": _CCNET_BUCKETS_SQL,
        "lm_kneser_ney": _LM_KNESER_NEY_SQL,
        "attribution": _ATTRIBUTION_SQL,
        "bandpass_solve": _BANDPASS_SQL,
        "cuped": _CUPED_SQL,
        "cusum_segments": _cusum_segments_sql(),
        "heaps_fit": _HEAPS_SQL,
        "channel_regrid": _CHANNEL_REGRID_SQL,
        "spectral_moments": _SPECTRAL_MOMENTS_SQL,
        "imaging_weights": _imaging_weights_sql(),
        "sample_temperature": _SAMPLE_TEMPERATURE_SQL,
        "crossmatch_nearest": _CROSSMATCH_NEAREST_SQL,
        "bda_weighted": _BDA_WEIGHTED_SQL,
        "sigma_clip": _SIGMA_CLIP_SQL,
        "ann_ivfpq": _ANN_IVFPQ_SQL,
        "curriculum": _CURRICULUM_SQL,
        "stokes_convert": _STOKES_SQL,
        "closure_phase": _CLOSURE_SQL,
        "hanning": _HANNING_SQL,
        "uvcontsub": _UVCONTSUB_SQL,
        "predict_vis": _predict_vis_sql(),
        "dsir_select": _DSIR_SQL,
        "uvw_compute": _uvw_sql(),
        "quality_classifier": _QUALITY_CLASSIFIER_SQL,
        "sumthreshold": _SUMTHRESHOLD_SQL,
        "ann_lsh": _ann_lsh_sql(),
        "text_bpe": _bpe_sql(),
        "text_winnow": _winnow_sql(),
        "text_stats": """
            SELECT doc_id,
                   CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text, ' \t\n\x0b\f\r'), '\\s+'))
                   END AS n_tokens,
                   length(text) AS n_chars_actual,
                   round(length(regexp_replace(text,
                         '[^.,;:!?''"()\\-]', '', 'g')) /
                         greatest(length(text), 1), 6) AS punct_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g')) /
                         greatest(length(text), 1), 6) AS digit_ratio
            FROM documents
        """,
        "text_langid": _langid_sql(),
        "text_fingerprint": f"""
            SELECT doc_id, {h_norm_text} AS fp FROM documents
        """,
        "sample_split": f"""
            WITH b AS (
                SELECT doc_id,
                       {_DUCK_HASH.format(
                           x="cast(doc_id as varchar) || 'split'")}
                       % 1000000 AS sb,
                       {_DUCK_HASH.format(
                           x="cast(doc_id as varchar) || 'sample'")}
                       % 1000000 AS pb
                FROM documents)
            SELECT doc_id,
                   CASE WHEN sb < 800000 THEN 'train'
                        WHEN sb < 900000 THEN 'val'
                        ELSE 'test' END AS split,
                   pb < 100000 AS in_10pct_sample
            FROM b
        """,
        "udaf_ols": """
            WITH b AS (
                SELECT user_id, value,
                       (epoch(ts) - min(epoch(ts))
                            OVER (PARTITION BY user_id)) / 3600.0 AS xh
                FROM events
                WHERE ts IS NOT NULL AND value IS NOT NULL)
            SELECT user_id, count(*) AS n_events,
                   round(regr_slope(value, xh), 6) AS slope,
                   round(regr_intercept(value, xh), 6) AS intercept
            FROM b GROUP BY user_id
        """,
        "events_windowed": """
            SELECT cast(epoch(date_trunc('hour', ts)) as bigint)
                   AS win_epoch,
                   event_type, count(*) AS n_events,
                   round(cast(sum(cast(value as decimal(18,2)))
                         as double), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sliding": """
            WITH e AS (
                SELECT user_id, value,
                       date_trunc('hour', ts) - to_hours(k) AS win_start
                FROM events, (SELECT unnest([0, 1]) AS k)
                WHERE date_trunc('hour', ts) - to_hours(k) >=
                      date_trunc('hour', ts) - to_hours(1))
            SELECT cast(epoch(win_start) as bigint) AS win_epoch, user_id,
                   count(*) AS n_events,
                   round(cast(sum(cast(value as decimal(18,2)))
                         as double) / count(*), 4) AS avg_value
            FROM e GROUP BY 1, 2
        """,
        "events_props": """
            SELECT event_type, count(*) AS n,
                   cast(sum(cast(json_extract(props, '$.k') as bigint))
                        as bigint) AS sum_k,
                   count(CASE WHEN cast(json_extract(props, '$.k')
                              as bigint) > 50 THEN 1 END) AS n_hi
            FROM events GROUP BY event_type
        """,
        "events_correlate": """
            SELECT a.user_id AS user_id, count(*) AS n_pairs,
                   round(avg(epoch_us(b.ts) - epoch_us(a.ts)) / 1e6, 4)
                   AS avg_delay_s
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND b.ts >= a.ts
             AND b.ts <= a.ts + INTERVAL 30 MINUTE
            WHERE a.event_type = 'click' AND b.event_type = 'error'
            GROUP BY 1
        """,
        # events_funnel: ordered stages as chained min-after-previous
        # aggregates; latency averaged over exact integer
        # microseconds.
        "events_funnel": """
            WITH v AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
            c AS (
                SELECT e.user_id, min(e.ts) AS t2, min(t1) AS t1
                FROM events e JOIN v USING (user_id)
                WHERE event_type = 'click' AND e.ts > t1
                GROUP BY e.user_id),
            p AS (
                SELECT e.user_id, min(e.ts) AS t3, min(t2) AS t2
                FROM events e JOIN c USING (user_id)
                WHERE event_type = 'purchase' AND e.ts > t2
                GROUP BY e.user_id)
            SELECT '1_view' AS stage, count(*) AS n_users,
                   CAST(NULL AS DOUBLE) AS avg_hours FROM v
            UNION ALL
            SELECT '2_click', count(*),
                   round(avg(epoch_us(t2) - epoch_us(t1)) / 3.6e9, 6)
            FROM c
            UNION ALL
            SELECT '3_purchase', count(*),
                   round(avg(epoch_us(t3) - epoch_us(t2)) / 3.6e9, 6)
            FROM p
        """,
        # events_retention: cohort by ISO week of first event, offset
        # in whole weeks of exact seconds.
        "events_retention": """
            WITH f AS (
                SELECT user_id, min(ts) AS first_ts FROM events
                GROUP BY user_id)
            SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d')
                       AS cohort_week,
                   cast(floor((epoch_us(ts) - epoch_us(first_ts))
                              / 604800e6) as bigint) AS week_offset,
                   count(DISTINCT e.user_id) AS n_users
            FROM events e JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        # negative_sampling: same md5 hash -> mod-N negative with
        # anchor-collision bump, mirrored exactly.
        "negative_sampling": f"""
            WITH n AS (SELECT count(*) AS n_ids FROM documents),
            e AS (
                SELECT doc_id, CAST(t.i AS INT) AS neg_idx,
                       {_DUCK_HASH.format(
                           x="cast(doc_id as varchar) || '#' || "
                             "cast(t.i as varchar) || 'neg'")}
                           % n_ids AS raw, n_ids
                FROM documents, n, range(0, 4) AS t(i))
            SELECT doc_id, neg_idx,
                   CASE WHEN raw = doc_id THEN (raw + 1) % n_ids
                        ELSE raw END AS neg_id
            FROM e
        """,
        "skew_profile": """
            WITH pk AS (
                SELECT l_orderkey AS key, count(*) AS n
                FROM lineitem GROUP BY 1)
            SELECT key, n,
                   round(n / (SELECT sum(n) FROM pk), 6) AS share
            FROM pk
            ORDER BY n DESC, key
            LIMIT 20
        """,
        # events_transitions: lag over (ts, event_id) — the tiebreak
        # keeps same-timestamp ordering engine-deterministic.
        "events_transitions": """
            WITH seq AS (
                SELECT user_id, event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_type
                FROM events)
            SELECT prev_type, event_type AS next_type,
                   count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
        """,
        "value_histogram": """
            SELECT event_type,
                   least(cast(floor(value / 20.0) as bigint), 24)
                       AS bin,
                   count(*) AS n,
                   round(cast(sum(cast(value as decimal(18,2)))
                         as double), 2) AS sum_value,
                   least(cast(floor(value / 20.0) as bigint), 24)
                       * 20.0 AS bin_lo
            FROM events GROUP BY 1, 2
        """,
        "events_dedup": """
            WITH ranked AS (
                SELECT event_type, value,
                       row_number() OVER (
                           PARTITION BY user_id, event_type,
                                        epoch_ns(ts) // 300000000000
                           ORDER BY epoch_ns(ts) // 1000, event_id)
                       AS rn
                FROM events)
            SELECT event_type, count(*) AS n_kept,
                   round(cast(sum(cast(value as decimal(18,2)))
                         as double), 4) AS sum_value
            FROM ranked WHERE rn = 1
            GROUP BY event_type
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= timestamp '1996-07-01'
              AND o_orderdate < timestamp '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "tpch_q2": """
            WITH pairs AS (
                SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            j AS (
                SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
                       min(s_acctbal) OVER (PARTITION BY p_partkey) AS mn
                FROM pairs
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE p_size <= 15 AND p_type = 'LARGE')
            SELECT p_partkey, p_name, s_suppkey, s_name,
                   round(cast(s_acctbal as double), 2) AS acctbal
            FROM j WHERE s_acctbal = mn
            ORDER BY s_acctbal ASC, p_partkey ASC, s_suppkey ASC
            LIMIT 100
        """,
        "tpch_q8": """
            SELECT cast(year(o_orderdate) as bigint) AS o_year,
                   round(cast(sum(CASE WHEN n2.n_name = 'NATION_5'
                             THEN cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4))
                             ELSE cast(0 as decimal(22,6)) END) as double)
                         / cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                    cast(1 - l_discount as decimal(18,4)))
                           as double), 6) AS mkt_share,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= timestamp '1996-01-01'
              AND o_orderdate < timestamp '1998-01-01'
            GROUP BY 1
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   cast(year(l_shipdate) as bigint) AS l_year,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= timestamp '1996-01-01'
              AND l_shipdate < timestamp '1998-01-01'
              AND ((n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_12')
                OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_5'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   cast(year(o_orderdate) as bigint) AS o_year,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS sum_profit,
                   count(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%red%'
            GROUP BY 1, 2
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name,
                   round(cast(c_acctbal as double), 2) AS acctbal,
                   n_name,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= timestamp '1996-10-01'
              AND o_orderdate < timestamp '1997-01-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "tpch_q12": """
            SELECT l_returnflag,
                   cast(sum(CASE WHEN o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) as bigint)
                   AS high_line_count,
                   cast(sum(CASE WHEN o_orderpriority
                                 IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) as bigint)
                   AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= timestamp '1996-01-01'
              AND l_shipdate < timestamp '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 30 DAY
            GROUP BY l_returnflag
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer
                  LEFT OUTER JOIN orders
                    ON c_custkey = o_custkey AND o_orderstatus <> 'F'
                  GROUP BY c_custkey)
            GROUP BY c_count
        """,
        "tpch_q15": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                      cast(1 - l_discount as decimal(18,4)))
                             as double), 2) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= timestamp '1996-01-01'
                  AND l_shipdate < timestamp '1996-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """,
        "tpch_q17": """
            WITH pp AS (
                SELECT l_partkey AS t_partkey,
                       cast(sum(cast(l_quantity as decimal(18,2)))
                            as double) / count(*) AS avg_qty
                FROM lineitem GROUP BY l_partkey)
            SELECT round(cast(sum(cast(l_extendedprice as decimal(18,2)))
                         as double) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN pp ON l_partkey = t_partkey
            WHERE p_brand = 'Brand#13'
              AND l_quantity < 0.2e0 * avg_qty
        """,
        "tpch_q19": """
            SELECT round(cast(sum(cast(l_extendedprice as decimal(18,2)) *
                                  cast(1 - l_discount as decimal(18,4)))
                         as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "tpch_q22": """
            WITH thr AS (
                SELECT cast(sum(cast(c_acctbal as decimal(18,2)))
                            as double) / count(*) AS t
                FROM customer WHERE c_acctbal > 0)
            SELECT c_nationkey, count(*) AS numcust,
                   round(cast(sum(cast(c_acctbal as decimal(18,2)))
                         as double), 2) AS totacctbal
            FROM customer, thr
            WHERE c_acctbal > t
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >=
                                    timestamp '2000-07-01')
            GROUP BY c_nationkey
        """,
        # tpch_q11 shape: exact-decimal value per part, global-fraction
        # HAVING via the same aggregate (value * 1000 > total keeps the
        # compare in exact decimal on both engines).
        "tpch_q11": """
            WITH pp AS (
                SELECT l_partkey,
                       sum(cast(l_extendedprice as decimal(18,2)) *
                           cast(1.0 - l_discount as decimal(18,4)))
                           AS value
                FROM lineitem
                WHERE l_suppkey IN (
                    SELECT s_suppkey FROM supplier, nation
                    WHERE s_nationkey = n_nationkey
                      AND n_name = 'NATION_7')
                GROUP BY l_partkey)
            SELECT l_partkey AS ps_partkey,
                   round(cast(value as double), 2) AS value
            FROM pp, (SELECT sum(value) AS total FROM pp)
            WHERE value * 1000 > total
        """,
        # tpch_q20 shape: correlated availability subquery as a window
        # average over the shipped-quantity aggregate (integer-valued
        # double sums -> the 1.5x threshold compare is exact).
        "tpch_q20": """
            WITH qty AS (
                SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
                FROM lineitem
                WHERE l_shipdate >= timestamp '1997-01-01'
                  AND l_shipdate < timestamp '1998-01-01'
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY l_partkey, l_suppkey),
            heavy AS (
                SELECT DISTINCT l_suppkey
                FROM (SELECT l_suppkey, qty,
                             avg(qty) OVER (PARTITION BY l_partkey)
                                 AS a
                      FROM qty)
                WHERE qty > 1.5 * a)
            SELECT s_suppkey, s_name,
                   round(cast(s_acctbal as double), 2) AS acctbal
            FROM supplier, nation
            WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
              AND s_suppkey IN (SELECT l_suppkey FROM heavy)
        """,
        # tpch_q21 shape: the EXISTS / NOT-EXISTS pair written
        # literally here; the Spark plan decorrelates both into one
        # per-order supplier-count aggregate.
        "tpch_q21": """
            WITH lo AS (
                SELECT l_orderkey, l_suppkey,
                       l_shipdate > o_orderdate + INTERVAL 60 DAY
                           AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F')
            SELECT s_name, count(*) AS numwait
            FROM lo l1
            JOIN supplier ON l1.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_2' AND l1.late
              AND EXISTS (SELECT 1 FROM lo l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM lo l3
                              WHERE l3.l_orderkey = l1.l_orderkey
                                AND l3.l_suppkey <> l1.l_suppkey
                                AND l3.late)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 100
        """,
        # bm25_search: same one-explode tf/dl/df derivation, score
        # formula written out; ties at the top-20 boundary broken by
        # doc_id on both engines.
        "bm25_search": """
            WITH tok AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(lower(text), '[a-z]+'))
                           AS term
                FROM documents),
            tf_all AS (
                SELECT doc_id, term, count(*) AS tf
                FROM tok GROUP BY doc_id, term),
            dl AS (
                SELECT doc_id, sum(tf) AS dl FROM tf_all
                GROUP BY doc_id),
            consts AS (
                SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
            tf AS (
                SELECT * FROM tf_all
                WHERE term IN ('spark', 'merge', 'vector')),
            dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term),
            scored AS (
                SELECT tf.doc_id,
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
                       tf * (1.2 + 1) /
                       (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                           AS score
                FROM tf
                JOIN dl ON tf.doc_id = dl.doc_id
                JOIN dfreq ON tf.term = dfreq.term
                CROSS JOIN consts)
            SELECT doc_id, round(sum(score), 6) AS bm25,
                   count(*) AS n_terms_hit
            FROM scored
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id
            LIMIT 20
        """,
        "tpch_q18": """
            WITH big AS (
                SELECT l_orderkey,
                       round(cast(sum(cast(l_quantity as decimal(18,2)))
                             as double), 2) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING round(cast(sum(cast(l_quantity as decimal(18,2)))
                             as double), 2) > 300)
            SELECT c_custkey, c_name, o_orderkey,
                   cast(epoch(o_orderdate) as bigint) AS odate_epoch,
                   total_qty
            FROM orders
            JOIN big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "table_profile": " UNION ALL ".join(
            f"""SELECT '{c}' AS col_name,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   cast(min({c}) as varchar) AS min_s,
                   cast(max({c}) as varchar) AS max_s
            FROM orders"""
            for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_orderpriority"]),
        
        "pagerank": _pagerank_sql(),
        "corpus_mixture": _corpus_mixture_sql(),
        "text_repetition": """
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(trim(lower(text), ' \t\n\x0b\f\r'),
                                                    '\\s+') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                         list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])
                         AS grams
                  FROM t WHERE len(toks) >= 2),
            e AS (SELECT doc_id, cast(len(grams) as bigint) AS n_grams,
                         unnest(grams) AS gram
                  FROM g),
            c AS (SELECT doc_id, n_grams, gram, count(*) AS cnt
                  FROM e GROUP BY 1, 2, 3)
            SELECT doc_id, n_grams,
                   count(*) AS n_distinct,
                   round(1.0 - count(*) / n_grams, 6) AS dup_ratio,
                   round(max(cnt) / n_grams, 6) AS max_gram_frac
            FROM c GROUP BY doc_id, n_grams
        """,

        "pack_contexts": f"""
            WITH d AS (SELECT doc_id,
                              CAST(CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0
                                   THEN 0
                                   ELSE len(regexp_split_to_array(
                                       trim(text, ' \t\n\x0b\f\r'), '\\s+')) END
                                   AS BIGINT) AS t,
                              {_DUCK_HASH.format(
                                  x="cast(doc_id as varchar) "
                                    "|| 'pack'")} % 8 AS bucket
                       FROM documents),
            s AS (SELECT doc_id, t, bucket,
                         sum(t) OVER (PARTITION BY bucket
                                      ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - t
                             AS strt
                  FROM d)
            SELECT doc_id, t AS n_tokens,
                   CAST(bucket * 4294967296 + (strt // 512) AS BIGINT)
                       AS pack_id,
                   CAST(strt % 512 AS BIGINT) AS pack_offset,
                   CAST(((strt + greatest(t, 1) - 1) // 512)
                        - (strt // 512) + 1 AS BIGINT) AS n_spans
            FROM s
        """,
        "stratified_sample": f"""
            WITH b AS (SELECT doc_id, source, lang,
                              {_DUCK_HASH.format(
                                  x="cast(doc_id as varchar) "
                                    "|| 'stratum'")}
                              % 1000000 AS hb
                       FROM documents)
            SELECT doc_id, source, lang FROM b
            WHERE hb < CASE source WHEN 'src1' THEN 500000
                                   WHEN 'src2' THEN 250000
                                   WHEN 'src3' THEN 0
                                   ELSE 750000 END
        """,
        "embed_project": _embed_project_sql(),
        "vocab_topk": """
            WITH t AS (SELECT doc_id,
                              CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                                   ELSE regexp_split_to_array(
                                       trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                              AS toks
                       FROM documents),
            w AS (SELECT doc_id, unnest(toks) AS token FROM t),
            c AS (SELECT token, doc_id, count(*) AS cnt
                  FROM w GROUP BY 1, 2)
            SELECT token, cast(sum(cnt) as bigint) AS n_occurrences,
                   cast(count(*) as bigint) AS n_docs
            FROM c GROUP BY token
            ORDER BY n_occurrences DESC, token LIMIT 50
        """,
        "phrase_boilerplate": f"""
            WITH t AS (SELECT doc_id,
                              regexp_split_to_array(trim(lower(text), ' \t\n\x0b\f\r'),
                                                    '\\s+') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                         list_transform(range(1, len(toks) - 3),
                             i -> concat_ws(' ', toks[i], toks[i+1],
                                 toks[i+2], toks[i+3], toks[i+4]))
                         AS grams
                  FROM t WHERE len(toks) >= 5),
            p AS (SELECT DISTINCT doc_id,
                         {_DUCK_HASH.format(x='gram')} AS gh
                  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
            d AS (SELECT gh, count(*) AS nd FROM p GROUP BY 1)
            SELECT doc_id,
                   cast(count(*) as bigint) AS n_phrases,
                   cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                        as bigint) AS n_shared,
                   round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                         / count(*), 6) AS boilerplate_ratio
            FROM p JOIN d USING (gh) GROUP BY doc_id
        """,
        # multimodal_features: byte-level features of the fake media
        # payload (utf-8 text bytes) — DuckDB mirrors each column from
        # the same bytes.  hex()/md5() in DuckDB operate on the utf-8
        # encoding of the string, which is exactly the Spark payload.
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT)
                       AS hash64,
                   substring(hex(encode(text)), 1, 8) AS magic_hex,
                   CASE WHEN strlen(text) > 0 THEN CAST(
                       ('0x' || substring(hex(encode(text)), 1, 2)) AS INT)
                   END AS first_byte,
                   CASE WHEN strlen(text) > 0 THEN CAST(
                       ('0x' || substring(hex(encode(text)),
                                          2 * strlen(text) - 1, 2)) AS INT)
                   END AS last_byte,
                   CAST(length(text) % 64 + 1 AS INT) AS width,
                   CAST(length(text) % 48 + 1 AS INT) AS height
            FROM documents
        """,
        "doc_chunks": f"""
            WITH o AS (
                SELECT doc_id, text,
                       unnest(range(1, greatest(length(text), 1) + 1,
                                    90)) AS off
                FROM documents),
            offs AS (
                SELECT doc_id, substring(text, CAST(off AS INT), 120)
                           AS chunk
                FROM o)
            SELECT doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(length(chunk)) AS BIGINT)
                       AS total_chunk_chars,
                   CAST(max(length(chunk)) AS BIGINT) AS max_chunk_len,
                   CAST(min(length(chunk)) AS BIGINT) AS min_chunk_len,
                   CAST(sum({_DUCK_HASH.format(x='chunk')} % 1000003)
                       AS BIGINT) AS chunk_checksum
            FROM offs GROUP BY doc_id
        """,
        "pii_redact": _pii_sql(),
        "dedup_incremental": f"""
            WITH base AS (
                SELECT * FROM documents WHERE doc_id % 5 != 0),
            newb AS (
                SELECT d.doc_id,
                       CASE WHEN d.doc_id % 10 = 0 AND b.text IS NOT NULL
                            THEN b.text ELSE d.text END AS text
                FROM documents d
                LEFT JOIN base b ON b.doc_id = d.doc_id + 1
                WHERE d.doc_id % 5 = 0),
            bd AS (SELECT DISTINCT
                       {_DUCK_HASH.format(
                           x=_DUCK_NORM.format(x='text'))} AS text_hash
                   FROM base),
            nh AS (SELECT doc_id,
                       {_DUCK_HASH.format(
                           x=_DUCK_NORM.format(x='text'))} AS text_hash
                   FROM newb)
            SELECT nh.doc_id, nh.text_hash,
                   (bd.text_hash IS NOT NULL) AS is_dup
            FROM nh LEFT JOIN bd ON nh.text_hash = bd.text_hash
        """,
        # cardinality_kmv: k smallest distinct md5-hashes per lang;
        # estimator (k-1)/u_k, exact below the fill mark.  2^60 =
        # 1152921504606846976 (portable_hash64 is 15 hex digits).
        "cardinality_kmv": f"""
            WITH d AS (SELECT lang, {_DUCK_NORM.format(x='text')} AS t
                       FROM documents),
            w AS (SELECT lang, substring(t, cast(i as int), 5) AS v
                  FROM d, UNNEST(range(1, length(t) - 3)) r(i)
                  WHERE length(t) >= 5),
            h AS (SELECT DISTINCT lang,
                         {_DUCK_HASH.format(x='v')} AS h FROM w),
            rk AS (SELECT lang, h,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY h) AS rn
                   FROM h)
            SELECT lang, cast(count(*) as bigint) AS n_kept,
                   cast(round(CASE WHEN count(*) < 64
                        THEN cast(count(*) as double)
                        ELSE 63.0 / (cast(max(h) as double)
                                     / 1152921504606846976.0) END)
                        as bigint) AS est_distinct,
                   round(cast(max(h) as double)
                         / 1152921504606846976.0, 9) AS u_k
            FROM rk WHERE rn <= 64 GROUP BY lang
        """,
        # dedup_substring: 60-char windows (whole text when shorter);
        # range() is stop-exclusive where sequence() is inclusive,
        # hence the +2.  stride 10 = aligned sampler; stride 1 = the
        # exact guarantee regime
        "dedup_substring": _substring_dedup_sql(60, 10),
        # collocations_pmi: PMI evaluated with the exact association
        # order of llm/corpus.py collocations_pmi (bm25 ln-parity
        # precedent)
        "collocations_pmi": """
            WITH t AS (SELECT CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                                   ELSE regexp_split_to_array(
                                       trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                              AS toks
                       FROM documents),
            f AS (SELECT toks FROM t WHERE len(toks) >= 2),
            bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
                   FROM f, UNNEST(range(1, len(toks))) AS r(i)),
            bi AS (SELECT w1, w2, count(*) AS c_xy
                   FROM bg GROUP BY 1, 2),
            uni AS (SELECT w, count(*) AS c
                    FROM (SELECT unnest(toks) AS w FROM f)
                    GROUP BY w),
            tot AS (SELECT (SELECT cast(sum(c_xy) as double) FROM bi)
                               AS m_total,
                           (SELECT cast(sum(c) as double) FROM uni)
                               AS n_total)
            SELECT w1, w2, cast(c_xy as bigint) AS c_xy,
                   round(ln((c_xy / m_total)
                            / ((u1.c / n_total) * (u2.c / n_total))),
                         6) AS pmi
            FROM bi
            JOIN uni u1 ON u1.w = bi.w1
            JOIN uni u2 ON u2.w = bi.w2
            CROSS JOIN tot
            WHERE c_xy >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 50
        """,
        # events_ema: literal-weight bounded-frame EMA
        "events_ema": _events_ema_sql(),
        # events_gap_stats: identical lag windows + quantile_cont
        "events_gap_stats": """
            WITH g AS (SELECT event_type,
                              cast(floor(epoch(ts)) as bigint)
                              - lag(cast(floor(epoch(ts)) as bigint))
                                OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS gap_s
                       FROM events)
            SELECT event_type,
                   cast(count(*) as bigint) AS n_gaps,
                   round(quantile_cont(gap_s, 0.5), 1)
                       AS median_gap_s,
                   round(quantile_cont(gap_s, 0.9), 1) AS p90_gap_s,
                   cast(max(gap_s) as bigint) AS max_gap_s
            FROM g WHERE gap_s IS NOT NULL GROUP BY event_type
        """,
        # zipf_fit: same deterministic ranking; DuckDB regr_* parity
        # proven by the grouped-OLS oracle
        "zipf_fit": """
            WITH t AS (SELECT CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0 THEN []
                                   ELSE regexp_split_to_array(
                                       trim(lower(text), ' \t\n\x0b\f\r'), '\\s+') END
                              AS toks
                       FROM documents),
            f AS (SELECT token, count(*) AS freq
                  FROM (SELECT unnest(toks) AS token FROM t)
                  GROUP BY token),
            r AS (SELECT freq,
                         row_number() OVER (ORDER BY freq DESC, token)
                             AS rank
                  FROM f)
            SELECT cast(count(*) as bigint) AS vocab_size,
                   round(regr_slope(ln(cast(freq as double)),
                                    ln(cast(rank as double))), 6)
                       AS zipf_slope,
                   round(regr_intercept(ln(cast(freq as double)),
                                        ln(cast(rank as double))), 6)
                       AS zipf_intercept,
                   round(corr(ln(cast(freq as double)),
                              ln(cast(rank as double))), 6)
                       AS loglog_corr
            FROM r
        """,
        # conversion_lag: same epoch arithmetic; min purchase at or
        # after the first signup
        "conversion_lag": """
            WITH su AS (SELECT user_id,
                               min(cast(floor(epoch(ts)) as bigint))
                                   AS signup_ep
                        FROM events WHERE event_type = 'signup'
                        GROUP BY user_id),
            fp AS (SELECT s.user_id, s.signup_ep,
                          min(cast(floor(epoch(p.ts)) as bigint))
                              AS first_purchase_ep
                   FROM su s
                   LEFT JOIN events p
                     ON p.user_id = s.user_id
                    AND p.event_type = 'purchase'
                    AND cast(floor(epoch(p.ts)) as bigint)
                        >= s.signup_ep
                   GROUP BY s.user_id, s.signup_ep)
            SELECT cast(floor(signup_ep / 604800) as bigint)
                       AS cohort_week,
                   cast(count(*) as bigint) AS n_users,
                   cast(count(first_purchase_ep) as bigint)
                       AS n_converted,
                   round(quantile_cont(first_purchase_ep - signup_ep,
                                       0.5), 1) AS median_lag_s
            FROM fp GROUP BY 1
        """,
        # events_seasonality: Spark dayofweek is 1=Sunday; DuckDB
        # dayofweek is 0=Sunday, hence the +1
        "events_seasonality": """
            SELECT cast(dayofweek(ts) + 1 as int) AS dow,
                   cast(hour(ts) as int) AS hour,
                   cast(count(*) as bigint) AS n_events,
                   round(cast(sum(cast(value as decimal(18,2)))
                              / count(*) as double), 4) AS v_mean
            FROM events GROUP BY 1, 2
        """,
        # sample_weighted: u(id) < rate * w / max(w), entropy weights
        "sample_weighted": """
            WITH d AS (SELECT doc_id, lower(text) AS t
                       FROM documents WHERE length(lower(text)) > 0),
            ch AS (SELECT doc_id, substring(t, cast(i as int), 1) AS c
                   FROM d, UNNEST(range(1, length(t) + 1)) AS r(i)),
            cnt AS (SELECT doc_id, c, count(*) AS cnt
                    FROM ch GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(cnt) AS n_chars
                    FROM cnt GROUP BY 1),
            qq AS (SELECT cnt.doc_id,
                          cast(round(-(cnt / n_chars)
                                     * log2(cnt / n_chars)
                                     * 1048576.0) as bigint) AS ent_q
                   FROM cnt JOIN tot USING (doc_id)),
            e AS (SELECT doc_id,
                         round(sum(ent_q) / 1048576.0, 6)
                             AS entropy_bits
                  FROM qq GROUP BY doc_id),
            s AS (SELECT dd.doc_id, dd.lang, e.entropy_bits
                  FROM documents dd JOIN e USING (doc_id)),
            mx AS (SELECT max(entropy_bits) AS wmax FROM s),
            kept AS (SELECT s.lang FROM s CROSS JOIN mx
                     WHERE CAST(('0x' || substring(
                               md5(CAST(doc_id AS VARCHAR)
                                   || 'weighted'), 1, 15)) AS BIGINT)
                           / 1152921504606846976.0
                           < least(1.0, 0.6 * entropy_bits / wmax))
            SELECT s.lang, cast(count(*) as bigint) AS n_docs,
                   coalesce(k.n_kept, 0) AS n_kept
            FROM s
            LEFT JOIN (SELECT lang, cast(count(*) as bigint) AS n_kept
                       FROM kept GROUP BY lang) k USING (lang)
            GROUP BY s.lang, k.n_kept
        """,
        # sample_quota: hash-ordered row_number cap per source
        "sample_quota": """
            WITH rk AS (SELECT source, doc_id,
                               row_number() OVER (
                                   PARTITION BY source
                                   ORDER BY CAST(('0x' || substring(
                                       md5(CAST(doc_id AS VARCHAR)
                                           || 'quota'), 1, 15))
                                       AS BIGINT), doc_id) AS rk
                        FROM documents)
            SELECT source, cast(count(*) as bigint) AS n_docs,
                   cast(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END)
                        as bigint) AS n_kept
            FROM rk GROUP BY source
        """,
        # quality_prune: entropy scores from the char_entropy mirror,
        # exact-percentile threshold
        "quality_prune": """
            WITH d AS (SELECT doc_id, lower(text) AS t
                       FROM documents WHERE length(lower(text)) > 0),
            ch AS (SELECT doc_id, substring(t, cast(i as int), 1) AS c
                   FROM d, UNNEST(range(1, length(t) + 1)) AS r(i)),
            cnt AS (SELECT doc_id, c, count(*) AS cnt
                    FROM ch GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(cnt) AS n_chars
                    FROM cnt GROUP BY 1),
            q AS (SELECT cnt.doc_id,
                         cast(round(-(cnt / n_chars)
                                    * log2(cnt / n_chars)
                                    * 1048576.0) as bigint) AS ent_q
                  FROM cnt JOIN tot USING (doc_id)),
            e AS (SELECT doc_id,
                         round(sum(ent_q) / 1048576.0, 6)
                             AS entropy_bits
                  FROM q GROUP BY doc_id),
            s AS (SELECT dd.lang,
                         cast(round(e.entropy_bits * 1000000.0)
                              as bigint) AS eq
                  FROM documents dd JOIN e USING (doc_id)),
            t AS (SELECT quantile_cont(eq, 0.25) AS thr FROM s)
            SELECT lang, cast(count(*) as bigint) AS n_docs,
                   cast(sum(CASE WHEN eq >= t.thr
                            THEN 1 ELSE 0 END) as bigint) AS n_kept,
                   round(max(t.thr)) / 1000000.0 AS threshold
            FROM s CROSS JOIN t GROUP BY lang
        """,
        # lang_mismatch: confusion matrix over the langid mirror
        "lang_mismatch": f"""
            WITH p AS ({_langid_sql()})
            SELECT lang, pred_lang, cast(count(*) as bigint) AS n,
                   lang = pred_lang AS is_match
            FROM p GROUP BY lang, pred_lang
        """,
        # events_anomaly: identical frame quartiles in DuckDB
        "events_anomaly": """
            WITH c AS (SELECT user_id, event_id, ts, value
                       FROM events WHERE event_type = 'click'),
            s AS (SELECT user_id, value,
                         quantile_cont(value, 0.25) OVER w AS q1,
                         quantile_cont(value, 0.75) OVER w AS q3,
                         count(value) OVER w AS nh
                  FROM c
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN 32 PRECEDING
                                        AND 1 PRECEDING)),
            f AS (SELECT user_id,
                         CASE WHEN nh >= 8 THEN
                              value < q1 - 1.5 * (q3 - q1)
                              OR value > q3 + 1.5 * (q3 - q1)
                         END AS is_anomaly
                  FROM s)
            SELECT user_id, cast(count(*) as bigint) AS n_events,
                   cast(sum(CASE WHEN is_anomaly IS NOT NULL
                            THEN 1 ELSE 0 END) as bigint) AS n_scored,
                   cast(sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END)
                        as bigint) AS n_anomalies
            FROM f GROUP BY user_id
        """,
        # scd2_history: the same versioning algebra in SQL
        "scd2_history": """
            WITH cust AS (SELECT c_custkey AS k, c_mktsegment AS a
                          FROM customer),
            ch AS (SELECT k, 10 AS s, a || '_v2' AS a
                   FROM cust WHERE k % 4 = 0
                   UNION ALL
                   SELECT k, 20, a || '_v3' FROM cust WHERE k % 8 = 0),
            inc AS (SELECT k, a, cast(s as bigint) AS vf,
                           cast(lead(s) OVER (PARTITION BY k
                                              ORDER BY s) as bigint)
                               AS vt
                    FROM ch),
            first_new AS (SELECT k, min(vf) AS close_at
                          FROM inc GROUP BY k),
            merged AS (
                SELECT c.k, c.a, cast(0 as bigint) AS vf,
                       f.close_at AS vt
                FROM cust c LEFT JOIN first_new f ON f.k = c.k
                UNION ALL
                SELECT k, a, vf, vt FROM inc)
            SELECT a AS c_mktsegment,
                   cast(count(*) as bigint) AS n_rows,
                   cast(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)
                        as bigint) AS n_current,
                   cast(sum(CASE WHEN vt IS NOT NULL THEN 1 ELSE 0 END)
                        as bigint) AS n_closed
            FROM merged GROUP BY a
        """,
        # cdc_apply: highest-(seq, op) change wins per key; the
        # same synthetic feed in SQL
        "cdc_apply": """
            WITH snap AS (SELECT o_orderkey, o_orderpriority,
                                 cast(o_totalprice as decimal(18,2))
                                     AS o_totalprice
                          FROM orders),
            ch AS (
                SELECT o_orderkey, 'D' AS op, 1 AS seq,
                       cast(NULL as varchar) AS o_orderpriority,
                       cast(NULL as decimal(18,2)) AS o_totalprice
                FROM snap WHERE o_orderkey % 7 = 0
                UNION ALL
                SELECT o_orderkey, 'U', 2, o_orderpriority,
                       cast(o_totalprice + 1000 as decimal(18,2))
                FROM snap WHERE o_orderkey % 5 = 0
                UNION ALL
                SELECT o_orderkey + 3000000, 'I', 1, o_orderpriority,
                       o_totalprice
                FROM snap WHERE o_orderkey % 13 = 0),
            latest AS (SELECT * FROM (
                SELECT ch.*, row_number() OVER (
                    PARTITION BY o_orderkey
                    ORDER BY seq DESC, op DESC) AS rn
                FROM ch) WHERE rn = 1),
            merged AS (
                SELECT s.o_orderkey, s.o_orderpriority, s.o_totalprice
                FROM snap s
                WHERE NOT EXISTS (SELECT 1 FROM latest l
                                  WHERE l.o_orderkey = s.o_orderkey)
                UNION ALL
                SELECT o_orderkey, o_orderpriority, o_totalprice
                FROM latest WHERE op != 'D')
            SELECT o_orderpriority, cast(count(*) as bigint) AS n,
                   round(cast(sum(o_totalprice) as double), 2) AS total
            FROM merged GROUP BY o_orderpriority
        """,
        # robust_stats: exact-percentile parity (quantile_cont ==
        # Spark percentile, measured bit-identical)
        "robust_stats": """
            WITH q AS (SELECT l_returnflag,
                              quantile_cont(l_extendedprice, 0.5)
                                  AS median,
                              quantile_cont(l_extendedprice, 0.25) AS q1,
                              quantile_cont(l_extendedprice, 0.75) AS q3
                       FROM lineitem GROUP BY l_returnflag),
            p2 AS (SELECT l.l_returnflag,
                          quantile_cont(abs(l.l_extendedprice
                                            - q.median), 0.5) AS mad,
                          cast(sum(CASE WHEN
                               l.l_extendedprice < q.q1
                                   - 1.5 * (q.q3 - q.q1)
                               OR l.l_extendedprice > q.q3
                                   + 1.5 * (q.q3 - q.q1)
                               THEN 1 ELSE 0 END) as bigint)
                              AS n_outliers,
                          cast(count(*) as bigint) AS n
                   FROM lineitem l JOIN q USING (l_returnflag)
                   GROUP BY l.l_returnflag)
            SELECT q.l_returnflag, round(q.median, 6) AS median,
                   round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
                   round(q.q3 - q.q1, 6) AS iqr,
                   round(p2.mad, 6) AS mad, p2.n_outliers, p2.n
            FROM q JOIN p2 USING (l_returnflag)
        """,
        # constraint_audit: each rule as a UNION ALL leg with the
        # identical rule string
        "constraint_audit": """
            SELECT 'not_null(l_orderkey)' AS rule,
                   cast(count(*) as bigint) AS n_checked,
                   cast(sum(CASE WHEN l_orderkey IS NULL
                            THEN 1 ELSE 0 END) as bigint)
                       AS n_violations,
                   sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                       = 0 AS passed
            FROM lineitem
            UNION ALL
            SELECT 'in_range(l_quantity,1,30)',
                   cast(count(*) as bigint),
                   cast(sum(CASE WHEN NOT (l_quantity IS NULL OR
                            (l_quantity >= 1 AND l_quantity <= 30))
                            THEN 1 ELSE 0 END) as bigint),
                   sum(CASE WHEN NOT (l_quantity IS NULL OR
                       (l_quantity >= 1 AND l_quantity <= 30))
                       THEN 1 ELSE 0 END) = 0
            FROM lineitem
            UNION ALL
            SELECT 'accepted_values(l_returnflag,[A,N,R])',
                   cast(count(*) as bigint),
                   cast(sum(CASE WHEN NOT (l_returnflag IS NULL OR
                            l_returnflag IN ('A', 'N', 'R'))
                            THEN 1 ELSE 0 END) as bigint),
                   sum(CASE WHEN NOT (l_returnflag IS NULL OR
                       l_returnflag IN ('A', 'N', 'R'))
                       THEN 1 ELSE 0 END) = 0
            FROM lineitem
            UNION ALL
            SELECT 'discount_fraction',
                   cast(count(*) as bigint),
                   cast(sum(CASE WHEN NOT (l_discount >= 0 AND
                            l_discount <= 1) THEN 1 ELSE 0 END)
                        as bigint),
                   sum(CASE WHEN NOT (l_discount >= 0 AND
                       l_discount <= 1) THEN 1 ELSE 0 END) = 0
            FROM lineitem
            UNION ALL
            SELECT 'unique(l_orderkey,l_linenumber)',
                   cast(sum(c) as bigint),
                   cast(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                        as bigint),
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) = 0
            FROM (SELECT count(*) AS c FROM lineitem
                  GROUP BY l_orderkey, l_linenumber)
            UNION ALL
            SELECT 'foreign_key(l_orderkey->o_orderkey)',
                   (SELECT cast(count(*) as bigint) FROM lineitem),
                   (SELECT cast(count(*) as bigint) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey)),
                   (SELECT count(*) FROM lineitem l
                    WHERE l.l_orderkey IS NOT NULL
                      AND NOT EXISTS (SELECT 1 FROM orders o
                                      WHERE o.o_orderkey = l.l_orderkey))
                       = 0
        """,
        # incremental_join: the same three-leg IVM union in SQL;
        # the cut is data-relative (max order date - 60 days), same
        # derivation as the Spark side
        "incremental_join": """
            WITH cut AS (SELECT cast(max(o_orderdate) as date) - 60
                             AS c FROM orders),
            ao AS (SELECT o_orderkey, o_orderpriority FROM orders
                   WHERE o_orderdate < (SELECT c FROM cut)),
            ad AS (SELECT o_orderkey, o_orderpriority FROM orders
                   WHERE o_orderdate >= (SELECT c FROM cut)),
            bo AS (SELECT l_orderkey AS o_orderkey, l_extendedprice
                   FROM lineitem
                   WHERE l_shipdate < (SELECT c FROM cut)),
            bd AS (SELECT l_orderkey AS o_orderkey, l_extendedprice
                   FROM lineitem
                   WHERE l_shipdate >= (SELECT c FROM cut)),
            delta AS (
                SELECT ad.o_orderpriority, bo.l_extendedprice
                FROM ad JOIN bo USING (o_orderkey)
                UNION ALL
                SELECT ao.o_orderpriority, bd.l_extendedprice
                FROM ao JOIN bd USING (o_orderkey)
                UNION ALL
                SELECT ad.o_orderpriority, bd.l_extendedprice
                FROM ad JOIN bd USING (o_orderkey))
            SELECT o_orderpriority,
                   cast(count(*) as bigint) AS n_new_rows,
                   round(cast(sum(cast(l_extendedprice
                              as decimal(18,2))) as double), 2)
                       AS new_revenue
            FROM delta GROUP BY o_orderpriority
        """,
        # multimodal_audio: int8-PCM interpretation of the utf-8
        # payload bytes, reconstructed byte-by-byte from hex()
        "multimodal_audio": """
            WITH d AS (SELECT doc_id AS media_id,
                              hex(encode(text)) AS hx,
                              strlen(text) AS n
                       FROM documents),
            s AS (SELECT media_id, i,
                         CASE WHEN b >= 128 THEN b - 256 ELSE b END AS s
                  FROM (SELECT media_id, i,
                               CAST(('0x' || substring(hx,
                                    cast(2 * i - 1 as int), 2)) AS INT)
                                   AS b
                        FROM d, UNNEST(range(1, n + 1)) AS r(i)
                        WHERE n > 0)),
            nz AS (SELECT media_id, i, s FROM s WHERE s != 0),
            flags AS (SELECT media_id,
                             CASE WHEN (s < 0) !=
                                  (lag(s) OVER (PARTITION BY media_id
                                                ORDER BY i) < 0)
                                  THEN 1 ELSE 0 END AS f
                      FROM nz),
            zc AS (SELECT media_id, cast(sum(f) as bigint) AS zc
                   FROM flags GROUP BY media_id),
            agg AS (SELECT media_id,
                           cast(count(*) as bigint) AS n_samples,
                           floor(sqrt(cast(sum(s * s) as double)
                                      / count(*)) * 1e6 + 0.5) / 1e6
                               AS rms,
                           cast(max(abs(s)) as int) AS peak,
                           floor(cast(sum(s) as double) / count(*)
                                 * 1e6 + 0.5) / 1e6 AS dc_offset
                    FROM s GROUP BY media_id)
            SELECT d.media_id,
                   coalesce(agg.n_samples, 0) AS n_samples,
                   agg.rms, agg.peak,
                   coalesce(zc.zc, 0) AS zero_crossings,
                   agg.dc_offset
            FROM d
            LEFT JOIN agg ON agg.media_id = d.media_id
            LEFT JOIN zc ON zc.media_id = d.media_id
        """,
        # active_users_rolling: rolling COUNT DISTINCT via the
        # explode-to-served-days shape; day_idx = days since epoch
        "active_users_rolling": """
            WITH du AS (SELECT DISTINCT cast(ts as date) AS day,
                               user_id FROM events),
            dau AS (SELECT day, cast(count(DISTINCT user_id) as bigint)
                           AS dau
                    FROM du GROUP BY day),
            served AS (SELECT DISTINCT day + cast(i as int) AS day,
                              user_id
                       FROM du, UNNEST(range(0, 7)) AS r(i)),
            wau AS (SELECT day, cast(count(DISTINCT user_id) as bigint)
                           AS wau
                    FROM served GROUP BY day)
            SELECT cast(date_diff('day', DATE '1970-01-01', dau.day)
                        as int) AS day_idx,
                   dau, wau
            FROM dau JOIN wau USING (day)
        """,
        # session_stats: lag-gap flag + running-sum numbering
        "session_stats": """
            WITH e AS (SELECT user_id, event_id, ts, value,
                              cast(floor(epoch(ts)) as bigint) AS ep
                       FROM events),
            g AS (SELECT *,
                         CASE WHEN lag(ep) OVER w IS NULL
                                   OR ep - lag(ep) OVER w > 1800
                              THEN 1 ELSE 0 END AS new_sess
                  FROM e
                  WINDOW w AS (PARTITION BY user_id
                               ORDER BY ts, event_id)),
            s AS (SELECT *,
                         cast(sum(new_sess) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) - 1 as bigint)
                             AS session_idx
                  FROM g)
            SELECT user_id, session_idx,
                   cast(count(*) as bigint) AS n_events,
                   min(ep) AS start_epoch, max(ep) AS end_epoch,
                   max(ep) - min(ep) AS duration_s,
                   round(sum(round(value, 4)), 4) AS value_sum
            FROM s GROUP BY user_id, session_idx
        """,
        # dataset_card: per-(lang, source) release profile; dup ratio
        # from the md5 content digest
        "dataset_card": f"""
            WITH p AS (SELECT lang, source,
                              cast(length(text) as bigint) AS n_chars,
                              cast(CASE WHEN length(trim(text, ' \t\n\x0b\f\r')) = 0
                                   THEN 0 ELSE len(regexp_split_to_array(
                                       trim(text, ' \t\n\x0b\f\r'), '\\s+')) END as bigint)
                                  AS n_tokens,
                              {_DUCK_HASH.format(
                                  x=_DUCK_NORM.format(x='text'))}
                                  AS digest
                       FROM documents),
            a AS (SELECT lang, source,
                         cast(count(*) as bigint) AS n_docs,
                         cast(sum(n_chars) as bigint) AS total_chars,
                         cast(sum(n_tokens) as bigint) AS total_tokens,
                         cast(count(DISTINCT digest) as bigint)
                             AS n_unique_docs
                  FROM p GROUP BY lang, source)
            SELECT lang, source, n_docs, total_chars, total_tokens,
                   n_unique_docs,
                   round(1.0 - n_unique_docs
                         / cast(n_docs as double), 6) AS dup_ratio,
                   round(total_chars / cast(n_docs as double), 6)
                       AS avg_doc_chars
            FROM a
        """,
        # interval_overlap: plain inequality join in DuckDB (tiny
        # inputs); the Spark side must produce the identical pair set
        # through its bucketized plan
        "interval_overlap": """
            WITH c AS (SELECT user_id,
                              cast(floor(epoch(ts)) as bigint) AS ls,
                              cast(floor(epoch(ts)) as bigint)
                              + cast(round(value * 60) as bigint) AS le
                       FROM events WHERE event_type = 'click'),
            e AS (SELECT user_id,
                         cast(floor(epoch(ts)) as bigint) AS rs,
                         cast(floor(epoch(ts)) as bigint) + 1800 AS re
                  FROM events WHERE event_type = 'error'),
            p AS (SELECT c.user_id,
                         least(le, re) - greatest(ls, rs) AS ov
                  FROM c JOIN e ON c.user_id = e.user_id
                  WHERE ls < re AND rs < le)
            SELECT user_id, cast(count(*) as bigint) AS n_pairs,
                   cast(sum(ov) as bigint) AS overlap_seconds
            FROM p GROUP BY user_id
        """,
        # corpus_overlap_kmv: merged KMV sketch over the corpus_diff
        # v2 simulation; per-side estimates re-trim the merged
        # distinct-hash table (llm/sketches.py kmv_overlap)
        "corpus_overlap_kmv": f"""
            WITH v2 AS (
                SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 11 != 0
                UNION ALL
                SELECT text FROM documents WHERE doc_id % 13 = 0),
            va AS (SELECT DISTINCT {_DUCK_HASH.format(
                       x=_DUCK_NORM.format(x='text'))} AS h
                   FROM documents),
            vb AS (SELECT DISTINCT {_DUCK_HASH.format(
                       x=_DUCK_NORM.format(x='text'))} AS h
                   FROM v2),
            m AS (SELECT h, max(in_a) AS in_a, max(in_b) AS in_b
                  FROM (SELECT h, 1 AS in_a, 0 AS in_b FROM va
                        UNION ALL
                        SELECT h, 0 AS in_a, 1 AS in_b FROM vb)
                  GROUP BY h),
            sk AS (SELECT h, in_a, in_b,
                          row_number() OVER (ORDER BY h) AS rn FROM m),
            u AS (SELECT count(*) AS n_u, max(h) AS mx_u,
                         sum(in_a * in_b) AS n_both
                  FROM sk WHERE rn <= 256),
            sa AS (SELECT count(*) AS n_a, max(h) AS mx_a
                   FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                         FROM m WHERE in_a = 1)
                   WHERE rn <= 256),
            sb AS (SELECT count(*) AS n_b, max(h) AS mx_b
                   FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                         FROM m WHERE in_b = 1)
                   WHERE rn <= 256)
            SELECT cast(256 as bigint) AS k_used,
                   cast(round(CASE WHEN n_a < 256
                        THEN cast(n_a as double)
                        ELSE 255.0 / (cast(mx_a as double)
                                      / 1152921504606846976.0) END)
                        as bigint) AS est_a,
                   cast(round(CASE WHEN n_b < 256
                        THEN cast(n_b as double)
                        ELSE 255.0 / (cast(mx_b as double)
                                      / 1152921504606846976.0) END)
                        as bigint) AS est_b,
                   cast(round(CASE WHEN n_u < 256
                        THEN cast(n_u as double)
                        ELSE 255.0 / (cast(mx_u as double)
                                      / 1152921504606846976.0) END)
                        as bigint) AS est_union,
                   round(cast(n_both as double)
                         / cast(n_u as double), 6) AS jaccard
            FROM u CROSS JOIN sa CROSS JOIN sb
        """,
        # graph_triangles: the pagerank candidate graph, wedge
        # self-join closed by one more equi-join (triangle_count)
        "graph_triangles": f"""
            WITH
            {_lsh_graph_ctes()},
            e AS (SELECT DISTINCT least(id_a, id_b) AS u,
                         greatest(id_a, id_b) AS v
                  FROM edges WHERE id_a != id_b),
            w AS (SELECT x.u AS a, x.v AS b, y.v AS c
                  FROM e x JOIN e y
                    ON x.u = y.u AND x.v < y.v),
            t AS (SELECT a, b, c
                  FROM w JOIN e ON e.u = w.b AND e.v = w.c),
            tn AS (SELECT id, count(*) AS n_triangles
                   FROM (SELECT unnest([a, b, c]) AS id FROM t)
                   GROUP BY id),
            dg AS (SELECT id, count(*) AS degree
                   FROM (SELECT u AS id FROM e
                         UNION ALL SELECT v FROM e)
                   GROUP BY id)
            SELECT dg.id, cast(degree as bigint) AS degree,
                   cast(coalesce(n_triangles, 0) as bigint)
                       AS n_triangles,
                   CASE WHEN degree >= 2
                        THEN round(2.0 * coalesce(n_triangles, 0)
                                   / (cast(degree as double)
                                      * (cast(degree as double) - 1.0)),
                                   6)
                        ELSE 0.0 END AS clustering_coeff
            FROM dg LEFT JOIN tn USING (id)
        """,
        # char_entropy: per-term fixed-point quantisation at 2^-20
        # before the per-doc sum (the lm_perplexity discipline)
        "char_entropy": """
            WITH d AS (SELECT doc_id, lower(text) AS t
                       FROM documents WHERE length(lower(text)) > 0),
            ch AS (SELECT doc_id, substring(t, cast(i as int), 1) AS c
                   FROM d, UNNEST(range(1, length(t) + 1)) AS r(i)),
            cnt AS (SELECT doc_id, c, count(*) AS cnt
                    FROM ch GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(cnt) AS n_chars
                    FROM cnt GROUP BY 1),
            q AS (SELECT cnt.doc_id, cnt.cnt, tot.n_chars,
                         cast(round(-(cnt / n_chars)
                                    * log2(cnt / n_chars)
                                    * 1048576.0) as bigint) AS ent_q,
                         cast(round((cnt / n_chars) * (cnt / n_chars)
                                    * 1048576.0) as bigint) AS simp_q
                  FROM cnt JOIN tot USING (doc_id))
            SELECT doc_id, cast(max(n_chars) as bigint) AS n_chars,
                   cast(count(*) as bigint) AS n_distinct_chars,
                   round(sum(ent_q) / 1048576.0, 6) AS entropy_bits,
                   round(1.0 - sum(simp_q) / 1048576.0, 6)
                       AS simpson_diversity
            FROM q GROUP BY doc_id
        """,
        "dedup_embedding": _embedding_dup_sql(),
        "grid_vis": _grid_vis_sql(),
        "grid_wstack": _grid_wstack_sql(),
        "ann_pq": _ANN_PQ_SQL,
        "contamination": _contamination_sql(),
        # dedup_semantic: the k-means mirror as the coarse quantizer,
        # then within-cluster rounded-cosine >= 0.4 against any lower id
        "dedup_semantic": f"""
            WITH km AS ({_kmeans_sql(k=16, iters=2)}),
            v AS (SELECT vec_id,
                         list_transform(embedding,
                                        x -> cast(x as double)) AS vec
                  FROM embeddings),
            m AS (SELECT km.vec_id AS id, km.cluster, v.vec
                  FROM km JOIN v USING (vec_id)),
            p AS (SELECT b.id AS id,
                         max(round({_COS.replace('va', 'a.vec')
                                        .replace('vb', 'b.vec')}, 6))
                             AS max_sim
                  FROM m a JOIN m b
                    ON a.cluster = b.cluster AND a.id < b.id
                  WHERE round({_COS.replace('va', 'a.vec')
                                   .replace('vb', 'b.vec')}, 6) >= 0.4
                  GROUP BY b.id)
            SELECT m.id AS vec_id, m.cluster,
                   (p.max_sim IS NULL) AS keep, p.max_sim
            FROM m LEFT JOIN p ON m.id = p.id
        """,
    }
    # pipeline_funnel composes the quality-filter and minhash-drop
    # mirrors verbatim (same CTE text = bit-identical stage verdicts)
    out["pipeline_funnel"] = f"""
        WITH ql AS ({_QUALITY_FILTER_SQL}),
        ex AS (SELECT doc_id,
                      doc_id = min(doc_id) OVER (
                          PARTITION BY {_DUCK_HASH.format(
                              x=_DUCK_NORM.format(x='text'))})
                          AS ex_keep
               FROM documents),
        mh AS ({_minhash_drop_sql()})
        SELECT d.lang, cast(count(*) as bigint) AS n_total,
               cast(sum(CASE WHEN ql.keep THEN 1 ELSE 0 END) as bigint)
                   AS n_quality,
               cast(sum(CASE WHEN ql.keep AND ex.ex_keep
                        THEN 1 ELSE 0 END) as bigint)
                   AS n_quality_exact,
               cast(sum(CASE WHEN ql.keep AND ex.ex_keep
                             AND mh.drop_id IS NULL
                        THEN 1 ELSE 0 END) as bigint) AS n_survivors
        FROM documents d
        JOIN ql ON ql.doc_id = d.doc_id
        JOIN ex ON ex.doc_id = d.doc_id
        LEFT JOIN mh ON mh.drop_id = d.doc_id
        GROUP BY d.lang
    """
    return out


def oracle_sql() -> dict[str, str]:
    return {k: sql for k, sql in _oracle_sql_all().items()
            if k not in _DEMOTED}


def demoted_oracle_sql() -> dict[str, str]:
    return {k: sql for k, sql in _oracle_sql_all().items()
            if k in _DEMOTED}
