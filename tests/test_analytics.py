"""Invariant tests for the event-analytics and retrieval queries —
cross-engine value equality is the driver oracle's job; these pin the
semantic properties that stay true under any data regeneration."""

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR",
                        "/root/testdata/sf0.001")


def test_funnel_stages_monotone(spark):
    import __spark_entry__ as entry

    rows = {r["stage"]: r for r in
            entry.q_events_funnel(spark, SF_DIR).collect()}
    assert set(rows) == {"1_view", "2_click", "3_purchase"}
    n1, n2, n3 = (rows[s]["n_users"] for s in
                  ("1_view", "2_click", "3_purchase"))
    # each stage requires the previous one strictly earlier
    assert n1 >= n2 >= n3
    assert rows["1_view"]["avg_hours"] is None
    for s in ("2_click", "3_purchase"):
        if rows[s]["n_users"] > 0:
            # strict ts > predecessor => non-negative mean latency
            # (>= 0, not > 0: the 6-decimal rounding of hours can
            # legitimately round a sub-2ms mean down to exactly 0.0)
            assert rows[s]["avg_hours"] >= 0


def test_retention_offset_zero_is_whole_cohort(spark):
    """Every user's first event lies in their own week 0, so summing
    offset-0 counts across cohorts recovers the full user count."""
    import __spark_entry__ as entry

    ret = entry.q_events_retention(spark, SF_DIR)
    n_users = (spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
               .select("user_id").distinct().count())
    zero = (ret.where("week_offset = 0")
               .agg(F.sum("n_users")).collect()[0][0])
    assert zero == n_users
    assert ret.where("week_offset < 0").count() == 0


def test_histogram_partitions_all_events(spark):
    import __spark_entry__ as entry

    hist = entry.q_value_histogram(spark, SF_DIR).collect()
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    assert sum(r["n"] for r in hist) == ev.count()
    for r in hist:
        assert 0 <= r["bin"] <= 24
        assert r["bin_lo"] == r["bin"] * 20.0


def test_bm25_ranked_and_bounded(spark):
    import __spark_entry__ as entry

    rows = entry.q_bm25_search(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["bm25"] > 0
        assert 1 <= r["n_terms_hit"] <= 3
    spark.catalog.clearCache()


def test_tpch_q20_suppliers_from_filtered_nation(spark):
    """Whatever qualifies must be a NATION_3 supplier (vacuously true
    when the small SF has none — the oracle run at sf0.01 covers the
    non-empty case)."""
    import __spark_entry__ as entry

    out = {r["s_suppkey"] for r in
           entry.q_tpch_q20(spark, SF_DIR).collect()}
    allowed = {r["s_suppkey"] for r in
               spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
               .join(spark.read.parquet(os.path.join(SF_DIR,
                                                     "nation.parquet"))
                     .where("n_name = 'NATION_3'"),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .collect()}
    assert out <= allowed


def test_negative_sampling_invariants(spark):
    """k negatives per anchor, all within [0, N), never the anchor
    itself, and deterministic across invocations."""
    from dask_ms_spark.llm.sampling import negative_sampling

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n = docs.count()
    a = negative_sampling(docs, "doc_id", k=3).collect()
    assert len(a) == 3 * n
    for r in a:
        assert 0 <= r.neg_id < n
        assert r.neg_id != r.doc_id
    b = negative_sampling(docs, "doc_id", k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_resample_fill_grid_and_ffill(spark):
    """Gap buckets materialised per key over [min,max], counts zero on
    gaps, forward fill carries the last bucket average."""
    from pyspark.sql import Row

    from dask_ms_spark.operators.timeseries import resample_fill

    rows = [Row(ts="2024-01-01 00:10:00", user_id=1, value=10.0),
            Row(ts="2024-01-01 00:40:00", user_id=1, value=20.0),
            # bucket 1 missing for user 1
            Row(ts="2024-01-01 02:05:00", user_id=1, value=7.0),
            Row(ts="2024-01-01 05:30:00", user_id=2, value=4.0)]
    df = spark.createDataFrame(rows).select(
        F.to_timestamp("ts").alias("ts"), "user_id", "value")
    out = {(r.user_id, r.bucket): r
           for r in resample_fill(df, step_seconds=3600).collect()}
    assert set(out) == {(1, 0), (1, 1), (1, 2), (2, 5)}
    assert out[(1, 0)].n_events == 2 and out[(1, 0)].v_avg == 15.0
    gap = out[(1, 1)]
    assert gap.is_gap and gap.n_events == 0 and gap.v_avg is None
    assert gap.v_filled == 15.0          # carried forward
    assert out[(1, 2)].v_filled == 7.0   # fresh observation wins
    assert not out[(2, 5)].is_gap


def test_chunk_documents_reassembles(spark):
    """Chunks at stride == chunk_chars concatenate back to the source
    text; overlapping chunks cover every offset; empty docs survive."""
    from pyspark.sql import Row

    from dask_ms_spark.llm.corpus import chunk_documents

    rows = [Row(doc_id=1, text="abcdefghij" * 7),   # 70 chars
            Row(doc_id=2, text="short"),
            Row(doc_id=3, text="")]
    df = spark.createDataFrame(rows)
    exact = chunk_documents(df, chunk_chars=16, stride=16).collect()
    joined = {}
    for r in sorted(exact, key=lambda r: (r.doc_id, r.chunk_idx)):
        joined[r.doc_id] = joined.get(r.doc_id, "") + r.chunk
    assert joined == {1: "abcdefghij" * 7, 2: "short", 3: ""}

    over = chunk_documents(df, chunk_chars=16, stride=8) \
        .where("doc_id = 1").collect()
    # stride-8 offsets over 70 chars: 1,9,...,65 -> 9 chunks
    assert len(over) == 9
    assert all(r.chunk_len == 16 for r in over if r.off <= 70 - 15)


def test_incremental_dedup_flags_only_base_matches(spark):
    from pyspark.sql import Row

    from dask_ms_spark.llm.dedup import incremental_dedup

    base = spark.createDataFrame(
        [Row(doc_id=1, text="Alpha  Beta"), Row(doc_id=2, text="gamma")])
    new = spark.createDataFrame(
        [Row(doc_id=10, text="alpha beta"),   # normalised dup of 1
         Row(doc_id=11, text="delta"),
         Row(doc_id=12, text="GAMMA ")])      # normalised dup of 2
    out = {r.doc_id: r.is_dup
           for r in incremental_dedup(new, base).collect()}
    assert out == {10: True, 11: False, 12: True}
    # broadcast path gives identical decisions
    outb = {r.doc_id: r.is_dup
            for r in incremental_dedup(new, base,
                                       broadcast_base=True).collect()}
    assert outb == out


def test_sample_to_mixture_budget_and_nesting(spark):
    """Derived rates track the target shares; a smaller budget yields
    a strict subset (coordinated sampling); strata under their target
    share are kept whole."""
    from pyspark.sql import Row

    from dask_ms_spark.llm.sampling import sample_to_mixture

    rows = [Row(doc_id=i, source=f"s{i % 3}", toks=100)
            for i in range(3000)]
    df = spark.createDataFrame(rows)
    # weights normalise over the LISTED weights (total 2.2): s0 rate
    # = (2/2.2)*50k/100k = .4545, default s1 = .2272, s2 = .0454 ->
    # expected keeps ~455 / ~227 / ~45 per 1000-doc stratum
    big = sample_to_mixture(df, "doc_id", "source",
                            {"s0": 2.0, "s2": 0.2}, 50_000, "toks")
    counts = {}
    for r in big.collect():
        counts[r.source] = counts.get(r.source, 0) + 1
    assert 380 <= counts["s0"] <= 530
    assert counts["s2"] < counts["s1"] < counts["s0"]

    small_ids = {r.doc_id for r in
                 sample_to_mixture(df, "doc_id", "source",
                                   {"s0": 2.0, "s2": 0.2}, 10_000,
                                   "toks").collect()}
    big_ids = {r.doc_id for r in big.collect()}
    assert small_ids <= big_ids            # nested across budgets

    whole = sample_to_mixture(df.where("source = 's0'"), "doc_id",
                              "source", {"s0": 1.0}, 10**9, "toks")
    assert whole.count() == 1000           # capped at keep-everything


def test_merge_rollups_equals_full_aggregate(spark):
    """merge(agg(A), agg(B), agg(C)) == agg(A+B+C) for any disjoint
    split — the continuous-aggregate maintenance invariant."""
    from dask_ms_spark.operators.timeseries import (bucket_aggregate,
                                                    merge_rollups)
    from dask_ms_spark.streaming.events import read_events

    ev = read_events(spark, os.path.join(SF_DIR, "events.parquet")) \
        .select("event_id", "ts", "user_id",
                F.col("value").cast("decimal(18,2)").alias("value"))
    parts = [ev.where(f"event_id % 3 = {i}") for i in range(3)]
    merged = merge_rollups(*[bucket_aggregate(p) for p in parts])
    full = bucket_aggregate(ev)
    m = {(r.key, r.bucket): (r.n_events, r.v_sum)
         for r in merged.collect()}
    f = {(r.key, r.bucket): (r.n_events, r.v_sum)
         for r in full.collect()}
    assert m == f and len(f) > 0


def test_corpus_diff_statuses(spark):
    from pyspark.sql import Row

    from dask_ms_spark.llm.corpus import corpus_diff

    old = spark.createDataFrame([
        Row(doc_id=1, text="same text"),
        Row(doc_id=2, text="will change"),
        Row(doc_id=3, text="will be removed")])
    new = spark.createDataFrame([
        Row(doc_id=1, text="Same  TEXT"),   # unchanged after normalise
        Row(doc_id=2, text="did change"),
        Row(doc_id=4, text="brand new")])
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "added"}


def test_weighted_quantiles_matches_python(spark):
    """Weighted lower quantile vs a Python model, grouped and
    ungrouped; degenerate all-one-weight case equals the plain order
    statistic."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.stats import weighted_quantiles

    rows = [Row(g="a", v=float(v), w=float(w), i=i)
            for i, (v, w) in enumerate(
                [(10, 1), (20, 3), (30, 1), (40, 5)])]
    rows += [Row(g="b", v=float(v), w=1.0, i=10 + v)
             for v in range(1, 11)]
    df = spark.createDataFrame(rows)

    out = {r.g: r for r in weighted_quantiles(
        df, "v", "w", qs=(0.5, 0.9), group_cols="g",
        tiebreak_col="i").collect()}

    def model(pairs, q):
        total = sum(w for _, w in pairs)
        acc = 0.0
        for v, w in sorted(pairs):
            acc += w
            if acc >= q * total:
                return v
        return pairs[-1][0]

    a = [(10, 1), (20, 3), (30, 1), (40, 5)]
    assert out["a"].q50 == model(a, 0.5)
    assert out["a"].q90 == model(a, 0.9)
    b = [(float(v), 1.0) for v in range(1, 11)]
    assert out["b"].q50 == model(b, 0.5) == 5.0
    assert out["b"].q90 == model(b, 0.9) == 9.0


def test_cuped_adjust_variance_reduction(spark):
    """CUPED: adjusted per-arm means match the python mirror exactly
    (fixed-point moments), the adjustment is mean-zero pooled, and
    variance shrinks when pre correlates with post."""
    import numpy as np

    from dask_ms_spark.functions.stats import cuped_adjust
    from tests.conftest import spark_round

    rng = np.random.RandomState(5)
    n = 2000
    x = rng.gamma(2.0, 50.0, n)                 # pre-period spend
    lift = np.where(np.arange(n) % 2 == 0, 0.0, 5.0)
    y = 0.8 * x + lift + rng.normal(0, 10, n)   # post correlates
    arm = np.where(np.arange(n) % 2 == 0, "A", "B")
    rows = [(str(a), float(round(xi, 2)), float(round(yi, 2)))
            for a, xi, yi in zip(arm, x, y)]
    df = spark.createDataFrame(
        rows, "arm string, pre_metric double, post_metric double")
    got = {r.arm: r for r in cuped_adjust(df).collect()}

    # python mirror of the quantized pipeline
    qs = 10_000.0
    xq = np.round(np.round(x, 2) * qs).astype(np.int64)
    yq = np.round(np.round(y, 2) * qs).astype(np.int64)
    sx, sy = xq.sum(), yq.sum()
    sxx = (xq.astype(object) * xq).sum()       # exact python ints
    sxy = (xq.astype(object) * yq).sum()
    theta = (float(n) * float(sxy) - float(sx) * float(sy)) / \
            (float(n) * float(sxx) - float(sx) * float(sx))
    mx = float(sx) / n
    yadjq = np.array([round(float(yq[i]) - theta
                            * (float(xq[i]) - mx))
                      for i in range(n)], dtype=np.int64)
    for a in ("A", "B"):
        m = arm == a
        assert got[a].n_units == int(m.sum())
        assert got[a].mean_post == spark_round(
            float(yq[m].sum()) / m.sum() / qs, 6)
        assert got[a].mean_post_cuped == spark_round(
            float(yadjq[m].sum()) / m.sum() / qs, 6)
    # mean-zero: pooled adjusted mean == pooled raw mean (to quant)
    pooled_raw = float(yq.sum()) / n / qs
    pooled_adj = float(yadjq.sum()) / n / qs
    assert abs(pooled_adj - pooled_raw) < 1e-3
    # the lift estimate survives; per-arm variance shrinks
    lift_raw = got["B"].mean_post - got["A"].mean_post
    lift_adj = got["B"].mean_post_cuped - got["A"].mean_post_cuped
    assert abs(lift_adj - lift_raw) < 1.5
    var_raw = yq.astype(float).var()
    var_adj = yadjq.astype(float).var()
    assert var_adj < 0.2 * var_raw              # strong covariate


def test_cuped_constant_covariate_degrades_to_unadjusted(spark):
    """A zero-variance pre-period covariate must yield theta = 0 (the
    estimator's correct limit: no adjustment), not 0/0 = NaN nulling
    the adjusted means."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.stats import cuped_adjust

    units = spark.createDataFrame(
        [Row(arm="t" if i % 2 else "c", pre=5.0, post=float(i))
         for i in range(20)])
    out = {r.arm: r for r in
           cuped_adjust(units, arm_col="arm", pre_col="pre",
                        post_col="post").collect()}
    for arm in ("t", "c"):
        assert out[arm].mean_post_cuped is not None
        assert out[arm].mean_post_cuped == out[arm].mean_post


def test_bench_compare_labels_real_vs_transient(tmp_path, capsys, monkeypatch):
    """r10 verdict item 1: bench_compare labels each flagged delta
    REAL or TRANSIENT-SUSPECT from the runs' own published per-query
    noise (corroboration, falling back to spread), suppresses
    unattributable ones from the exit code, and still exits 1 when a
    real regression survives."""
    import json
    import sys

    import tools.bench_compare as bc

    old = {"queries": {"a": 1.0, "b": 1.0, "c": 1.0},
           "query_corroboration": {"a": 1.0, "b": 1.0, "c": 1.0}}
    # a: clean 2x regression (noise floor 1.05) -> REAL, exit 1
    # b: 2x delta but its own samples disagree 2.5x -> suppressed
    # c: untouched
    new = {"queries": {"a": 2.0, "b": 2.0, "c": 1.0},
           "query_corroboration": {"a": 1.05, "b": 2.5, "c": 1.0}}
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    monkeypatch.setattr(sys, "argv",
                        ["bench_compare", str(po), str(pn), "1.5"])
    rc = bc.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "REGRESSION? a" in out and "[REAL" in out
    assert "REGRESSION? b" in out and "TRANSIENT-SUSPECT" in out
    assert "1 real / 1 transient-suspect" in out
    # with the real one fixed, only the transient remains -> exit 0
    new["queries"]["a"] = 1.0
    pn.write_text(json.dumps(new))
    rc = bc.main()
    assert rc == 0


def test_bench_compare_caps_legacy_spread_floor(tmp_path, capsys,
                                                monkeypatch):
    """ADVICE r11: a legacy artifact without query_corroboration falls
    back to max/min spread, which one outvoted transient inflates
    forever — an uncapped spread floor would suppress a genuine clean
    regression of similar size.  The floor must be capped (so a 3x
    regression against a 5x historic spread is still REAL) and the
    output must say the floor is spread-based."""
    import json
    import sys

    import tools.bench_compare as bc

    # legacy record: spread only, inflated to 5x by an old transient
    old = {"queries": {"a": 1.0, "b": 1.0},
           "query_spread": {"a": 5.0, "b": 5.0}}
    # a: genuine 3x regression, corroborated clean in the new run;
    # b: untouched
    new = {"queries": {"a": 3.0, "b": 1.0},
           "query_corroboration": {"a": 1.02, "b": 1.0}}
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    monkeypatch.setattr(sys, "argv",
                        ["bench_compare", str(po), str(pn), "1.5"])
    rc = bc.main()
    out = capsys.readouterr().out
    assert rc == 1, "capped spread floor must not suppress a 3x delta"
    assert "REGRESSION? a" in out and "[REAL" in out
    assert "spread-based" in out  # the trust warning is printed
