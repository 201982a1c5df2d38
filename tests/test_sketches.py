"""Tests for the KMV cardinality sketch, semantic dedup, and the
round-5 corpus analytics (substring windows, PMI, char entropy).
Oracles are brute-force Python recomputation on tiny inputs."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_ms_spark.llm.corpus import (char_entropy, collocations_pmi,
                                      substring_dedup)
from dask_ms_spark.llm.semantic import semantic_dedup
from dask_ms_spark.llm.sketches import kmv_distinct


# ---------------------------------------------------------------- KMV

def test_kmv_exact_below_fill(spark):
    """A group with fewer distinct values than k reports the exact
    count (graceful degradation)."""
    rows = [Row(g="a", v=f"x{i % 7}") for i in range(100)]
    out = kmv_distinct(spark.createDataFrame(rows), "v", ["g"],
                       k=64).collect()
    assert len(out) == 1
    assert out[0].n_kept == 7
    assert out[0].est_distinct == 7


def test_kmv_estimate_within_error_bound(spark):
    """Estimation regime: relative error should be within ~3/sqrt(k)
    (the KMV standard error is ~1/sqrt(k-2))."""
    n, k = 5000, 128
    rows = [Row(g="a", v=f"value-{i}") for i in range(n)]
    out = kmv_distinct(spark.createDataFrame(rows), "v", ["g"],
                       k=k).collect()[0]
    assert out.n_kept == k
    assert abs(out.est_distinct - n) / n < 3.0 / math.sqrt(k)


def test_kmv_merge_invariance(spark):
    """The sketch is a pure function of the distinct value set: the
    same values split differently across rows/partitions give an
    identical (est, u_k)."""
    vals = [f"v{i}" for i in range(500)]
    a = spark.createDataFrame([Row(v=v) for v in vals]).repartition(2)
    b = spark.createDataFrame([Row(v=v) for v in vals * 3]) \
        .repartition(7)
    ra = kmv_distinct(a, "v", k=32).collect()[0]
    rb = kmv_distinct(b, "v", k=32).collect()[0]
    assert (ra.est_distinct, ra.u_k) == (rb.est_distinct, rb.u_k)


def test_kmv_global_no_groups(spark):
    rows = [Row(v=f"t{i}") for i in range(10)]
    out = kmv_distinct(spark.createDataFrame(rows), "v", k=64).collect()
    assert len(out) == 1 and out[0].est_distinct == 10


# ----------------------------------------------------- semantic dedup

def test_semantic_dedup_drops_near_identical(spark):
    """Two near-identical vectors land in one cluster; the higher id
    is dropped.  Orthogonal vectors survive."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0, 0.0]),  # dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    out = {r.vec_id: r for r in semantic_dedup(
        spark.createDataFrame(rows), k=2, iters=2,
        threshold=0.9).collect()}
    assert not out[1].keep and out[1].max_sim >= 0.9
    assert out[0].keep and out[2].keep and out[3].keep


def test_semantic_dedup_respects_cluster_boundary(spark):
    """Similar vectors in *different* clusters are not compared — the
    SemDeDup trade-off (coarse quantisation bounds the join)."""
    # two tight groups far apart; k=2 separates them
    rows = [Row(vec_id=i, embedding=[10.0 + i * 0.001, 0.0])
            for i in range(3)]
    rows += [Row(vec_id=10 + i, embedding=[-10.0 - i * 0.001, 0.0])
             for i in range(3)]
    out = semantic_dedup(spark.createDataFrame(rows), k=2, iters=2,
                         threshold=0.99).collect()
    clusters = {r.vec_id: r.cluster for r in out}
    # lowest id of each cluster kept, the rest dropped (cos ~ 1.0
    # within each side)
    keeps = {r.vec_id for r in out if r.keep}
    assert keeps == {min(i for i in clusters
                         if clusters[i] == c) for c in
                     set(clusters.values())}


# -------------------------------------------------- substring windows

def test_substring_dedup_planted_shared_run(spark):
    shared = "S" * 80  # >= window + stride - 1 guarantees a hit
    rows = [Row(doc_id=1, text="aaa " + shared + " bbb" + "x" * 40),
            Row(doc_id=2, text="ccc " + shared + " ddd" + "y" * 40),
            Row(doc_id=3, text="entirely unrelated text " + "z" * 80)]
    out = {r.doc_id: r for r in substring_dedup(
        spark.createDataFrame(rows), window=40, stride=10).collect()}
    assert out[1].n_dup_windows > 0
    assert out[2].n_dup_windows > 0
    assert out[3].n_dup_windows == 0
    assert out[3].dup_ratio == 0.0


def test_substring_dedup_short_doc_single_window(spark):
    rows = [Row(doc_id=1, text="short"), Row(doc_id=2, text="short")]
    out = {r.doc_id: r for r in substring_dedup(
        spark.createDataFrame(rows), window=40, stride=10).collect()}
    assert out[1].n_windows == 1 and out[1].n_dup_windows == 1


# ---------------------------------------------------------------- PMI

def test_collocations_pmi_hand_checked(spark):
    """'new york' always adjacent -> PMI = ln(N^2 * c_xy / (M c_x c_y))
    computed by hand on a fixed corpus."""
    docs = ["new york is big", "new york has people",
            "big people like york"]  # 'york' once without 'new'
    df = spark.createDataFrame([Row(doc_id=i, text=t)
                                for i, t in enumerate(docs)])
    out = collocations_pmi(df, min_count=2, topk=10).collect()
    by_pair = {(r.w1, r.w2): r for r in out}
    assert ("new", "york") in by_pair
    r = by_pair[("new", "york")]
    # counts: bigrams M = 9, c(new york) = 2; tokens N = 12,
    # c(new) = 2, c(york) = 3
    expected = math.log((2 / 9) / ((2 / 12) * (3 / 12)))
    assert r.c_xy == 2
    assert abs(r.pmi - expected) < 1e-6


def test_collocations_pmi_min_count_filter(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d e f")])
    assert collocations_pmi(df, min_count=2, topk=10).count() == 0


def test_collocations_pmi_single_token_docs_excluded(spark):
    """Docs with < 2 tokens contribute to NEITHER marginal (r12: the
    single-explode spelling must keep the pre-change filter
    semantics — a lone 'york' doc must not inflate c(york))."""
    docs = ["new york is big", "new york has people",
            "big people like york", "york"]  # 4th doc: 1 token
    df = spark.createDataFrame([Row(doc_id=i, text=t)
                                for i, t in enumerate(docs)])
    out = collocations_pmi(df, min_count=2, topk=10).collect()
    r = {(x.w1, x.w2): x for x in out}[("new", "york")]
    # same counts as test_collocations_pmi_hand_checked: the 1-token
    # doc is invisible (N = 12, c(york) = 3, not 13/4)
    expected = math.log((2 / 9) / ((2 / 12) * (3 / 12)))
    assert abs(r.pmi - expected) < 1e-6


# ------------------------------------------------------- char entropy

def test_char_entropy_known_values(spark):
    rows = [Row(doc_id=1, text="aaaa"),       # entropy 0
            Row(doc_id=2, text="abab"),       # entropy 1 bit
            Row(doc_id=3, text="abcd")]       # entropy 2 bits
    out = {r.doc_id: r for r in char_entropy(
        spark.createDataFrame(rows)).collect()}
    assert out[1].entropy_bits == pytest.approx(0.0, abs=1e-5)
    assert out[2].entropy_bits == pytest.approx(1.0, abs=1e-5)
    assert out[3].entropy_bits == pytest.approx(2.0, abs=1e-5)
    # Simpson diversity: 1 - sum p^2
    assert out[1].simpson_diversity == pytest.approx(0.0, abs=1e-5)
    assert out[3].simpson_diversity == pytest.approx(0.75, abs=1e-5)
    assert out[3].n_distinct_chars == 4


def test_char_entropy_case_folded(spark):
    rows = [Row(doc_id=1, text="AaAa")]
    out = char_entropy(spark.createDataFrame(rows)).collect()[0]
    assert out.n_distinct_chars == 1
    assert out.entropy_bits == pytest.approx(0.0, abs=1e-5)


# ------------------------------------------------------ triangles

def test_triangle_count_known_graph(spark):
    """K3 plus a pendant edge: nodes 1,2,3 form one triangle; 4 hangs
    off 3."""
    from dask_ms_spark.operators.graph import triangle_count

    rows = [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
            Row(id_a=1, id_b=3), Row(id_a=3, id_b=4),
            # duplicate + reversed edges must not change counts
            Row(id_a=2, id_b=1), Row(id_a=1, id_b=2)]
    out = {r.id: r for r in triangle_count(
        spark.createDataFrame(rows)).collect()}
    assert {i: out[i].n_triangles for i in out} == {1: 1, 2: 1, 3: 1, 4: 0}
    assert out[1].degree == 2 and out[3].degree == 3
    assert out[1].clustering_coeff == 1.0
    # node 3: 1 triangle of 3 possible pairs -> 2*1/(3*2) = 1/3
    assert out[3].clustering_coeff == pytest.approx(1 / 3, abs=1e-6)
    assert out[4].clustering_coeff == 0.0


def test_triangle_count_triangle_free(spark):
    from dask_ms_spark.operators.graph import triangle_count

    rows = [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
            Row(id_a=3, id_b=4)]  # path graph
    out = triangle_count(spark.createDataFrame(rows)).collect()
    assert all(r.n_triangles == 0 for r in out)


# ------------------------------------------------------- kmv overlap

def test_kmv_overlap_exact_below_fill(spark):
    """Disjoint + shared values below the fill mark -> exact set
    arithmetic: |A|=60, |B|=60, |A∪B|=90, J=30/90."""
    from dask_ms_spark.llm.sketches import kmv_overlap

    a = spark.createDataFrame([Row(v=f"x{i}") for i in range(60)])
    b = spark.createDataFrame([Row(v=f"x{i}") for i in range(30, 90)])
    out = kmv_overlap(a, b, "v", k=256).collect()[0]
    assert (out.est_a, out.est_b, out.est_union) == (60, 60, 90)
    assert out.jaccard == pytest.approx(30 / 90, abs=1e-6)


def test_kmv_overlap_estimation_regime(spark):
    """Above the fill mark the union estimate tracks the truth within
    the KMV error bound and Jaccard stays near the true ratio."""
    from dask_ms_spark.llm.sketches import kmv_overlap

    n = 2000
    a = spark.createDataFrame([Row(v=f"v{i}") for i in range(n)])
    b = spark.createDataFrame([Row(v=f"v{i}")
                               for i in range(n // 2, n + n // 2)])
    out = kmv_overlap(a, b, "v", k=256).collect()[0]
    true_union = n + n // 2
    assert abs(out.est_union - true_union) / true_union < 0.25
    assert abs(out.jaccard - (n // 2) / true_union) < 0.15


# ------------------------------------------------- interval overlap

def test_interval_overlap_join_hand_checked(spark):
    """Pairs emitted exactly once even when intervals share many
    buckets (canonical-first-bucket emission, no distinct)."""
    from dask_ms_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame([
        Row(g=1, lid=1, ls=0, le=10_000),       # spans ~3 hourly buckets
        Row(g=1, lid=2, ls=20_000, le=21_000),
        Row(g=2, lid=3, ls=0, le=10_000),       # other group
    ])
    right = spark.createDataFrame([
        Row(g=1, rid=1, rs=5_000, re_s=15_000),   # overlaps lid=1 only
        Row(g=1, rid=2, rs=9_999, re_s=25_000),   # overlaps lid=1 and 2
        Row(g=2, rid=3, rs=10_000, re_s=11_000),  # touches lid=3 end: no
    ])
    out = interval_overlap_join(left, right, "ls", "le", "rs", "re_s",
                                by="g", bucket_width=3600.0).collect()
    pairs = sorted((r.lid, r.rid) for r in out)
    assert pairs == [(1, 1), (1, 2), (2, 2)]


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucketized plan == naive cross-join filter on a random-ish
    deterministic interval set."""
    from dask_ms_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [Row(lid=i, ls=(i * 37) % 500, le=(i * 37) % 500 + (i % 7) * 40)
         for i in range(60)])
    right = spark.createDataFrame(
        [Row(rid=i, rs=(i * 53) % 500, re_s=(i * 53) % 500 + (i % 5) * 55)
         for i in range(60)])
    got = sorted((r.lid, r.rid) for r in interval_overlap_join(
        left, right, "ls", "le", "rs", "re_s",
        bucket_width=100.0).collect())
    want = sorted(
        (l.lid, r.rid)
        for l in left.collect() for r in right.collect()
        if l.ls < r.re_s and r.rs < l.le)
    assert got == want


# --------------------------------------------------------------- EMA

def test_windowed_ema_python_model(spark):
    """EMA values match a direct Python recomputation of the
    bounded-frame weighted mean, including partial (warm-up) frames."""
    from dask_ms_spark.operators.timeseries import windowed_ema

    vals = [10.0, 20.0, 5.0, 40.0, 15.0, 30.0]
    rows = [Row(user_id=1, event_id=i, ts=i, value=v)
            for i, v in enumerate(vals)]
    out = windowed_ema(spark.createDataFrame(rows),
                       order_cols=("ts", "event_id"), alpha=0.5,
                       window=3)
    got = {r.event_id: r.ema for r in out.collect()}
    for i in range(len(vals)):
        frame = vals[max(0, i - 2):i + 1]
        ws = [0.5 ** (len(frame) - 1 - j) for j in range(len(frame))]
        want = sum(v * w for v, w in zip(frame, ws)) / sum(ws)
        assert got[i] == pytest.approx(want, abs=1e-6), i


def test_windowed_ema_keys_isolated(spark):
    """Frames never cross the partition key."""
    from dask_ms_spark.operators.timeseries import windowed_ema

    rows = [Row(user_id=u, event_id=i, ts=i, value=float(100 * u))
            for u in (1, 2) for i in range(4)]
    out = windowed_ema(spark.createDataFrame(rows),
                       order_cols=("ts", "event_id"), alpha=0.9,
                       window=4).collect()
    assert all(r.ema == pytest.approx(100.0 * r.user_id, abs=1e-6)
               for r in out)


# ------------------------------------------------- batch sessionize

def test_sessionize_gap_semantics(spark):
    """Gaps > threshold split sessions; ties order by the tiebreak
    column so numbering is deterministic."""
    import datetime as dt

    from dask_ms_spark.operators.timeseries import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(user_id=1, event_id=1, ts=t0),
        Row(user_id=1, event_id=2, ts=t0 + dt.timedelta(minutes=10)),
        Row(user_id=1, event_id=3, ts=t0 + dt.timedelta(minutes=50)),
        Row(user_id=1, event_id=4, ts=t0 + dt.timedelta(minutes=55)),
        Row(user_id=2, event_id=5, ts=t0),
    ]
    out = {r.event_id: r.session_idx for r in sessionize(
        spark.createDataFrame(rows), gap_seconds=1800).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_sessionize_single_shuffle(spark):
    """Both windows share one partitioning: exactly one Exchange."""
    import datetime as dt

    from dask_ms_spark.operators.timeseries import sessionize
    from dask_ms_spark.plans import exchange_count

    rows = [Row(user_id=i % 3, event_id=i,
                ts=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i))
            for i in range(20)]
    df = sessionize(spark.createDataFrame(rows))
    assert exchange_count(df) == 1


# ----------------------------------------------------- audio kernel

def test_audio_features_hand_checked(spark):
    """int8 PCM interpretation verified against hand-computed values,
    including signedness (0xff -> -1, 0x81 -> -127) and the
    nonzero-only zero-crossing rule."""
    import math as _math

    from pyspark.sql.types import (BinaryType, LongType, StructField,
                                   StructType)

    from dask_ms_spark.llm.multimodal import audio_features

    schema = StructType([StructField("media_id", LongType()),
                         StructField("payload", BinaryType())])
    payload = bytes([0x01, 0xFF, 0x02, 0x00, 0x81])
    df = spark.createDataFrame([(1, payload), (2, b"")], schema)
    out = {r.media_id: r for r in audio_features(df).collect()}
    r = out[1]
    assert r.n_samples == 5
    assert r.peak == 127
    # samples: [1, -1, 2, 0, -127]; nonzero signs: +,-,+,- -> 3 flips
    assert r.zero_crossings == 3
    assert r.rms == pytest.approx(
        _math.sqrt((1 + 1 + 4 + 0 + 127 * 127) / 5), abs=1e-6)
    assert r.dc_offset == pytest.approx((1 - 1 + 2 + 0 - 127) / 5,
                                        abs=1e-6)
    assert out[2].n_samples == 0 and out[2].rms is None


# ------------------------------------------------ incremental join

def test_append_join_delta_identity(spark):
    """join(A+dA, B+dB) == join(A,B) + delta, as multisets."""
    from dask_ms_spark.operators.joins import append_join_delta

    a_old = spark.createDataFrame([Row(k=1, a="x"), Row(k=2, a="y"),
                                   Row(k=2, a="y2")])
    a_new = spark.createDataFrame([Row(k=2, a="z"), Row(k=3, a="w")])
    b_old = spark.createDataFrame([Row(k=1, b=10), Row(k=2, b=20)])
    b_new = spark.createDataFrame([Row(k=2, b=30), Row(k=3, b=40),
                                   Row(k=9, b=99)])

    full = a_old.unionByName(a_new).join(
        b_old.unionByName(b_new), "k")
    base = a_old.join(b_old, "k")
    delta = append_join_delta(a_old, a_new, b_old, b_new, "k")

    def ms(df):
        out = {}
        for r in df.collect():
            t = (r.k, r.a, r.b)
            out[t] = out.get(t, 0) + 1
        return out

    want = ms(full)
    got = ms(base)
    for t, c in ms(delta).items():
        got[t] = got.get(t, 0) + c
    assert got == want


def test_append_join_delta_broadcasts_deltas(spark):
    """Both history legs must be broadcast joins: history never
    shuffles for a delta batch."""
    from dask_ms_spark.operators.joins import append_join_delta
    from dask_ms_spark.plans import plan_str

    a_old = spark.range(1000).select(F.col("id").alias("k"),
                                     F.lit("a").alias("a"))
    b_old = spark.range(1000).select(F.col("id").alias("k"),
                                     F.lit(1).alias("b"))
    a_new = spark.range(5).select(F.col("id").alias("k"),
                                  F.lit("n").alias("a"))
    b_new = spark.range(5).select(F.col("id").alias("k"),
                                  F.lit(2).alias("b"))
    d = append_join_delta(a_old, a_new, b_old, b_new, "k")
    plan = plan_str(d)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


# -------------------------------------------------- constraint audit

def test_constraint_audit_counts(spark):
    from dask_ms_spark.operators.quality import (accepted_values,
                                                 constraint_audit,
                                                 foreign_key, in_range,
                                                 not_null, unique)

    df = spark.createDataFrame(
        [Row(k=1, v=5, tag="A"), Row(k=2, v=500, tag="A"),
         Row(k=2, v=None, tag="X"), Row(k=None, v=3, tag="B")])
    dim = spark.createDataFrame([Row(dk=1), Row(dk=2)])
    out = {r.rule: r for r in constraint_audit(df, [
        not_null("k"),
        in_range("v", 0, 100),
        accepted_values("tag", ["A", "B"]),
        unique("k"),
        foreign_key("k", dim, "dk"),
    ]).collect()}
    assert out["not_null(k)"].n_violations == 1
    # NULL v passes in_range (pair with not_null to forbid)
    assert out["in_range(v,0,100)"].n_violations == 1
    assert out["accepted_values(tag,[A,B])"].n_violations == 1
    # k=2 occurs twice -> both rows count as violations
    assert out["unique(k)"].n_violations == 2
    # NULL key rows are skipped by the FK check
    assert out["foreign_key(k->dk)"].n_violations == 0
    assert not out["unique(k)"].passed
    assert out["foreign_key(k->dk)"].passed


# ----------------------------------------------------------- backfill

def test_backfill_restart_skips_committed(spark, tmp_path):
    """A failing partition stops the run; the restart skips committed
    partitions (no recompute, no double rows) and completes the rest."""
    from dask_ms_spark.operators.backfill import (backfill,
                                                  completed_partitions,
                                                  read_backfill)

    store = str(tmp_path / "bf")
    calls = []

    def make_run(fail_on):
        def run(s, part):
            calls.append(part)
            if part == fail_on:
                raise RuntimeError("boom")
            return s.range(3).select(
                F.lit(part).alias("p"), F.col("id"))
        return run

    parts = ["d1", "d2", "d3"]
    r1 = dict(backfill(spark, parts, make_run("d2"), store))
    assert r1["d1"] == "done" and r1["d2"].startswith("failed")
    assert "d3" not in r1  # stopped at first failure
    assert completed_partitions(store) == {"d1"}

    calls.clear()
    r2 = dict(backfill(spark, parts, make_run(None), store))
    assert r2 == {"d1": "skipped", "d2": "done", "d3": "done"}
    assert calls == ["d2", "d3"]  # d1 not recomputed

    out = read_backfill(spark, store)
    got = sorted((r.p, r.id) for r in out.collect())
    assert got == sorted((p, i) for p in parts for i in range(3))


# ----------------------------------------------------- IVF index

def test_ivf_index_build_query_and_pruning(spark, embeddings, tmp_path):
    """Build-once/query-many IVF index: recall against brute force is
    high, and the probed-cell filter reaches the parquet scan as a
    partition filter (the layout, not a runtime filter, bounds read
    amplification)."""
    from dask_ms_spark.llm.similarity import (brute_force_topk,
                                              build_ivf_index,
                                              ivf_query_indexed)
    from dask_ms_spark.plans import plan_str

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, num_cells=8)
    queries = embeddings.where(F.col("vec_id") < 5)
    got = ivf_query_indexed(spark, path, queries, k=5, nprobe=4)
    plan = plan_str(got)
    assert "PartitionFilters" in plan and "cell#" in plan.split(
        "PartitionFilters")[1][:200]

    got_pairs = {(r.query_id, r.neighbor_id) for r in got.collect()}
    want_pairs = {(r.query_id, r.neighbor_id)
                  for r in brute_force_topk(embeddings, queries,
                                            k=5).collect()}
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.5, recall


# ------------------------------------------------------ robust stats

def test_robust_stats_hand_checked(spark):
    from dask_ms_spark.functions.stats import robust_stats

    # group g: values 1..9 plus an outlier 100
    rows = [Row(g="a", x=float(v)) for v in range(1, 10)] + \
        [Row(g="a", x=100.0)]
    out = robust_stats(spark.createDataFrame(rows), "x",
                       ["g"]).collect()[0]
    # 10 values: median = (5+6)/2, q1 = 3.25, q3 = 7.75 (linear interp)
    assert out.median == pytest.approx(5.5)
    assert out.q1 == pytest.approx(3.25)
    assert out.q3 == pytest.approx(7.75)
    assert out.iqr == pytest.approx(4.5)
    # residuals vs 5.5: [4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,94.5]
    # sorted -> median = (2.5+2.5)/2
    assert out.mad == pytest.approx(2.5)
    assert out.n_outliers == 1 and out.n == 10


# ---------------------------------------------------------------- CDC

def test_apply_cdc_semantics(spark):
    """Insert/update/delete with seq ordering: highest seq wins; a
    same-seq delete+upsert resolves to the upsert ('U' > 'D')."""
    from dask_ms_spark.operators.cdc import apply_cdc

    snap = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")])
    changes = spark.createDataFrame([
        Row(k=2, op="U", seq=1, v="b2"),
        Row(k=2, op="U", seq=2, v="b3"),      # later seq wins
        Row(k=3, op="D", seq=1, v=None),
        Row(k=4, op="I", seq=1, v="d"),
        Row(k=5, op="D", seq=1, v=None),      # delete-then-insert...
        Row(k=5, op="I", seq=1, v="e"),       # ...same seq: upsert wins
    ])
    got = {r.k: r.v for r in apply_cdc(snap, changes, "k").collect()}
    assert got == {1: "a", 2: "b3", 4: "d", 5: "e"}


def test_apply_cdc_snapshot_never_shuffles(spark):
    """The snapshot leg must join the changed-key set as a broadcast
    anti-join: zero Exchange on the snapshot lineage."""
    from dask_ms_spark.operators.cdc import apply_cdc
    from dask_ms_spark.plans import plan_str

    snap = spark.range(10000).select(F.col("id").alias("k"),
                                     F.lit("x").alias("v"))
    changes = spark.createDataFrame(
        [Row(k=5, op="D", seq=1, v=None)],
        "k long, op string, seq int, v string")
    plan = plan_str(apply_cdc(snap, changes, "k"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# --------------------------------------------------------------- SCD2

def test_scd2_apply_versions(spark):
    """New versions close open rows; multi-version batches chain
    ranges per key; unchanged keys pass through."""
    from dask_ms_spark.operators.cdc import scd2_apply

    dim = spark.createDataFrame(
        [Row(k=1, attr="a0", valid_from=0, valid_to=None,
             is_current=True),
         Row(k=2, attr="b0", valid_from=0, valid_to=5,
             is_current=False),
         Row(k=2, attr="b1", valid_from=5, valid_to=None,
             is_current=True),
         Row(k=3, attr="c0", valid_from=0, valid_to=None,
             is_current=True)],
        "k long, attr string, valid_from long, valid_to long, "
        "is_current boolean")
    changes = spark.createDataFrame(
        [Row(k=1, effective_seq=10, attr="a1"),
         Row(k=2, effective_seq=10, attr="b2"),
         Row(k=2, effective_seq=12, attr="b3"),   # two versions, one batch
         Row(k=9, effective_seq=10, attr="z0")])  # brand-new key
    out = scd2_apply(dim, changes, "k")
    rows = {(r.k, r.valid_from): r for r in out.collect()}
    # k=1: old row closed at 10, new open row from 10
    assert rows[(1, 0)].valid_to == 10 and not rows[(1, 0)].is_current
    assert rows[(1, 10)].attr == "a1" and rows[(1, 10)].is_current
    # k=2: closed-old untouched, open b1 closed at 10, b2 10->12, b3 open
    assert rows[(2, 0)].valid_to == 5
    assert rows[(2, 5)].valid_to == 10
    assert rows[(2, 10)].attr == "b2" and rows[(2, 10)].valid_to == 12
    assert rows[(2, 12)].attr == "b3" and rows[(2, 12)].is_current
    # k=3 untouched; k=9 new open
    assert rows[(3, 0)].is_current
    assert rows[(9, 10)].attr == "z0" and rows[(9, 10)].is_current
    # exactly one current row per live key
    cur = [r for r in rows.values() if r.is_current]
    assert sorted(r.k for r in cur) == [1, 2, 3, 9]


def test_scd2_apply_maptype_track_col(spark):
    """A MapType payload column is unorderable: the deterministic
    tie-break window must skip it instead of failing analysis
    (review r9)."""
    from dask_ms_spark.operators.cdc import scd2_apply

    dim = spark.createDataFrame(
        [Row(k=1, attr="a0", props={"x": "1"}, valid_from=0,
             valid_to=None, is_current=True)],
        "k long, attr string, props map<string,string>, "
        "valid_from long, valid_to long, is_current boolean")
    changes = spark.createDataFrame(
        [Row(k=1, effective_seq=10, attr="a1", props={"x": "2"})],
        "k long, effective_seq long, attr string, "
        "props map<string,string>")
    rows = {(r.k, r.valid_from): r for r in
            scd2_apply(dim, changes, "k").collect()}
    assert rows[(1, 0)].valid_to == 10
    assert rows[(1, 10)].is_current and rows[(1, 10)].props == {"x": "2"}


def test_scd2_apply_nested_map_track_col(spark):
    """Unorderability is recursive (review r9 ×2): a map nested in an
    array or struct payload column must also be skipped by the
    tie-break window, exactly as Spark's RowOrdering.isOrderable
    treats it."""
    from dask_ms_spark.operators.cdc import scd2_apply

    dim = spark.createDataFrame(
        [Row(k=1, attr="a0", tags=[{"x": "1"}],
             meta=Row(m={"y": "1"}, n=1), valid_from=0,
             valid_to=None, is_current=True)],
        "k long, attr string, tags array<map<string,string>>, "
        "meta struct<m:map<string,string>, n:long>, "
        "valid_from long, valid_to long, is_current boolean")
    changes = spark.createDataFrame(
        [Row(k=1, effective_seq=10, attr="a1", tags=[{"x": "2"}],
             meta=Row(m={"y": "2"}, n=2))],
        "k long, effective_seq long, attr string, "
        "tags array<map<string,string>>, "
        "meta struct<m:map<string,string>, n:long>")
    rows = {(r.k, r.valid_from): r for r in
            scd2_apply(dim, changes, "k").collect()}
    assert rows[(1, 0)].valid_to == 10
    assert rows[(1, 10)].is_current
    assert rows[(1, 10)].tags == [{"x": "2"}]
    assert rows[(1, 10)].meta.n == 2


# --------------------------------------------------- rolling outliers

def test_rolling_outliers_flags_planted_spike(spark):
    from dask_ms_spark.operators.timeseries import rolling_outliers

    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1,
            10.0, 500.0, 10.3]  # spike at index 9, scored from idx 8
    rows = [Row(user_id=1, event_id=i, ts=i, value=v)
            for i, v in enumerate(vals)]
    out = {r.event_id: r for r in rolling_outliers(
        spark.createDataFrame(rows), window=8, k=1.5,
        min_history=8).collect()}
    # first 8 rows unscored (insufficient history)
    assert all(out[i].is_anomaly is None for i in range(8))
    assert out[8].is_anomaly is False
    assert out[9].is_anomaly is True          # the spike
    # the row AFTER the spike: the spike inflates the frame's q3 but
    # a normal value must still pass
    assert out[10].is_anomaly is False


# ------------------------------------------------------- table health

def test_table_health_reports_small_files(spark, tmp_path):
    from dask_ms_spark.sources.parquet import compact_parquet, table_health

    store = str(tmp_path / "frag")
    # fragmented write: many tiny files
    spark.range(2000).repartition(20).write.parquet(store)
    h = table_health(spark, store, target_file_bytes=1 << 20).collect()
    assert len(h) == 20
    assert sum(r.n_rows for r in h) == 2000
    assert all(r.is_small for r in h)
    assert all(r.n_row_groups >= 1 for r in h)

    # compaction fixes the small-file count
    out = str(tmp_path / "compact")
    n = compact_parquet(spark, store, out, target_files=2)
    h2 = table_health(spark, out, target_file_bytes=1 << 20).collect()
    assert len(h2) == n == 2
    assert sum(r.n_rows for r in h2) == 2000


# ----------------------------------------------------- snapshot store

def test_multi_table_snapshot_atomic_versions(spark, tmp_path):
    from dask_ms_spark.operators.snapshot import (current_version,
                                                  publish_snapshot,
                                                  read_snapshot)

    store = str(tmp_path / "snap")
    v0 = publish_snapshot(
        {"docs": spark.range(10).selectExpr("id", "'a' AS tag"),
         "embs": spark.range(5)}, store)
    assert v0 == 0 and current_version(store) == 0

    # reader resolves version 0; a new publish must not disturb it
    held = read_snapshot(spark, store, version=0)
    v1 = publish_snapshot(
        {"docs": spark.range(20).selectExpr("id", "'b' AS tag"),
         "embs": spark.range(7)}, store)
    assert v1 == 1 and current_version(store) == 1

    cur = read_snapshot(spark, store)
    assert cur["docs"].count() == 20 and cur["embs"].count() == 7
    # consistency: both tables come from the SAME version
    assert {r.tag for r in cur["docs"].select("tag").distinct()
            .collect()} == {"b"}
    assert held["docs"].count() == 10  # keep=2 retains v0

    # pruning: publish twice more; v0 must be gone, CURRENT intact
    publish_snapshot({"docs": spark.range(1), "embs": spark.range(1)},
                     store)
    publish_snapshot({"docs": spark.range(2), "embs": spark.range(2)},
                     store)
    import os
    assert not os.path.isdir(os.path.join(store, "v0"))
    assert not os.path.isdir(os.path.join(store, "v1"))
    assert read_snapshot(spark, store)["docs"].count() == 2


# --------------------------------------------------- weighted sampling

def test_sample_weighted_proportional_and_deterministic(spark):
    from dask_ms_spark.llm.sampling import sample_weighted

    rows = [Row(id=i, w=1.0 if i % 2 == 0 else 10.0)
            for i in range(2000)]
    df = spark.createDataFrame(rows)
    k1 = sample_weighted(df, "id", "w", base_rate=1.0)
    k2 = sample_weighted(df, "id", "w", base_rate=1.0)
    got1 = {r.id for r in k1.collect()}
    assert got1 == {r.id for r in k2.collect()}  # deterministic
    # weight 10 rows keep at rate 1.0 (= w/max = 1); weight 1 at ~0.1
    heavy = sum(1 for i in got1 if i % 2 == 1)
    light = sum(1 for i in got1 if i % 2 == 0)
    assert heavy == 1000
    assert 50 <= light <= 200  # ~10% of 1000


def test_sample_quota_caps_each_group(spark):
    from dask_ms_spark.llm.sampling import sample_quota

    rows = [Row(id=i, g=f"s{i % 3}") for i in range(100)]
    out = sample_quota(spark.createDataFrame(rows), "id", "g",
                       quota=10)
    counts = {r.g: r.n for r in out.groupBy("g")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"s0": 10, "s1": 10, "s2": 10}
    # deterministic selection
    a = {r.id for r in out.collect()}
    b = {r.id for r in sample_quota(spark.createDataFrame(rows), "id",
                                    "g", quota=10).collect()}
    assert a == b


def test_sample_weighted_bad_weight_column_fails_loudly(spark):
    """All-NULL or non-positive weights must raise, not silently
    return zero rows (ADVICE r5)."""
    import pytest
    from dask_ms_spark.llm.sampling import sample_weighted

    null_w = spark.createDataFrame(
        [Row(id=i, w=None) for i in range(5)], "id long, w double")
    with pytest.raises(Exception, match="unusable|ASSERT"):
        sample_weighted(null_w, "id", "w").collect()

    zero_w = spark.createDataFrame(
        [Row(id=i, w=0.0) for i in range(5)], "id long, w double")
    with pytest.raises(Exception, match="unusable|ASSERT"):
        sample_weighted(zero_w, "id", "w").collect()


def test_publish_snapshot_rejects_empty_tables(spark, tmp_path):
    """Empty mapping must not commit CURRENT to a dirless version
    (ADVICE r5)."""
    import pytest
    from dask_ms_spark.operators.snapshot import (current_version,
                                                  publish_snapshot)

    store = str(tmp_path / "snap_empty")
    with pytest.raises(ValueError, match="empty tables"):
        publish_snapshot({}, store)
    assert current_version(store) is None


def test_scd2_apply_validate_rejects_late_version(spark):
    """validate=True fails the job when an incoming version's
    effective sequence is <= the key's open valid_from (ADVICE r5);
    forward-only folds still pass."""
    import pytest
    from dask_ms_spark.operators.cdc import scd2_apply

    dim = spark.createDataFrame(
        [Row(k=1, attr="a1", valid_from=10, valid_to=None,
             is_current=True)],
        "k long, attr string, valid_from long, valid_to long, "
        "is_current boolean")
    late = spark.createDataFrame([Row(k=1, effective_seq=5,
                                      attr="stale")])
    with pytest.raises(Exception, match="late-arriving|ASSERT"):
        scd2_apply(dim, late, "k", validate=True).collect()

    ok = spark.createDataFrame([Row(k=1, effective_seq=20,
                                    attr="a2")])
    rows = {(r.k, r.valid_from): r
            for r in scd2_apply(dim, ok, "k", validate=True).collect()}
    assert rows[(1, 10)].valid_to == 20
    assert rows[(1, 20)].is_current


def test_apply_cdc_payload_collision_deterministic(spark):
    """Two changes colliding on (key, seq, op) with different
    payloads resolve to the payload-desc winner — a total order, not
    an engine-arbitrary pick (ADVICE r5)."""
    from dask_ms_spark.operators.cdc import apply_cdc

    snap = spark.createDataFrame([Row(k=1, v=0)], "k long, v long")
    ch = spark.createDataFrame(
        [Row(k=1, op="U", seq=3, v=7), Row(k=1, op="U", seq=3, v=9)],
        "k long, op string, seq long, v long")
    for _ in range(3):
        got = {r.k: r.v for r in apply_cdc(snap, ch, "k").collect()}
        assert got == {1: 9}


def test_triangle_count_hub_skew_graph(spark):
    """Star hub (degree 100) + one closing edge: exactly one triangle,
    counted once per member.  With degree-(Suri-Vassilvitskii)
    orientation the hub generates ~zero wedges — the curse-of-the-
    last-reducer shape this operator must survive at scale."""
    from dask_ms_spark.operators.graph import triangle_count

    edges = [Row(id_a=0, id_b=i) for i in range(1, 101)]
    edges.append(Row(id_a=1, id_b=2))
    out = {r.id: r for r in triangle_count(
        spark.createDataFrame(edges)).collect()}
    assert out[0].n_triangles == 1 and out[0].degree == 100
    assert out[1].n_triangles == 1 and out[2].n_triangles == 1
    assert all(out[i].n_triangles == 0 for i in range(3, 101))


# ------------------------------------------------------ count-min

def test_cms_never_undercounts_and_merge_equals_whole(spark):
    """CMS one-sided error: est >= exact for every item; merging the
    sketches of two halves equals the sketch of the whole (cell-wise
    identical), so estimates agree too."""
    from dask_ms_spark.llm.sketches import (cms_estimate, cms_merge,
                                            cms_sketch)

    rows = [Row(tok=f"t{i % 37}") for i in range(2000)]
    df = spark.createDataFrame(rows)
    exact = {r.tok: r.n for r in df.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    items = df.select("tok").distinct()

    sk = cms_sketch(df, "tok", width=256, depth=4)
    est = {r.tok: r.cms_est for r in
           cms_estimate(sk, items, "tok", width=256, depth=4)
           .collect()}
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    # 37 distinct over 256*4 cells: collisions unlikely -> mostly exact
    assert sum(est[t] == exact[t] for t in exact) >= 30

    half_a = spark.createDataFrame(rows[:1000])
    half_b = spark.createDataFrame(rows[1000:])
    merged = cms_merge(cms_sketch(half_a, "tok", width=256, depth=4),
                       cms_sketch(half_b, "tok", width=256, depth=4))
    whole = {(r.d, r.bucket): r.cnt for r in sk.collect()}
    got = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    assert got == whole


def test_cms_weighted_counts(spark):
    from dask_ms_spark.llm.sketches import cms_estimate, cms_sketch

    df = spark.createDataFrame([Row(tok="a", w=5), Row(tok="a", w=2),
                                Row(tok="b", w=7)])
    sk = cms_sketch(df, "tok", width=64, depth=3, weight_col="w")
    est = {r.tok: r.cms_est for r in cms_estimate(
        sk, df.select("tok").distinct(), "tok", width=64, depth=3)
        .collect()}
    assert est["a"] >= 7 and est["b"] >= 7


def test_kmv_state_merge_equals_whole_and_estimates_agree(spark):
    """KMV state: merging half-corpus states == whole-corpus state
    row-for-row, and the state estimator equals kmv_distinct's on the
    same data (maintained-vs-one-shot parity)."""
    from dask_ms_spark.llm.sketches import (kmv_distinct,
                                            kmv_estimate_state,
                                            kmv_merge_states, kmv_state)

    rows = [Row(v=f"item{i % 400}") for i in range(3000)]
    df = spark.createDataFrame(rows)
    k = 64
    whole = sorted(r.h for r in kmv_state(df, "v", k=k).collect())
    merged = sorted(r.h for r in kmv_merge_states(
        kmv_state(spark.createDataFrame(rows[:1500]), "v", k=k),
        kmv_state(spark.createDataFrame(rows[1500:]), "v", k=k),
        k=k).collect())
    assert merged == whole and len(whole) == k

    est_state = kmv_estimate_state(
        kmv_state(df, "v", k=k), k=k).collect()[0]
    est_direct = kmv_distinct(df, "v", k=k).collect()[0]
    assert est_state.est_distinct == est_direct.est_distinct
    assert est_state.n_kept == est_direct.n_kept


def test_backfill_concurrent_matches_sequential(spark, tmp_path):
    """max_concurrent > 1 changes throughput, not semantics: same
    committed partitions and values as the sequential run; failures
    stop submission without corrupting committed work; a follow-up
    run completes only what's missing."""
    from dask_ms_spark.operators.backfill import (backfill,
                                                  read_backfill)

    parts = [f"d{i}" for i in range(8)]

    def run(s, p):
        if p == "d5":
            raise RuntimeError("boom")
        return s.range(10).selectExpr(f"'{p}' AS p2", "id")

    store = str(tmp_path / "bfc")
    res = dict(backfill(spark, parts, run, store, max_failures=0,
                        max_concurrent=4))
    assert res["d5"].startswith("failed")
    done_now = {p for p, s in res.items() if s == "done"}
    assert done_now and "d5" not in done_now

    def run_ok(s, p):
        return s.range(10).selectExpr(f"'{p}' AS p2", "id")

    res2 = dict(backfill(spark, parts, run_ok, store,
                         max_concurrent=4))
    assert all(res2[p] == "skipped" for p in done_now)
    assert res2["d5"] == "done"
    got = read_backfill(spark, store)
    assert got.count() == 8 * 10
    assert got.select("p2").distinct().count() == 8


@pytest.mark.parametrize("max_concurrent", [1, 4])
def test_backfill_jobs_inherit_callers_job_group(spark, tmp_path,
                                                 max_concurrent):
    """Every partition job runs under the caller's job group,
    description and job tags, whichever pool thread runs it, so
    job-group metrics and cancellation cover the whole backfill; the
    session-less wrapping warning is not raised."""
    import warnings

    from dask_ms_spark.operators.backfill import backfill

    seen = []

    def run(s, p):
        sc = s.sparkContext
        seen.append((sc.getLocalProperty("spark.jobGroup.id"),
                     sc.getLocalProperty("spark.job.description"),
                     "bf-tag" in s.getTags()))
        return s.range(2).selectExpr(f"'{p}' AS p2", "id")

    sc = spark.sparkContext
    sc.setJobGroup("bf-caller", "backfill under test")
    spark.addTag("bf-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            res = dict(backfill(spark, [f"d{i}" for i in range(6)], run,
                                str(tmp_path / "bfg"),
                                max_concurrent=max_concurrent))
        jobs = sc.statusTracker().getJobIdsForGroup("bf-caller")
    finally:
        spark.removeTag("bf-tag")
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(res.values()) == {"done"}
    assert seen == [("bf-caller", "backfill under test", True)] * 6
    assert len(jobs) >= 6   # one write job per partition at least
    assert not [w for w in caught
                if "Spark session is not provided" in str(w.message)]


def test_fragment_reference_name_aliases(spark, tmp_path):
    """Reference users call xds_to_table_fragment /
    xds_from_table_fragment (daskms/experimental/fragments) — the
    package-level aliases round-trip a fragment chain."""
    import dask_ms_spark as d
    from dask_ms_spark.types import ROWID

    root = str(tmp_path / "root")
    spark.range(20).selectExpr(f"id AS {ROWID}", "id * 1.0 AS flux") \
        .write.parquet(root)
    frag = str(tmp_path / "frag")
    d.xds_to_table_fragment(
        spark.range(5).selectExpr(f"id AS {ROWID}",
                                  "id * 100.0 AS flux"),
        frag, parent=root)
    (ds,) = d.xds_from_table_fragment(spark, frag)
    vals = {r[ROWID]: r.flux for r in ds.df.collect()}
    assert len(vals) == 20
    assert vals[3] == 300.0 and vals[15] == 15.0
    assert d.get_ancestry(frag) == [root, frag]


def test_snapshot_diff_release_notes(spark, tmp_path):
    """snapshot_diff: per-table added/removed/changed/unchanged
    counts between two committed versions; text tables compare by
    normalised content digest, others by full-row hash; a table new
    in v2 reports all-added."""
    import pytest

    from dask_ms_spark.operators.snapshot import (publish_snapshot,
                                                  snapshot_diff)

    store = str(tmp_path / "store")
    docs1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "gamma text")],
        "doc_id long, text string")
    meta1 = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                  "doc_id long, n long")
    publish_snapshot({"documents": docs1, "meta": meta1}, store)

    docs2 = spark.createDataFrame(
        [(1, "ALPHA   TEXT"),        # same after normalisation
         (2, "beta text v2"),        # changed
         (4, "delta text")],         # added (3 removed)
        "doc_id long, text string")
    meta2 = spark.createDataFrame([(1, 10), (2, 21), (4, 40)],
                                  "doc_id long, n long")
    embs2 = spark.createDataFrame([(1, 5)], "vec_id long, d long")
    publish_snapshot({"documents": docs2, "meta": meta2,
                      "embeddings": embs2}, store)

    out = snapshot_diff(spark, store, 0, 1,
                        id_cols={"documents": "doc_id",
                                 "meta": "doc_id",
                                 "embeddings": "vec_id"},
                        text_cols={"documents": "text"})
    got = {(r.table, r.status): r.n for r in out.collect()}
    assert got[("documents", "unchanged")] == 1   # normalised match
    assert got[("documents", "changed")] == 1
    assert got[("documents", "added")] == 1
    assert got[("documents", "removed")] == 1
    assert got[("meta", "unchanged")] == 1
    assert got[("meta", "changed")] == 1
    assert got[("embeddings", "added")] == 1
    with pytest.raises(ValueError, match="no named table"):
        snapshot_diff(spark, store, 0, 1, id_cols={"nope": "x"})


def test_kmv_and_cms_ignore_null_values(spark):
    """NULL values are not set members: a NULL hashes to a NULL row
    that sorts FIRST, so before the r9 fix one NULL displaced a real
    hash from every full sketch and inflated n_kept on partial ones.
    CMS likewise must not carry dead NULL-bucket cells."""
    from dask_ms_spark.llm.sketches import (cms_estimate, cms_sketch,
                                            kmv_distinct, kmv_state)

    vals = [(f"v{i}",) for i in range(10)] + [(None,), (None,)]
    df = spark.createDataFrame(vals, "x string")
    clean = spark.createDataFrame(vals[:10], "x string")

    got = kmv_distinct(df, "x", k=4).collect()[0]
    want = kmv_distinct(clean, "x", k=4).collect()[0]
    assert (got.n_kept, got.est_distinct, got.u_k) == \
        (want.n_kept, want.est_distinct, want.u_k)

    # below-fill sketch is exact and must not count the NULL
    small = spark.createDataFrame(
        [("a",), ("b",), (None,)], "x string")
    row = kmv_distinct(small, "x", k=64).collect()[0]
    assert (row.n_kept, row.est_distinct) == (2, 2)
    assert kmv_state(small, "x", k=64).count() == 2

    sk = cms_sketch(df, "x", width=64, depth=2)
    assert sk.where("bucket is null").count() == 0
    probes = spark.createDataFrame([("v1",), ("zz",)], "x string")
    est = {r.x: r.cms_est
           for r in cms_estimate(sk, probes, "x",
                                 width=64, depth=2).collect()}
    assert est["v1"] >= 1 and est["zz"] >= 0


def test_backfill_rejects_sanitised_key_collision(spark, tmp_path):
    """Two labels sanitising to the same key ("a/b" vs "a_b") must be
    rejected up front: the second would silently skip as committed."""
    import pytest

    from dask_ms_spark.operators.backfill import backfill

    def run(s, part):
        return s.range(3)

    with pytest.raises(ValueError, match="sanitise"):
        backfill(spark, ["a/b", "a_b"], run, str(tmp_path / "store"))
