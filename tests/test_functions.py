"""Function-library tests: complex arithmetic, vector math, text,
expression DSL.  Oracles are plain Python/numpy on collected rows."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_ms_spark.expressions import apply_expr, data_column_expr
from dask_ms_spark.functions import complexf
from dask_ms_spark.functions.text import (char_ngrams, fingerprint, langid,
                                          portable_hash64, quality_features,
                                          token_count, tokens, word_shingles)
from dask_ms_spark.functions.vector import (cosine, dot, l2_distance, norm,
                                            normalize)


@pytest.fixture(scope="module")
def cdf(spark):
    # complex arrays [re0, im0, re1, im1] — two complex elements/row
    rows = [Row(id=1, a=[1.0, 2.0, 3.0, -1.0], b=[0.5, -0.5, 2.0, 2.0]),
            Row(id=2, a=[0.0, 1.0, -2.0, 0.0], b=[1.0, 0.0, 0.0, 1.0])]
    return spark.createDataFrame(rows)


def _cplx(arr):
    return [complex(arr[i], arr[i + 1]) for i in range(0, len(arr), 2)]


def test_complex_mul_matches_python(cdf):
    out = cdf.select("a", "b", complexf.c_mul(F.col("a"), F.col("b"))
                     .alias("p")).collect()
    for r in out:
        expect = [x * y for x, y in zip(_cplx(r.a), _cplx(r.b))]
        got = _cplx(r.p)
        assert got == pytest.approx(expect)


def test_complex_conj_abs_sum(cdf):
    out = cdf.select(
        "a",
        complexf.c_conj(F.col("a")).alias("cj"),
        complexf.c_abs(F.col("a")).alias("mag"),
        complexf.c_sum(F.col("a")).alias("s")).collect()
    for r in out:
        assert _cplx(r.cj) == [z.conjugate() for z in _cplx(r.a)]
        assert r.mag == pytest.approx([abs(z) for z in _cplx(r.a)])
        total = sum(_cplx(r.a))
        assert complex(r.s[0], r.s[1]) == pytest.approx(total)


def test_complex_make_real_imag(cdf):
    out = cdf.select(
        complexf.c_make(complexf.c_real(F.col("a")),
                        complexf.c_imag(F.col("a"))).alias("rt"),
        "a").collect()
    for r in out:
        assert r.rt == pytest.approx(r.a)


def test_vector_math(spark):
    df = spark.createDataFrame(
        [Row(a=[3.0, 4.0], b=[4.0, 3.0]), Row(a=[0.0, 0.0], b=[1.0, 1.0])])
    r = df.select(dot(F.col("a"), F.col("b")).alias("d"),
                  norm(F.col("a")).alias("na"),
                  cosine(F.col("a"), F.col("b")).alias("c"),
                  l2_distance(F.col("a"), F.col("b")).alias("l2"),
                  normalize(F.col("a")).alias("u")).collect()
    assert r[0].d == pytest.approx(24.0)
    assert r[0].na == pytest.approx(5.0)
    assert r[0].c == pytest.approx(24.0 / 25.0)
    assert r[0].l2 == pytest.approx(math.sqrt(2.0))
    assert r[0].u == pytest.approx([0.6, 0.8])
    # zero vector: cosine defined 0, normalize passes through
    assert r[1].c == 0.0
    assert r[1].u == [0.0, 0.0]


def test_tokens_and_ngrams(spark):
    df = spark.createDataFrame(
        [Row(t="the cat  sat"), Row(t=""), Row(t="ab")])
    out = df.select(
        "t", tokens(F.col("t")).alias("tk"),
        token_count(F.col("t")).alias("n"),
        char_ngrams(F.col("t"), 3).alias("g3"),
        word_shingles(F.col("t"), 2).alias("w2")).collect()
    by_t = {r.t: r for r in out}
    assert by_t["the cat  sat"].tk == ["the", "cat", "sat"]
    assert by_t["the cat  sat"].n == 3
    assert by_t[""].tk == [] and by_t[""].n == 0
    # shorter than n -> whole string is the only gram
    assert by_t["ab"].g3 == ["ab"]
    assert sorted(by_t["the cat  sat"].w2) == ["cat sat", "the cat"]


def test_tokens_trim_all_whitespace_like_str_split(spark):
    """tokens() equals ``str.split()`` when text starts or ends with a
    tab, newline or carriage return, and on whitespace-only text: no
    empty edge token is counted as a word (quality_filter too)."""
    from dask_ms_spark.llm.corpus import quality_filter

    texts = ["\tfoo  bar\n", "\n\nlead", "trail \t\r\n", " \t \n ",
             "\t", "a\tb\nc d", "plain words here", ""]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r.doc_id: (r.tk, r.n) for r in df.select(
        "doc_id", tokens(F.col("text")).alias("tk"),
        token_count(F.col("text")).alias("n")).collect()}
    assert got == {i: (t.split(), len(t.split()))
                   for i, t in enumerate(texts)}
    words = {r.doc_id: r.n_words for r in quality_filter(df).collect()}
    assert words == {i: len(t.lower().split())
                     for i, t in enumerate(texts)}


def test_portable_hash64_matches_duckdb(spark):
    import duckdb

    vals = ["hello", "wörld", ""]
    df = spark.createDataFrame([Row(v=v) for v in vals])
    got = {r.v: r.h for r in
           df.select("v", portable_hash64(F.col("v")).alias("h")).collect()}
    for v in vals:
        [(want,)] = duckdb.sql(
            "SELECT cast(('0x' || substring(md5(?), 1, 15)) as bigint)",
            params=[v]).fetchall()
        assert got[v] == want


def test_quality_features(spark):
    df = spark.createDataFrame([Row(t="Ab, c1!")])
    feats = quality_features(F.col("t"))
    r = df.select(*[v.alias(k) for k, v in feats.items()]).first()
    assert r.n_chars == 7.0
    assert r.n_tokens == 2.0
    assert r.punct_ratio == pytest.approx(2 / 7)   # ',' and '!'
    assert r.digit_ratio == pytest.approx(1 / 7)
    assert r.upper_ratio == pytest.approx(1 / 7)


def test_langid(spark):
    df = spark.createDataFrame([
        Row(t="the cat and the dog is in that house with them"),
        Row(t="le chat est dans la maison pour les amis"),
        Row(t="der hund ist nicht mit der katze und das haus"),
        Row(t="xyzzy plugh")])
    got = [r.p for r in df.select(langid(F.col("t")).alias("p")).collect()]
    assert got == ["en", "fr", "de", "en"]  # last falls back to default


def test_fingerprint_windowed(spark):
    df = spark.createDataFrame([Row(t="abcdefghijklmnop"), Row(t="ab")])
    out = df.select("t", fingerprint(F.col("t"), k=4, window=3)
                    .alias("fp")).collect()
    by_t = {r.t: r.fp for r in out}
    long_fp = by_t["abcdefghijklmnop"]
    assert long_fp == sorted(set(long_fp))  # sorted distinct
    assert 0 < len(long_fp) <= 13
    assert len(by_t["ab"]) == 1  # shorter than k -> single hash


def test_expression_dsl_scalar(lineitem):
    col = data_column_expr(
        lineitem, "l_extendedprice * (1 - l_discount) - l_tax")
    rows = lineitem.select("l_extendedprice", "l_discount", "l_tax",
                           col.alias("v")).limit(50).collect()
    for r in rows:
        expect = float(r.l_extendedprice) * (1 - r.l_discount) - r.l_tax
        assert r.v == pytest.approx(expect)


def test_expression_dsl_arrays(spark):
    df = spark.createDataFrame(
        [Row(A=[1.0, 2.0], B=[3.0, 5.0], s=2.0)])
    out = apply_expr(df, X="A + B", Y="A * 3", Z="-A", W="B // A")
    r = out.first()
    assert r.X == [4.0, 7.0]
    assert r.Y == [3.0, 6.0]
    assert r.Z == [-1.0, -2.0]
    assert r.W == [3.0, 2.0]


def test_expression_dsl_errors(lineitem):
    with pytest.raises(ValueError):
        data_column_expr(lineitem, "no_such_column + 1")
    with pytest.raises(ValueError):
        data_column_expr(lineitem, "l_quantity ** 2")


def test_bpe_token_count_matches_python_re(spark):
    import re

    from dask_ms_spark.functions.text import (BPE_TOKEN_PATTERN,
                                              bpe_token_count)

    texts = ["Hello, world! It's 2026.",
             "def f(x): return x+1  # comment",
             "", "   ", "élan café",  # non-ASCII falls in the punct run
             "don't can't won't I'll we're you've"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {r.i: r.n for r in df.select(
        "i", bpe_token_count(F.col("text")).alias("n")).collect()}
    pat = re.compile(BPE_TOKEN_PATTERN)
    for i, t in enumerate(texts):
        assert got[i] == len(pat.findall(t)), (t, got[i], pat.findall(t))


def test_stopword_ratio(spark):
    from dask_ms_spark.functions.text import stopword_ratio

    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "buy cheap pills now"), (3, "")],
        "i long, text string")
    got = {r.i: r.r for r in df.select(
        "i", stopword_ratio(F.col("text")).alias("r")).collect()}
    assert abs(got[1] - 3 / 5) < 1e-9   # the, and, the
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_grouped_ols_recovers_exact_line(spark):
    from dask_ms_spark.functions.stats import grouped_ols

    rows = [(g, float(x), 2.0 * x + 3.0 + g) for g in (1, 2)
            for x in range(20)]
    df = spark.createDataFrame(rows, "g long, x double, y double")
    for method in ("native", "kernel"):
        got = {r.g: r for r in
               grouped_ols(df, "g", "x", "y", method=method).collect()}
        for g in (1, 2):
            assert got[g].n_events == 20
            assert abs(got[g].slope - 2.0) < 1e-9
            # x is re-based to the group min (0), so intercept = 3+g
            assert abs(got[g].intercept - (3.0 + g)) < 1e-9


def test_grouped_ols_native_matches_kernel(spark):
    """The native regr_slope spelling and the Arrow kernel are the
    same computation — including x_scale, timestamp x, degenerate
    (single-point / constant-x) groups, and noisy data."""
    import datetime
    import random

    from dask_ms_spark.functions.stats import grouped_ols

    rng = random.Random(7)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for g in range(30):
        n = rng.randint(1, 40)
        for i in range(n):
            ts = base + datetime.timedelta(
                seconds=rng.randint(0, 3_000_000) if n > 1 else 0)
            rows.append((g, ts, rng.gauss(0.3 * i, 2.0)))
    # constant-x group: slope/intercept must be NULL in both paths
    rows += [(99, base, 1.0), (99, base, 2.0)]
    df = spark.createDataFrame(rows, "g long, ts timestamp, y double")
    nat = {r.g: r for r in
           grouped_ols(df, "g", "ts", "y", x_scale=3600.0,
                       method="native").collect()}
    ker = {r.g: r for r in
           grouped_ols(df, "g", "ts", "y", x_scale=3600.0,
                       method="kernel").collect()}
    assert set(nat) == set(ker)
    for g, kr in ker.items():
        nr = nat[g]
        assert nr.n_events == kr.n_events
        if kr.slope is None:
            assert nr.slope is None and nr.intercept is None
        else:
            assert abs(nr.slope - kr.slope) < 1e-6 * max(
                1.0, abs(kr.slope))
            assert abs(nr.intercept - kr.intercept) < 1e-6 * max(
                1.0, abs(kr.intercept))


def test_profile_table_nulls_and_empty(spark):
    """Pins the grouping-sets exact path's edge semantics (r12
    rewrite): n_nulls counts the NULL group's rows (0, not NULL, when
    no nulls exist), n_distinct excludes NULL, min/max ignore NULL,
    and an empty frame still yields one row per column with NULL
    stats and n_distinct 0 — exactly what the old per-row-flag wide
    aggregate produced."""
    from dask_ms_spark.functions.stats import profile_table

    df = spark.createDataFrame(
        [(1, "b"), (2, None), (None, "a"), (None, "a")],
        "k int, s string")
    got = {r.col_name: r for r in profile_table(df, ["k", "s"]).collect()}
    assert (got["k"].n_nulls, got["k"].n_distinct,
            got["k"].min_s, got["k"].max_s) == (2, 2, "1", "2")
    assert (got["s"].n_nulls, got["s"].n_distinct,
            got["s"].min_s, got["s"].max_s) == (1, 2, "a", "b")
    empty = {r.col_name: r for r in
             profile_table(df.where("k > 99"), ["k", "s"]).collect()}
    assert set(empty) == {"k", "s"}
    for c in ("k", "s"):
        assert empty[c].n_nulls is None  # SUM over zero rows
        assert empty[c].n_distinct == 0
        assert empty[c].min_s is None and empty[c].max_s is None


def test_profile_table_rejects_no_columns(spark):
    """A frame with no columns has nothing to profile: both paths
    raise instead of returning None."""
    from dask_ms_spark.functions.stats import profile_table

    bare = spark.range(3).select()
    for exact in (True, False):
        with pytest.raises(ValueError, match="no columns to profile"):
            profile_table(bare, exact_ndv=exact)


def test_profile_table_past_grouping_set_limit(spark):
    """r12 ADVICE repro: Catalyst rejects more than 64 grouping sets
    (GROUPING_SIZE_LIMIT_EXCEEDED), and the default invocation
    (columns=None, exact_ndv=True) hits it on any >64-column frame.
    The exact path now batches columns <=64 per pass and unions the
    long-format outputs — per-column stats are independent, so the
    values must equal a per-column single-batch run."""
    from dask_ms_spark.functions.stats import profile_table

    n_cols = 65
    df = spark.range(20).selectExpr(
        *[f"cast(id % {i + 2} as int) as c{i}" for i in range(n_cols)])
    got = {r.col_name: r for r in profile_table(df).collect()}
    assert len(got) == n_cols
    for i in range(n_cols):
        r = got[f"c{i}"]
        assert r.n_nulls == 0
        assert r.n_distinct == min(20, i + 2)
        assert r.min_s == "0"


def test_profile_table_exact_and_sketch(orders):
    from dask_ms_spark.functions.stats import profile_table

    cols = ["o_orderkey", "o_orderstatus"]
    exact = {r.col_name: r for r in
             profile_table(orders, cols).collect()}
    n = orders.count()
    n_keys = orders.select("o_orderkey").distinct().count()
    assert exact["o_orderkey"].n_nulls == 0
    assert exact["o_orderkey"].n_distinct == n_keys == n
    assert set(exact) == set(cols)
    # the scale path: HLL ndv near the exact anchor (default rsd 5%,
    # so allow 2 sigma)
    approx = {r.col_name: r for r in
              profile_table(orders, cols, exact_ndv=False).collect()}
    for c in cols:
        rel = abs(approx[c].n_distinct - exact[c].n_distinct) / \
            max(1, exact[c].n_distinct)
        assert rel < 0.10


def test_percentile_approx_tracks_exact(lineitem):
    """The documented 100 TB swap for q_quantiles: the QuantileSummaries
    sketch must stay within 1% relative of the exact sort-based form."""
    from pyspark.sql import functions as F

    row = lineitem.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.percentile_approx("l_extendedprice", F.lit(0.5),
                            F.lit(10_000)).alias("approx")).first()
    assert abs(row.approx - row.exact) / row.exact < 0.01


def test_bigram_repetition_hand_computed(spark):
    from dask_ms_spark.functions.text import bigram_repetition

    docs = spark.createDataFrame(
        [(1, "a b a b a b"),       # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
         (2, "w x y z"),           # 3 distinct of 3
         (3, "solo")],             # no bigram -> dropped
        "doc_id long, text string")
    rows = {r.doc_id: r for r in bigram_repetition(docs).collect()}
    assert 3 not in rows
    r1 = rows[1]
    assert (r1.n_grams, r1.n_distinct) == (5, 2)
    assert r1.dup_ratio == round(1 - 2 / 5, 6)
    assert r1.max_gram_frac == round(3 / 5, 6)
    r2 = rows[2]
    assert (r2.n_grams, r2.n_distinct) == (3, 3)
    assert r2.dup_ratio == 0.0


def test_masked_bin_average_matches_numpy(spark):
    """Channel averaging vs a numpy oracle, incl. an all-masked bin
    (NULL) and a trailing partial bin."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.functions.vector import (masked_bin_average,
                                                weighted_bin_average)

    rng = [float(x) for x in range(10)]          # 10 elems, bin 4
    mask = [True, False, True, True,             # bin0: avg(0,2,3)
            False, False, False, False,          # bin1: all masked
            True, True]                          # bin2 (partial)
    df = spark.createDataFrame(
        [Row(vec=rng, m=mask)],
        "vec array<double>, m array<boolean>")
    out = df.select(masked_bin_average(F.col("vec"), F.col("m"), 4)
                    .alias("b")).collect()[0].b
    assert out[0] == (0.0 + 2.0 + 3.0) / 3
    assert out[1] is None
    assert out[2] == 8.5

    w = [1.0, 0.0, 1.0, 2.0, 0.0, 0.0, 0.0, 0.0, 3.0, 1.0]
    got = df.select(weighted_bin_average(
        F.col("vec"), F.array(*[F.lit(x) for x in w]), 4)
        .alias("b")).collect()[0].b
    assert got[0] == (0.0 * 1 + 2.0 * 1 + 3.0 * 2) / 4
    assert got[1] is None
    assert got[2] == (8.0 * 3 + 9.0 * 1) / 4

    # stays JVM-side: no Python exchange in the plan
    plan = df.select(masked_bin_average(F.col("vec"), F.col("m"), 4)
                     .alias("b"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_complex_masked_reductions(spark):
    """Interleaved complex columns ride the real tensor reductions:
    c_expand_mask aligns flags to planes for CROSS-ROW averaging
    (tensor_row_average), and plane-wise masked_bin_average +
    c_make is the within-row channel-averaging spelling."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import (c_expand_mask,
                                                  c_imag, c_make,
                                                  c_real)
    from dask_ms_spark.functions.vector import masked_bin_average
    from dask_ms_spark.operators.grouping import tensor_row_average

    # samples per row: 2 complex values; row 2's first sample flagged
    df = spark.createDataFrame(
        [Row(bl=1, re=[1.0, 3.0], im=[2.0, 4.0], m=[True, True]),
         Row(bl=1, re=[9.0, 5.0], im=[9.0, 6.0], m=[False, True])],
        "bl long, re array<double>, im array<double>, "
        "m array<boolean>")
    d = df.select("bl", c_make(F.col("re"), F.col("im")).alias("z"),
                  c_expand_mask(F.col("m")).alias("zm"))
    assert d.collect()[0].zm == [True, True, True, True]

    # cross-row complex mean: position-aligned, expanded mask is exact
    out = tensor_row_average(d, ["bl"], "z", "zm").collect()[0].z_mean
    # sample0: only row1 unflagged -> (1+2j); sample1: mean of
    # (3+4j),(5+6j) -> (4+5j); interleaved
    assert out == [1.0, 2.0, 4.0, 5.0]

    # within-row channel average: plane-wise bins re-interleaved
    one = df.where("bl = 1").limit(1).select(
        c_make(masked_bin_average(F.col("re"), F.col("m"), 2),
               masked_bin_average(F.col("im"), F.col("m"), 2))
        .alias("zb")).collect()[0].zb
    assert one == [2.0, 3.0]   # mean of (1+2j),(3+4j)


def test_phase_rotate_matches_numpy(spark):
    """Visibility rephasing vs a numpy oracle: exact geometric-delay
    phasor per channel; amplitude preserved."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import (LIGHT_SPEED, c_abs,
                                                  phase_rotate)

    freqs = [1.4e9, 1.5e9, 1.6e9]
    l, m = 0.01, -0.02
    rows = [Row(u=120.5, v=-340.25, w=12.75,
                z=[1.0, 2.0, -3.0, 0.5, 0.25, -1.5]),
            Row(u=-5000.0, v=2500.0, w=-80.0,
                z=[0.0, 1.0, 1.0, 0.0, -2.0, 2.0])]
    df = spark.createDataFrame(
        rows, "u double, v double, w double, z array<double>")
    out = df.select(
        phase_rotate(F.col("z"), F.col("u"), F.col("v"), F.col("w"),
                     l, m, freqs).alias("rot"),
        c_abs(F.col("z")).alias("amp_in")).collect()

    n = math.sqrt(1 - l * l - m * m)
    for r, src in zip(out, rows):
        z = np.array(src.z).reshape(-1, 2)
        zc = z[:, 0] + 1j * z[:, 1]
        base = -2 * math.pi * (src.u * l + src.v * m
                               + src.w * (n - 1)) / LIGHT_SPEED
        ph = np.exp(1j * base * np.array(freqs))
        want = zc * ph
        got = np.array(r.rot).reshape(-1, 2)
        assert np.allclose(got[:, 0], want.real, atol=1e-9)
        assert np.allclose(got[:, 1], want.imag, atol=1e-9)
        # amplitude preservation
        assert np.allclose(np.abs(want), r.amp_in, atol=1e-9)

    # stays in codegen: no Python exchange
    plan = df.select(phase_rotate(
        F.col("z"), F.col("u"), F.col("v"), F.col("w"), l, m, freqs)
        .alias("rot"))._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_apply_gains_matches_numpy_and_broadcasts(spark):
    """applycal: G_p * V * conj(G_q) per channel vs a numpy oracle;
    both gain attachments must be broadcast joins (the fact table
    never shuffles)."""
    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import apply_gains
    from dask_ms_spark.plans import plan_str

    gains = {0: [1.0, 0.0, 0.5, 0.5], 1: [0.0, 1.0, 2.0, 0.0],
             2: [1.0, -1.0, 0.0, -0.5]}
    vis_rows = [Row(ANTENNA1=0, ANTENNA2=1,
                    DATA=[1.0, 2.0, 3.0, -1.0]),
                Row(ANTENNA1=1, ANTENNA2=2,
                    DATA=[0.5, 0.0, -2.0, 1.0])]
    vis = spark.createDataFrame(
        vis_rows, "ANTENNA1 long, ANTENNA2 long, DATA array<double>")
    gdf = spark.createDataFrame(
        [Row(antenna=a, gain=g) for a, g in gains.items()],
        "antenna long, gain array<double>")

    out = apply_gains(vis, gdf)
    for r in out.collect():
        v = np.array(r.DATA).reshape(-1, 2)
        v = v[:, 0] + 1j * v[:, 1]
        gp = np.array(gains[r.ANTENNA1]).reshape(-1, 2)
        gq = np.array(gains[r.ANTENNA2]).reshape(-1, 2)
        want = (gp[:, 0] + 1j * gp[:, 1]) * v \
            * np.conj(gq[:, 0] + 1j * gq[:, 1])
        got = np.array(r.DATA_corrected).reshape(-1, 2)
        assert np.allclose(got[:, 0] + 1j * got[:, 1], want)

    p = plan_str(out)   # AQE prints initial+final plans: count >= 2
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p

    # correct mode inverts corrupt mode exactly: corrupt -> correct
    # round-trips the original DATA (the applycal direction)
    back = apply_gains(
        out.select("ANTENNA1", "ANTENNA2",
                   F.col("DATA_corrected").alias("DATA"),
                   F.col("DATA").alias("ORIG")),
        gdf, mode="correct")
    for r in back.collect():
        assert np.allclose(r.DATA_corrected, r.ORIG)
    import pytest

    with pytest.raises(ValueError, match="mode"):
        apply_gains(vis, gdf, mode="invert")
    # zero-magnitude gain product raises at execution
    zg = spark.createDataFrame(
        [Row(antenna=a, gain=[0.0, 0.0, 1.0, 0.0])
         for a in (0, 1, 2)], "antenna long, gain array<double>")
    with pytest.raises(Exception, match="zero-magnitude"):
        apply_gains(vis, zg, mode="correct").collect()


def test_log_log_fit_matches_numpy(spark):
    """Spectral-index fit vs numpy.polyfit on log-log axes; zero/
    negative channels excluded; degenerate rows yield NULL."""
    import math

    import numpy as np
    from pyspark.sql import Row

    from dask_ms_spark.functions.vector import log_log_fit

    xs = [1.0e9, 1.2e9, 1.5e9, 2.0e9, 3.0e9]
    alpha_true, s0 = -0.7, 5.0
    flux = [s0 * (x / 1e9) ** alpha_true for x in xs]
    flux_holes = list(flux)
    flux_holes[2] = 0.0                      # flagged channel
    rows = [Row(v=flux), Row(v=flux_holes), Row(v=[1.0, 0.0, 0.0,
                                                   0.0, 0.0])]
    df = spark.createDataFrame(rows, "v array<double>")
    out = df.select(log_log_fit(F.col("v"), xs).alias("f")).collect()

    got = out[0].f
    lx = np.log(xs)
    ly = np.log(flux)
    slope, inter = np.polyfit(lx, ly, 1)
    assert got.n_used == 5
    assert abs(got.alpha - slope) < 1e-9
    assert abs(got.intercept - inter) < 1e-9
    assert abs(got.alpha - alpha_true) < 1e-9   # exact power law

    holes = out[1].f
    kx, ky = np.delete(lx, 2), np.log(np.delete(np.array(flux), 2))
    s2, i2 = np.polyfit(kx, ky, 1)
    assert holes.n_used == 4 and abs(holes.alpha - s2) < 1e-9

    degen = out[2].f                         # one usable point
    assert degen.n_used == 1 and degen.alpha is None


def test_phase_rotate_and_gains_width_guards(spark):
    """Channel-count mismatches fail loudly instead of emitting
    silent NULL samples."""
    import pytest
    from pyspark.sql import Row

    from dask_ms_spark.functions.complexf import (apply_gains,
                                                  phase_rotate)

    df = spark.createDataFrame(
        [Row(u=1.0, v=1.0, w=1.0, z=[1.0, 2.0])],
        "u double, v double, w double, z array<double>")
    with pytest.raises(Exception, match="channels|frequencies"):
        df.select(phase_rotate(F.col("z"), F.col("u"), F.col("v"),
                               F.col("w"), 0.01, 0.01,
                               [1e9, 2e9])).collect()

    vis = spark.createDataFrame(
        [Row(ANTENNA1=0, ANTENNA2=1, DATA=[1.0, 2.0, 3.0, 4.0])],
        "ANTENNA1 long, ANTENNA2 long, DATA array<double>")
    gains = spark.createDataFrame(
        [Row(antenna=0, gain=[1.0, 0.0]),
         Row(antenna=1, gain=[1.0, 0.0])],
        "antenna long, gain array<double>")
    with pytest.raises(Exception, match="channel count"):
        apply_gains(vis, gains).collect()


def test_channel_regrid_matches_numpy(spark):
    """Fractional-shift linear regrid == numpy interp on the interior;
    out-of-range output channels are NULL; integer shift is an exact
    slice."""
    import numpy as np
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.vector import channel_regrid

    rng = np.random.RandomState(2)
    vec = [float(x) for x in rng.randn(16)]
    rows = [Row(i=0, shift=0.0), Row(i=1, shift=2.0),
            Row(i=2, shift=0.25), Row(i=3, shift=-1.5),
            Row(i=4, shift=14.5)]
    df = spark.createDataFrame(rows).select(
        "i", "shift", F.lit(vec).alias("v"))
    out = {r.i: r.o for r in df.select(
        "i", channel_regrid(F.col("v"), F.col("shift"), 16)
        .alias("o")).collect()}
    assert out[0] == vec                       # identity
    assert out[1][:14] == vec[2:]              # integer shift
    assert out[1][14] is None and out[1][15] is None
    src = np.array(vec)
    for j in range(15):                        # fractional interior
        want = 0.75 * src[j] + 0.25 * src[j + 1]
        assert abs(out[2][j] - want) < 1e-12
    assert out[3][0] is None                   # before the grid
    assert abs(out[3][2] - (0.5 * src[0] + 0.5 * src[1])) < 1e-12
    assert out[4][0] is not None and out[4][1] is None  # tail clamp


def test_spectral_moments_matches_numpy(spark):
    """Moments == numpy intensity-weighted stats; masked cells
    excluded; non-positive total flux yields NULL mom1/mom2."""
    import numpy as np
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.vector import spectral_moments

    v = [0.0, 1.0, 3.0, 2.0, 0.0, 1.0]
    m = [True, True, True, True, True, False]
    df = spark.createDataFrame([Row(x=1)])
    got = df.select(spectral_moments(
        F.lit(v), F.lit(m)).alias("s")).collect()[0].s
    vv = np.array(v[:5])
    idx = np.arange(5)
    mom0 = vv.sum()
    mom1 = (vv * idx).sum() / mom0
    mom2 = np.sqrt((vv * (idx - mom1) ** 2).sum() / mom0)
    assert abs(got.mom0 - mom0) < 1e-12
    assert abs(got.mom1 - mom1) < 1e-12
    assert abs(got.mom2 - mom2) < 1e-12

    zero = df.select(spectral_moments(
        F.lit([0.0, -1.0])).alias("s")).collect()[0].s
    assert zero.mom1 is None and zero.mom2 is None


def test_learn_bpe_merges_matches_python(spark):
    """BPE merge learning == a pure-python reference implementation
    (type-frequency pair counts, lexicographic tie-break, greedy
    leftmost-first rewrite)."""
    from collections import Counter

    from pyspark.sql import Row

    from dask_ms_spark.functions.text import learn_bpe_merges

    texts = ["low low low lower lowest",
             "new newer newest low news",
             "widow window widow"]
    df = spark.createDataFrame([Row(text=t) for t in texts])

    def python_bpe(texts, k):
        freq = Counter()
        for t in texts:
            for w in t.lower().split():
                freq[w] += 1
        vocab = {tuple(w): n for w, n in freq.items()}
        out = []
        for rank in range(k):
            pc = Counter()
            for toks, n in vocab.items():
                for i in range(len(toks) - 1):
                    pc[(toks[i], toks[i + 1])] += n
            if not pc:
                break
            (a, b), cnt = min(pc.items(),
                              key=lambda kv: (-kv[1], kv[0]))
            out.append((rank, a, b, cnt))
            merged = a + b
            newv = {}
            for toks, n in vocab.items():
                acc = []
                for x in toks:
                    if acc and acc[-1] == a and x == b:
                        acc[-1] = merged
                    else:
                        acc.append(x)
                newv[tuple(acc)] = newv.get(tuple(acc), 0) + n
            vocab = newv
        return out

    want = python_bpe(texts, 6)
    got = learn_bpe_merges(df, k=6)
    assert got == want
    # sanity: (o, w) rides low/lower/lowest/widow/window (count 9)
    assert got[0][1:3] == ("o", "w")


def test_apply_bpe_merges_roundtrip(spark):
    """Learn merges, apply them: every learned pair is actually
    merged in the tokenized output, and re-deriving pair counts from
    the tokenized corpus shows the merged symbols in use."""
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.text import (apply_bpe_merges,
                                              learn_bpe_merges)

    texts = ["low low low lower lowest",
             "new newer newest low news"]
    df = spark.createDataFrame([Row(text=t) for t in texts])
    merges = learn_bpe_merges(df, k=4)
    out = df.select(apply_bpe_merges(F.col("text"), merges)
                    .alias("toks")).collect()
    flat = [sym for r in out for word in r.toks for sym in word]
    merged_syms = {a + b for _, a, b, _c in merges}
    # every multi-char output symbol must be a learned merge result,
    # and at least one merge actually fired
    multi = {x for x in flat if len(x) > 1}
    assert multi and multi <= merged_syms
    # no adjacent pair in the output equals a learned merge (greedy
    # application leaves no un-merged occurrence of a learned pair
    # whose parts are both still single symbols)
    for r in out:
        for word in r.toks:
            for x, y in zip(word, word[1:]):
                assert (x, y) not in {(a, b) for _, a, b, _c in merges}
    # longest word reconstructs to its original characters
    joined = ["".join(w) for r in out for w in r.toks]
    assert "lowest" in joined or "low" in joined


def test_stokes_conversion_roundtrip(spark):
    """Stokes <-> correlations: known vectors (unpolarized, purely
    Q-polarized) map correctly in both bases, and
    corrs_from_stokes(stokes_from_corrs(v)) == v exactly for
    arbitrary dyadic inputs (the /2 then *2-via-sums chain is exact
    in binary floating point)."""
    import pytest
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.complexf import (corrs_from_stokes,
                                                  stokes_from_corrs)

    # unpolarized: XX = YY = 1, XY = YX = 0 -> I=1, Q=U=V=0
    unpol = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]
    # circularly polarized in linear basis: XY = i/2, YX = -i/2 -> V=1/2
    circ = [0.0, 0.0, 0.0, 0.5, 0.0, -0.5, 0.0, 0.0]
    df = spark.createDataFrame([Row(v=unpol), Row(v=circ)])
    got = [r.s for r in df.select(stokes_from_corrs(
        F.col("v")).alias("s")).collect()]
    assert got[0] == [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    # V = (XY - YX)/(2i) = (i/2 - (-i/2))/(2i) = 1/2
    assert got[1] == [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.5, 0.0]

    # roundtrip identity on dyadic-valued vectors, both bases
    vecs = [[float(x) / 4 for x in range(8)],
            [1.0, -2.0, 0.25, 8.0, -0.5, 3.0, 4.0, -1.75]]
    rdf = spark.createDataFrame([Row(v=v) for v in vecs])
    for basis in ("linear", "circular"):
        back = [r.b for r in rdf.select(corrs_from_stokes(
            stokes_from_corrs(F.col("v"), basis), basis)
            .alias("b")).collect()]
        assert back == vecs, basis

    bad = spark.createDataFrame([Row(v=[1.0, 2.0])])
    with pytest.raises(Exception, match="interleaved"):
        bad.select(stokes_from_corrs(F.col("v")).alias("s")).collect()
    with pytest.raises(ValueError, match="basis"):
        stokes_from_corrs(F.col("v"), basis="weird")


def test_apply_gains_timevar(spark):
    """Solution-interval gain application: each row picks the latest
    at-or-before solution per antenna; a mid-stream solution change
    applies only to later rows; rows before any solution (or beyond
    tolerance) come back NULL."""
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.complexf import apply_gains_timevar

    vis = spark.createDataFrame([
        Row(antenna1=0, antenna2=1, time=5.0, vis=[1.0, 0.0]),
        Row(antenna1=0, antenna2=1, time=15.0, vis=[1.0, 0.0]),
        Row(antenna1=0, antenna2=1, time=0.5, vis=[1.0, 0.0]),
    ], "antenna1 long, antenna2 long, time double, vis array<double>")
    gains = spark.createDataFrame([
        Row(antenna=0, sol_time=1.0, gain=[2.0, 0.0]),
        Row(antenna=0, sol_time=10.0, gain=[3.0, 0.0]),
        Row(antenna=1, sol_time=1.0, gain=[0.0, 1.0]),   # i
    ], "antenna long, sol_time double, gain array<double>")
    out = {r.time: r.vis_corrected for r in apply_gains_timevar(
        vis, gains).collect()}
    # t=5: G0=2, G1=i -> 2 * 1 * conj(i) = 2 * (-i) = [0, -2]
    assert out[5.0] == [0.0, -2.0]
    # t=15: G0=3 -> [0, -3]
    assert out[15.0] == [0.0, -3.0]
    # t=0.5: before any solution -> NULL
    assert out[0.5] is None

    # tolerance 4.5: t=5 matches (sol at 1, 4 back) but t=15 does
    # not (sol at 10, 5 back)
    tol = {r.time: r.vis_corrected for r in apply_gains_timevar(
        vis, gains, tolerance=4.5).collect()}
    assert tol[5.0] is not None and tol[15.0] is None


def test_hanning_smooth(spark):
    """Hanning: interior cells get [0.25, 0.5, 0.25]; edges
    renormalise over present neighbours; NULL cells stay NULL and
    drop out of neighbours' weights."""
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.vector import hanning_smooth

    df = spark.createDataFrame([Row(v=[4.0, 8.0, 12.0, 16.0])])
    out = df.select(hanning_smooth(F.col("v")).alias("o")) \
        .collect()[0].o
    assert out[1] == 0.25 * 4 + 0.5 * 8 + 0.25 * 12
    assert out[2] == 0.25 * 8 + 0.5 * 12 + 0.25 * 16
    # edge: (0.5*4 + 0.25*8) / 0.75
    assert abs(out[0] - (0.5 * 4 + 0.25 * 8) / 0.75) < 1e-12
    assert abs(out[3] - (0.5 * 16 + 0.25 * 12) / 0.75) < 1e-12

    dfn = spark.createDataFrame([Row(v=[4.0, None, 12.0])],
                                "v array<double>")
    o = dfn.select(hanning_smooth(F.col("v")).alias("o")).collect()[0].o
    assert o[1] is None
    assert abs(o[0] - 4.0) < 1e-12          # lone neighbour null
    assert abs(o[2] - 12.0) < 1e-12


def test_uvcontsub_removes_linear_continuum(spark):
    """uvlin: a linear continuum plus a narrow line leaves (almost)
    only the line after subtraction; a purely linear spectrum
    subtracts to ~zero; masked cells stay NULL; 1-cell rows pass
    through."""
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.vector import uvcontsub

    n = 32
    cont = [2.0 + 0.5 * i for i in range(n)]
    line = [0.0] * n
    line[12] = 5.0
    spec = [c + l for c, l in zip(cont, line)]
    mask = [True] * n
    mask[12] = False          # fit excludes the line channel
    df = spark.createDataFrame([Row(v=spec, m=mask)])
    out = df.select(uvcontsub(F.col("v"), F.col("m")).alias("o")) \
        .collect()[0].o
    assert out[12] is None                  # masked passes as NULL
    for i in range(n):
        if i != 12:
            assert abs(out[i]) < 1e-9       # continuum gone

    pure = df.select(uvcontsub(F.col("v")).alias("o")).collect()[0].o
    # unmasked: line channel pollutes the fit slightly but the line
    # remains dominant
    assert pure[12] > 4.0

    short = spark.createDataFrame([Row(v=[7.0])])
    assert short.select(uvcontsub(F.col("v")).alias("o")) \
        .collect()[0].o == [7.0]


def test_mscal_derived_columns_match_python(spark):
    """HA/PA/elevation vs a direct python model (USNO GMST short
    form); elevation at the pole and the zenith sanity-checked."""
    import math

    from pyspark.sql import Row

    from dask_ms_spark.functions.mscal import (elevation_deg,
                                               gmst_hours,
                                               hour_angle_deg,
                                               parallactic_angle_deg)

    lon, lat = 21.443, -30.712           # MeerKAT site (public)
    rows = [Row(t=5.02e9 + i * 7919.0, ra=(i * 37.0) % 360.0,
                dec=-60.0 + (i * 13.0) % 110.0) for i in range(40)]
    df = spark.createDataFrame(rows, "t double, ra double, dec double")
    out = df.select(
        "t", "ra", "dec",
        gmst_hours(F.col("t")).alias("gmst"),
        hour_angle_deg(F.col("t"), F.lit(lon), F.col("ra")).alias("ha"),
        parallactic_angle_deg(F.col("t"), F.lit(lon), F.lit(lat),
                              F.col("ra"), F.col("dec")).alias("pa"),
        elevation_deg(F.col("t"), F.lit(lon), F.lit(lat),
                      F.col("ra"), F.col("dec")).alias("el")).collect()

    for r in out:
        d = r.t / 86400.0 - 51544.5
        gmst = (18.697374558 + 24.06570982441908 * d) % 24.0
        assert abs(r.gmst - gmst) < 1e-9
        ha = ((gmst * 15.0 + lon - r.ra) % 360.0 + 360.0) % 360.0
        if ha > 180.0:
            ha -= 360.0
        assert abs(r.ha - ha) < 1e-9
        har, latr, decr = (math.radians(ha), math.radians(lat),
                           math.radians(r.dec))
        pa = math.degrees(math.atan2(
            math.sin(har),
            math.tan(latr) * math.cos(decr)
            - math.sin(decr) * math.cos(har)))
        assert abs(r.pa - pa) < 1e-9
        el = math.degrees(math.asin(
            math.sin(latr) * math.sin(decr)
            + math.cos(latr) * math.cos(decr) * math.cos(har)))
        assert abs(r.el - el) < 1e-9
        assert -24.0 < r.gmst < 24.0 and -180.0 < r.ha <= 180.0

    # a source at the south celestial pole sits at elevation |lat|
    # from a southern site, at any time
    pole = spark.createDataFrame(
        [Row(t=5.02e9 + i * 1e5) for i in range(5)], "t double")
    els = pole.select(elevation_deg(
        F.col("t"), F.lit(lon), F.lit(lat), F.lit(0.0),
        F.lit(-90.0)).alias("el")).collect()
    for r in els:
        assert abs(r.el - abs(lat)) < 1e-9


def test_quality_features_mean_word_len_whitespace(spark):
    """mean_word_len averages the tokens' OWN lengths — padded or
    multi-space text must not inflate it (review r8: the old
    separator-count closed form scored '  hi  ' as 6.0)."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.text import quality_features
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [Row(id=0, text="  hi  "), Row(id=1, text="a  b"),
         Row(id=2, text="one two three"), Row(id=3, text="")])
    feats = quality_features(F.col("text"))
    got = {r.id: r.mwl for r in df.select(
        "id", feats["mean_word_len"].alias("mwl")).collect()}
    assert got[0] == 2.0
    assert got[1] == 1.0
    assert abs(got[2] - 11 / 3) < 1e-9
    assert got[3] == 0.0


def test_complex_kernels_null_cell_passthrough(spark):
    """A NULL complex cell must propagate as NULL, not trip the width
    raise_error (size(NULL) nulls the guard condition, sending the row
    into the otherwise branch) nor silently become an empty array
    (review r9, second pass)."""
    from pyspark.sql import Row, functions as F

    from dask_ms_spark.functions.complexf import (
        apply_gains, c_conj, c_make, c_mul, corrs_from_stokes,
        phase_rotate, stokes_from_corrs)

    df = spark.createDataFrame(
        [Row(id=1, z=[1.0, 2.0, 3.0, 4.0], u=5.0, v=6.0, w=7.0),
         Row(id=2, z=None, u=5.0, v=6.0, w=7.0)],
        "id long, z array<double>, u double, v double, w double")

    out = df.select(
        "id",
        phase_rotate(F.col("z"), F.col("u"), F.col("v"), F.col("w"),
                     0.01, 0.02, [1.4e9, 1.5e9]).alias("rot"),
        c_mul(F.col("z"), F.col("z")).alias("sq"),
        c_conj(F.col("z")).alias("cj"),
        c_make(F.col("z"), F.col("z")).alias("mk"),
    ).orderBy("id").collect()
    assert out[0].rot is not None and len(out[0].rot) == 4
    assert out[1].rot is None
    assert out[1].sq is None and out[1].cj is None and out[1].mk is None

    s4 = spark.createDataFrame(
        [Row(id=1, v=[1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0]),
         Row(id=2, v=None)],
        "id long, v array<double>")
    got = s4.select(
        "id", stokes_from_corrs(F.col("v")).alias("s"),
        corrs_from_stokes(F.col("v")).alias("c")).orderBy("id").collect()
    assert got[0].s is not None and got[1].s is None and got[1].c is None

    vis = spark.createDataFrame(
        [Row(antenna1=0, antenna2=1, DATA=[1.0, 0.0]),
         Row(antenna1=0, antenna2=1, DATA=None)],
        "antenna1 int, antenna2 int, DATA array<double>")
    gains = spark.createDataFrame(
        [Row(antenna=0, gain=[2.0, 0.0]), Row(antenna=1, gain=[1.0, 0.0])],
        "antenna int, gain array<double>")
    rows = apply_gains(vis, gains, ant1_col="antenna1",
                       ant2_col="antenna2").collect()
    by_null = sorted(rows, key=lambda r: r.DATA is None)
    assert by_null[0].DATA_corrected == [2.0, 0.0]
    assert by_null[1].DATA_corrected is None


def test_char_ngrams_codepoint_semantics(spark):
    """r10: char_ngrams moved from substr-per-window (O(len^2): the
    UTF8String byte walk) to a bound split('')+slice spelling — the
    shingle VALUES must be unchanged, including astral-plane
    codepoints (split('') keeps surrogate pairs whole, matching
    substr's codepoint indexing)."""
    from pyspark.sql import Row

    from dask_ms_spark.functions.text import char_ngrams

    df = spark.createDataFrame(
        [Row(k=0, t="abcdef"), Row(k=1, t="ab"),
         Row(k=2, t="a\U0001F600b\U0001F601c")],
        "k int, t string")
    out = {r.k: r.g for r in df.select(
        "k", char_ngrams(F.col("t"), 3).alias("g")).collect()}
    assert sorted(out[0]) == ["abc", "bcd", "cde", "def"]
    assert out[1] == ["ab"]                      # shorter than n
    assert sorted(out[2]) == ["a\U0001F600b", "b\U0001F601c",
                              "\U0001F600b\U0001F601"]
