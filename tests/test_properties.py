"""Property-based tests (hypothesis) — beyond the reference's seeded
-random fixtures (SURVEY §5): the expression DSL must agree with
Python's own evaluator on arbitrary expressions and inputs."""

import math

import pytest

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except Exception:  # pragma: no cover
    HAVE_HYPOTHESIS = False

pytestmark = pytest.mark.skipif(not HAVE_HYPOTHESIS,
                                reason="hypothesis not installed")


def _exprs():
    """Random arithmetic over columns A, B and small literals."""
    atoms = st.sampled_from(["A", "B", "2", "3", "1.5"])

    def compose(children):
        op = st.sampled_from([" + ", " - ", " * ", " / ", " // "])
        return st.builds(lambda a, o, b: f"({a}{o}{b})",
                         children, op, children)

    return st.recursive(atoms, compose, max_leaves=8)


@pytest.fixture(scope="module")
def expr_df(spark):
    return spark.createDataFrame([(7.0, 3.0)], ["A", "B"])


if HAVE_HYPOTHESIS:

    @given(expression=_exprs())
    @settings(max_examples=10, deadline=None)
    def test_expression_dsl_matches_python(expr_df, expression):
        from dask_ms_spark.expressions import data_column_expr

        try:
            want = eval(expression, {"__builtins__": {}},  # noqa: S307
                        {"A": 7.0, "B": 3.0})
        except ZeroDivisionError:
            return
        col = data_column_expr(expr_df, expression)
        got = expr_df.select(col.alias("v")).first().v
        if want is None or (isinstance(want, float) and math.isnan(want)):
            assert got is None or math.isnan(got)
        else:
            assert got == pytest.approx(float(want), rel=1e-9)


if HAVE_HYPOTHESIS:

    @given(edges=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=0, max_size=30))
    @settings(max_examples=8, deadline=None)
    def test_connected_components_matches_union_find(spark, edges):
        """Min-label propagation must agree with a sequential
        union-find on arbitrary small graphs (chains, cliques,
        self-loops, isolates)."""
        from dask_ms_spark.operators.graph import connected_components

        nodes = sorted({n for e in edges for n in e} | set(range(5)))
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        # canonical label = min node id in the component
        comp_min = {}
        for n in nodes:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        want = {n: comp_min[find(n)] for n in nodes}

        edf = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long")
        ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
        # exercise BOTH execution paths: the single-task union-find
        # fast path (default at this size) and the star-contraction
        # shuffle rounds (forced via local_threshold=0)
        got_local = {r.id: r.component for r in
                     connected_components(edf, nodes=ndf).collect()}
        got_star = {r.id: r.component for r in
                    connected_components(edf, nodes=ndf,
                                         local_threshold=0).collect()}
        assert got_local == want
        assert got_star == want


if HAVE_HYPOTHESIS:

    @given(texts=st.lists(
        st.text(alphabet="ab cd\t\n", min_size=0, max_size=40),
        min_size=1, max_size=8))
    @settings(max_examples=8, deadline=None)
    def test_bigram_repetition_matches_python(spark, texts):
        """Spark bigram stats must agree with a sequential Python
        recomputation on arbitrary whitespace-heavy strings."""
        from dask_ms_spark.functions.text import bigram_repetition

        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_grams, r.n_distinct,
                          r.dup_ratio, r.max_gram_frac)
               for r in bigram_repetition(df).collect()}

        want = {}
        for i, t in rows:
            # tokens() trims every whitespace character it splits on,
            # in Spark AND in the DuckDB oracle spelling, so on this
            # alphabet it is Python's str.split()
            toks = t.lower().split()
            if len(toks) < 2:
                continue
            grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            from collections import Counter
            c = Counter(grams)
            n, nd, mx = len(grams), len(c), max(c.values())
            want[i] = (n, nd, round(1.0 - nd / n, 6), round(mx / n, 6))
        assert got == want


# ------------------------------------------------ round-5 operators

if HAVE_HYPOTHESIS:
    @given(st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                    min_size=1, max_size=120),
           st.sampled_from([4, 16, 64]))
    @settings(max_examples=8, deadline=None)
    def test_kmv_exact_or_bounded(spark, vals, k):
        """KMV is exact below the fill mark and within the analytic
        error bound above it, for arbitrary value multisets."""
        from pyspark.sql import Row

        from dask_ms_spark.llm.sketches import kmv_distinct

        truth = len(set(vals))
        out = kmv_distinct(
            spark.createDataFrame([Row(v=v) for v in vals]),
            "v", k=k).collect()[0]
        if truth < k:
            assert out.est_distinct == truth
        elif k >= 16:
            assert abs(out.est_distinct - truth) / truth \
                < 5.0 / math.sqrt(k)
        else:
            # k=4: u_k is Beta(4, n-3) — heavy-tailed enough that a
            # 5/sqrt(k) bound is genuinely exceeded on real inputs
            # (hypothesis found one); assert only order-of-magnitude
            # sanity at this sketch size
            assert 0 < out.est_distinct < truth * 10

    @given(st.text(alphabet="xyz ", min_size=60, max_size=90),
           st.text(alphabet="abc ", min_size=0, max_size=25),
           st.text(alphabet="def ", min_size=0, max_size=25))
    @settings(max_examples=8, deadline=None)
    def test_substring_dedup_stride1_guarantee(spark, shared,
                                               pre, suf):
        """At stride=1 the contract is exact: ANY cross-doc verbatim
        run >= window chars produces a shared window wherever it sits
        in either document.  (At stride > 1 detection is
        alignment-modulo-stride — hypothesis found the counterexample
        that forced the docstring to say so.)"""
        from pyspark.sql import Row

        from dask_ms_spark.llm.corpus import substring_dedup

        docs = [Row(doc_id=1, text=pre + shared + suf),
                Row(doc_id=2, text="qq " + shared + " pp")]
        out = {r.doc_id: r for r in substring_dedup(
            spark.createDataFrame(docs),
            window=60, stride=1).collect()}
        assert out[1].n_dup_windows > 0
        assert out[2].n_dup_windows > 0


if HAVE_HYPOTHESIS:
    @given(st.lists(st.tuples(st.integers(0, 8),          # key
                              st.sampled_from("IUD"),     # op
                              st.integers(0, 5),          # seq
                              st.integers(0, 99)),        # payload
                    min_size=0, max_size=30))
    @settings(max_examples=10, deadline=None)
    def test_apply_cdc_matches_python_model(spark, changes):
        """apply_cdc == a direct Python fold of the same rule (highest
        (seq, op, payload) wins per key; 'U'/'I' beat 'D' on ties,
        and the payload-desc fallback makes even (key, seq, op)
        collisions deterministic) over random change feeds against a
        fixed snapshot."""
        from pyspark.sql import Row

        from dask_ms_spark.operators.cdc import apply_cdc

        snap_rows = [(k, k * 10) for k in range(5)]
        model = dict(snap_rows)
        # python model: winner per key by (seq, op, payload) max — op
        # order 'D' < 'I' < 'U' matches the string DESC tiebreak and
        # the payload DESC fallback resolves full collisions
        winners = {}
        for k, op, seq, v in changes:
            cur = winners.get(k)
            if cur is None or (seq, op, v) > cur:
                winners[k] = (seq, op, v)
        for k, (seq, op, v) in winners.items():
            if op == "D":
                model.pop(k, None)
            else:
                model[k] = v

        snap = spark.createDataFrame(
            [Row(k=k, v=v) for k, v in snap_rows], "k long, v long")
        if changes:
            ch = spark.createDataFrame(
                [Row(k=k, op=op, seq=seq, v=v)
                 for k, op, seq, v in changes],
                "k long, op string, seq long, v long")
        else:
            ch = spark.createDataFrame([],
                                       "k long, op string, seq long, "
                                       "v long")
        got = {r.k: r.v for r in apply_cdc(snap, ch, "k").collect()}
        assert got == model


if HAVE_HYPOTHESIS:
    @given(st.lists(st.integers(0, 200), min_size=1, max_size=120),
           st.sampled_from([16, 64]))
    @settings(max_examples=8, deadline=None)
    def test_cms_one_sided_for_arbitrary_multisets(spark, vals,
                                                   width):
        """Count-min guarantee under hypothesis: for ANY multiset and
        any (narrow) width, every estimate >= the exact count, and
        with depth rows the estimate equals exact whenever no
        collision lands in some row."""
        from collections import Counter

        from pyspark.sql import Row

        from dask_ms_spark.llm.sketches import cms_estimate, cms_sketch

        exact = Counter(vals)
        df = spark.createDataFrame([Row(v=str(v)) for v in vals])
        sk = cms_sketch(df, "v", width=width, depth=3)
        est = {r.v: r.cms_est for r in cms_estimate(
            sk, df.select("v").distinct(), "v", width=width, depth=3)
            .collect()}
        assert set(est) == {str(v) for v in exact}
        for v, n in exact.items():
            assert est[str(v)] >= n
        # total mass conservation per hash row
        cells = sk.collect()
        for d in range(3):
            assert sum(c.cnt for c in cells if c.d == d) == len(vals)


if HAVE_HYPOTHESIS:
    @given(st.lists(st.tuples(st.floats(-100, 100),
                              st.booleans()),
                    min_size=1, max_size=40),
           st.sampled_from([1, 3, 4, 7]))
    @settings(max_examples=8, deadline=None)
    def test_masked_bin_average_matches_python(spark, cells, bin_size):
        """Flag-aware channel averaging == a direct Python fold for
        arbitrary value/mask arrays and bin sizes (incl. partial
        trailing bins and all-masked bins)."""
        from pyspark.sql import Row

        from pyspark.sql import functions as F

        from dask_ms_spark.functions.vector import masked_bin_average

        vals = [v for v, _ in cells]
        mask = [m for _, m in cells]
        df = spark.createDataFrame(
            [Row(v=vals, m=mask)],
            "v array<double>, m array<boolean>")
        got = df.select(masked_bin_average(
            F.col("v"), F.col("m"), bin_size).alias("b")) \
            .collect()[0].b

        want = []
        for lo in range(0, len(vals), bin_size):
            kept = [v for v, m in zip(vals[lo:lo + bin_size],
                                      mask[lo:lo + bin_size]) if m]
            want.append(sum(kept) / len(kept) if kept else None)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            if w is None:
                assert g is None
            else:
                assert g == pytest.approx(w, rel=1e-12, abs=1e-12)


if HAVE_HYPOTHESIS:

    @given(coords=st.lists(
        st.tuples(st.floats(0, 359.999), st.floats(-58, 58)),
        min_size=2, max_size=24),
        radius=st.sampled_from([0.1, 0.5, 2.0]))
    @settings(max_examples=8, deadline=None)
    def test_crossmatch_equals_brute_force(spark, coords, radius):
        """PROPERTY: the Zones cross-match returns EXACTLY the
        all-pairs result for arbitrary catalogs and radii — the
        bucketing (including ra wrap and dec striping) is pure
        pruning, never lossy."""
        import math

        from dask_ms_spark.operators.crossmatch import crossmatch_sky

        rows = [(i, float(ra), float(dec))
                for i, (ra, dec) in enumerate(coords)]
        df = spark.createDataFrame(rows, "id long, ra double, dec double")
        got = {(r.left_id, r.right_id)
               for r in crossmatch_sky(df, df, radius,
                                       max_abs_dec=59.0).collect()}

        def sep(p, q):
            ra1, dec1 = math.radians(p[1]), math.radians(p[2])
            ra2, dec2 = math.radians(q[1]), math.radians(q[2])
            a = (math.sin((dec2 - dec1) / 2) ** 2
                 + math.cos(dec1) * math.cos(dec2)
                 * math.sin((ra2 - ra1) / 2) ** 2)
            return math.degrees(2 * math.asin(math.sqrt(min(a, 1.0))))

        want = {(p[0], q[0]) for p in rows for q in rows
                if sep(p, q) <= radius}
        assert got == want


if HAVE_HYPOTHESIS:

    @given(rows=st.lists(
        st.tuples(st.integers(0, 2),          # baseline
                  st.integers(0, 30),         # time
                  st.integers(-5, 5),         # data[0]
                  st.integers(-5, 5),         # data[1]
                  st.booleans(),              # flag[0]
                  st.integers(1, 3)),         # weight
        min_size=1, max_size=40))
    @settings(max_examples=8, deadline=None)
    def test_bda_average_matches_python_model(spark, rows):
        """PROPERTY: bda_average == an exact python model on
        integer-valued inputs (sums stay exact in double, so equality
        is exact, not approximate) — bins, factors, flag semantics,
        weighted means, weight sums."""
        from dask_ms_spark.operators.bda import bda_average

        data = [(bl, float((bl + 1) * 100), float(t),
                 [float(d0), float(d1)], [f0, False], float(w))
                for bl, t, d0, d1, f0, w in rows]
        df = spark.createDataFrame(
            data, "bl long, uv double, time double, "
                  "data array<double>, flag array<boolean>, w double")
        out = {(r.bl, r.bin): r for r in bda_average(
            df, "time", ["bl"], "uv", base_interval=4.0,
            ref_uvdist=300.0, max_factor=4, data_col="data",
            flag_col="flag", weight_col="w",
            weight_data=True).collect()}

        # python model
        from collections import defaultdict
        groups = defaultdict(list)
        for bl, uv, t, d, fl, w in data:
            factor = max(1, min(int(300.0 // uv), 4))
            b = int(t // (4.0 * factor))
            groups[(bl, b, factor)].append((t, d, fl, w))
        assert len(out) == len(groups)
        for (bl, b, factor), members in groups.items():
            r = out[(bl, b)]
            assert r.factor == factor
            assert r.n_rows == len(members)
            assert r.time_centroid == \
                sum(t for t, *_ in members) / len(members)
            assert r.weight_sum == sum(w for *_, w in members)
            for i in range(2):
                num = sum(w * d[i] for t, d, fl, w in members
                          if not fl[i])
                den = sum(w for t, d, fl, w in members if not fl[i])
                if den > 0:
                    assert r.data_mean[i] == num / den
                    assert r.flag[i] is False
                else:
                    assert r.data_mean[i] is None
                    assert r.flag[i] is True


if HAVE_HYPOTHESIS:

    @given(vals=st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=60))
    @settings(max_examples=10, deadline=None)
    def test_cusum_matches_numpy_argmax(spark, vals):
        """cusum_changepoints must equal the brute-force fixed-point
        argmax (earliest-k tie break) on arbitrary series."""
        import numpy as np

        from dask_ms_spark.operators.timeseries import (
            cusum_changepoints)

        qs = 1 << 12
        df = spark.createDataFrame(
            [("k", float(i), i, float(v))
             for i, v in enumerate(vals)],
            "event_type string, ts double, event_id long, "
            "value double")
        (got,) = cusum_changepoints(
            df, order_cols=("ts", "event_id"),
            quantize_scale=qs).collect()

        xq = np.array([round(v * qs) for v in vals], dtype=object)
        run = np.cumsum(xq)
        n, tot = len(xq), run[-1]
        nsk = np.array([n * run[k] - (k + 1) * tot
                        for k in range(n - 1)], dtype=object)
        absn = [abs(int(x)) for x in nsk]
        k = absn.index(max(absn))          # earliest max
        assert got.n == n
        assert got.change_pos == k + 1
        # Spark computes abs(nsk)/n in DOUBLE then rounds; accept
        # either the double-path value or the exact-decimal HALF_UP
        # value (they differ only on exact .5 ratios)
        import decimal
        want_exact = int((decimal.Decimal(absn[k])
                          / decimal.Decimal(n))
                         .quantize(decimal.Decimal(1),
                                   rounding=decimal.ROUND_HALF_UP))
        want_dbl = round(float(absn[k]) / n)
        assert got.cusum_max_q in (want_dbl, want_exact)


if HAVE_HYPOTHESIS:

    @given(lines=st.lists(
        st.text(alphabet="abc x.!?{", min_size=0, max_size=30),
        min_size=1, max_size=10))
    @settings(max_examples=10, deadline=None)
    def test_c4_filter_matches_python_rules(spark, lines):
        """c4_line_filter == the per-line python rules + ordered
        rebuild, for arbitrary line content."""
        from dask_ms_spark.llm.corpus import c4_line_filter

        text = "\n".join(lines)
        df = spark.createDataFrame([(1, text)],
                                   "doc_id long, text string")
        (got,) = c4_line_filter(df, min_line_words=2,
                                min_lines=1).collect()

        def keep(line):
            t = line.rstrip()
            if not (t and t[-1] in '.!?"'):
                return False
            if len(line.split()) < 2:
                return False
            low = line.lower()
            return not any(b in low for b in
                           ("lorem ipsum", "javascript", "{"))

        kept = [ln for ln in lines if keep(ln)]
        assert got.n_lines == len(lines)
        assert got.n_kept == len(kept)
        assert got.text == "\n".join(kept)
        assert got.keep == (len(kept) >= 1)


def _taql_exprs():
    """Random TAQL from the supported grammar: comparisons, boolean
    algebra, IN lists, BETWEEN, intervals, ~= and pattern matches
    over columns A (long), B (double), UVW (array), NAME (string)."""
    # scalar-valued atoms only: an array slice in a scalar
    # comparison (0 < UVW[1:3]) is ill-typed TAQL — the translator
    # passes it through and Spark rejects it with a typed
    # AnalysisException, which is user error, not mistranslation
    # (slices appear inside SUMSQR below, their reduction home)
    num = st.sampled_from(["0", "1", "2.5", "1e3", "A", "B",
                           "UVW[0]"])
    comp = st.builds(lambda a, o, b: f"{a} {o} {b}", num,
                     st.sampled_from(["<", ">", "<=", ">=",
                                      "==", "!=", "~="]), num)
    special = st.sampled_from([
        "A IN [1, 2, 3]", "A NOT IN [1, 2]",
        "A BETWEEN 1 AND 5", "B NOT BETWEEN 0 AND 1",
        "A IN [1 =:= 5]", "A NOT IN [0 <:< 9]",
        "NAME ~ p/ab*/", "NAME !~ m/^x/", "NAME ~ f/abc/",
        "SUMSQR(UVW[:2]) < 1e6", "!FLAG_ROW",
        "TIME > DATETIME('2020/01/01')",
        # arithmetic-LHS near-equality (r8 fix: the LHS scan extends
        # back through '+'/'-' to the previous boolean operator)
        "A + B ~= 2.5", "A - 1 !~= B",
        # tier-4 nested queries against the registered view V
        "A IN [SELECT A FROM V WHERE B > 0]",
        "A IN [SELECT DISTINCT A FROM ::V]",
        # tier-5 array reductions (FLAGS is array<boolean>)
        "!ALL(FLAGS)", "ANY(FLAGS)",
        "NTRUE(FLAGS) < NELEMENTS(FLAGS)",
        # r9: array aggregates, schema-bound (UVW is array<double>)
        "SUM(UVW) > 1", "MEAN(UVW) ~= 2.0",
        "MAX(UVW) >= MIN(UVW)", "SUM(UVW[:2]) < 1e6",
        # r9: elementwise / complex-view wrappers inside aggregates
        "MEAN(ABS(UVW)) < 2", "SUM(SQUARE(UVW[:2])) < 9",
        "MAX(SQRT(ABS(UVW))) > 0", "MIN(EXP(UVW)) > 0",
        "MEAN(AMPLITUDE(DATA)) > 0", "MAX(PHASE(DATA)) <= 3.1416",
        "SUM(REAL(DATA)) != SUM(IMAG(DATA))",
        # r10 tier 7: unit quantities + mscal derived columns (the
        # fuzz driver passes the mscal geometry below)
        "B < 5km", "B > 1.5GHz", "TIME > 30 min", "A < 30arcsec",
        "B IN [1deg =:= 90deg]",
        "MSCAL.HA1 > 0.1rad", "MSCAL.PA1 ~= 0",
        "MSCAL.AZEL1[1] > 30deg", "MSCAL.HA2 < 0 || MSCAL.PA2 > 0"])
    atoms = st.one_of(comp, special)

    def compose(children):
        op = st.sampled_from([" && ", " || "])
        return st.one_of(
            st.builds(lambda a, o, b: f"({a}){o}({b})",
                      children, op, children),
            st.builds(lambda a: f"!({a})", children))

    return st.recursive(atoms, compose, max_leaves=6)


if HAVE_HYPOTHESIS:

    @given(expression=_taql_exprs())
    @settings(max_examples=25, deadline=None)
    def test_taql_translation_always_executes(spark, expression):
        """Anything the translator ACCEPTS must execute in Spark —
        the no-silent-mistranslation contract: either ValueError at
        translation time, or a WHERE clause Spark runs."""
        from dask_ms_spark.taql import taql_where_to_sql

        df = spark.createDataFrame(
            [(1, 2.0, [1.0, 2.0, 3.0], "abc", False, 5e9,
              [True, False], [1.0, -2.0, 0.5, 3.0])],
            "A long, B double, UVW array<double>, NAME string, "
            "FLAG_ROW boolean, TIME double, FLAGS array<boolean>, "
            "DATA array<double>")
        df.createOrReplaceTempView("V")    # tier-4 nested-query atoms
        geo = {"lon_deg": 21.443, "lat_deg": -30.712,
               "ra_deg": 80.894, "dec_deg": -45.779}
        try:
            sql = taql_where_to_sql(expression, schema=df.schema,
                                    mscal=geo)
        except ValueError:
            return                     # refused loudly: fine
        df.where(sql).count()          # must parse AND run


if HAVE_HYPOTHESIS:

    @given(events=st.lists(
        st.tuples(st.integers(0, 3),            # user
                  st.integers(0, 100),          # t (seconds)
                  st.sampled_from(["click", "view", "purchase",
                                   "error"]),
                  st.floats(0, 50, allow_nan=False)),
        min_size=1, max_size=40))
    @settings(max_examples=10, deadline=None)
    def test_attribution_matches_python_model(spark, events):
        """Last-touch attribution == the sequential python model on
        arbitrary event streams (horizon forced small so both
        credited and expired touches occur)."""
        import datetime

        from pyspark.sql import functions as F

        horizon = 30                   # seconds, for the test
        base = datetime.datetime(2024, 1, 1)
        rows = [(i, u, base + datetime.timedelta(seconds=t), ty,
                 round(v, 2))
                for i, (u, t, ty, v) in enumerate(events)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
                  "event_type string, value double")
        is_touch = F.col("event_type").isin("click", "view")
        from pyspark.sql import Window
        w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
             .rowsBetween(Window.unboundedPreceding,
                          Window.currentRow))
        touch = F.last(F.when(is_touch, F.struct(
            F.col("event_type").alias("t_type"),
            F.unix_timestamp("ts").alias("t_ep"))),
            ignorenulls=True).over(w)
        got = {(r.event_id): r.credit for r in
               df.withColumn("__t", touch)
                 .where(F.col("event_type") == "purchase")
                 .select("event_id", F.when(
                     F.col("__t").isNotNull()
                     & ((F.unix_timestamp("ts") - F.col("__t.t_ep"))
                        <= horizon),
                     F.col("__t.t_type")).otherwise("none")
                     .alias("credit")).collect()}

        # sequential python model
        want = {}
        seq = sorted(rows, key=lambda r: (r[1], r[2], r[0]))
        last = {}
        for eid, u, ts, ty, v in seq:
            if ty in ("click", "view"):
                last[u] = (ts, ty)
            elif ty == "purchase":
                lt = last.get(u)
                if lt and (ts - lt[0]).total_seconds() <= horizon:
                    want[eid] = lt[1]
                else:
                    want[eid] = "none"
        assert got == want
