"""Subtable joins as first-class operators (reference §2.5).

The reference has NO join operator: star-schema lookups
(main -> DATA_DESCRIPTION -> SPECTRAL_WINDOW / POLARIZATION, FIELD,
ANTENNA) are manual attribute indexing over per-partition datasets
(examples/ms_subtable_join.py:36-69; katdal facade numpy indexing,
daskms/experimental/katdal/msv2_facade.py:140-175).

Spark-first: broadcast hash joins.  Dimension subtables are tiny
(14-64 rows in the reference fixtures, daskms/conftest.py:189-235), so
every lookup is a map-side join with zero shuffle of the fact table —
this is where the Spark design strictly exceeds the reference.
"""

from __future__ import annotations

from typing import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["broadcast_lookup", "star_join", "semi_filter", "anti_filter",
           "asof_join", "salted_join", "range_join",
           "interval_overlap_join", "append_join_delta"]


def broadcast_lookup(fact: DataFrame, dim: DataFrame, on: str | Sequence[str],
                     how: str = "inner", prefix: str | None = None) -> DataFrame:
    """``fact ⋈ broadcast(dim)`` — the reference's
    ``ddid_ds[ms_ds.attrs["DATA_DESC_ID"]]`` lookup idiom
    (examples/ms_subtable_join.py:59) as a map-side hash join.

    ``prefix`` renames dim payload columns to avoid collisions, the
    analogue of the reference assigning subtable arrays onto the main
    dataset under new names (examples/ms_subtable_join.py:63-69).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if prefix:
        for c in dim.columns:
            if c not in keys:
                dim = dim.withColumnRenamed(c, f"{prefix}{c}")
    return fact.join(F.broadcast(dim), on=keys, how=how)


def star_join(fact: DataFrame,
              dims: Mapping[str, tuple[DataFrame, str | Sequence[str]]],
              how: str = "inner") -> DataFrame:
    """Chained broadcast joins over a star schema: the reference's
    ddid -> spw/pol chained lookups (examples/ms_subtable_join.py:60-61).

    ``dims`` maps a prefix to ``(dim_df, join_keys)``.  All joins are
    broadcast; the fact table never shuffles.
    """
    out = fact
    for prefix, (dim, on) in dims.items():
        out = broadcast_lookup(out, dim, on, how=how, prefix=f"{prefix}_")
    return out


def semi_filter(fact: DataFrame, dim: DataFrame,
                on: str | Sequence[str]) -> DataFrame:
    """Keep fact rows with a dimension match (left_semi) — absent in the
    reference, native in Spark (SURVEY §2.5)."""
    keys = [on] if isinstance(on, str) else list(on)
    return fact.join(F.broadcast(dim), on=keys, how="left_semi")


def anti_filter(fact: DataFrame, dim: DataFrame,
                on: str | Sequence[str]) -> DataFrame:
    """Drop fact rows with a dimension match (left_anti)."""
    keys = [on] if isinstance(on, str) else list(on)
    return fact.join(F.broadcast(dim), on=keys, how="left_anti")


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: str | Sequence[str] | None = None,
              right_cols: Sequence[str] | None = None,
              tolerance: float | None = None,
              suffix: str = "_r") -> DataFrame:
    """As-of join: attach to each left row the *latest* right row whose
    ``on`` value is ``<=`` the left row's, per ``by`` group (left join
    semantics — unmatched left rows keep NULL payload).

    Absent in the reference (SURVEY §2.5).  The naive Spark spelling is
    a range join — O(|L|·|R|) pair blow-up within each group.  This is
    the scale-safe union+window form: tag both inputs, union them, one
    shuffle on ``by``, one within-partition sort on ``(on, side)``
    (right rows sort first at ties so equality matches), then a running
    ``last(payload) IGNORE NULLS`` — linear work, no pair explosion,
    and AQE can still split a skewed ``by`` key's sort.

    The right payload is packed into a single struct so every output
    column comes from the *same* matched right row.  Right rows should
    be unique per ``(by, on)``; pre-aggregate otherwise (ties at equal
    ``on`` are engine-arbitrary).  ``tolerance`` (in the units of
    ``on`` cast to double; seconds for timestamps) nulls out matches
    further back than the window.
    """
    bys = [by] if isinstance(by, str) else list(by or [])
    payload = list(right_cols) if right_cols is not None else \
        [c for c in right.columns if c not in set(bys) | {on}]
    packed = F.struct(
        *[F.col(c) for c in payload],
        F.col(on).alias("__asof_on"))
    r = right.select(*bys, F.col(on),
                     packed.alias("__asof_payload"),
                     F.lit(0).alias("__asof_side"))
    l = left.withColumn("__asof_side", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(*[F.col(c) for c in bys])
         .orderBy(F.col(on).asc(), F.col("__asof_side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn("__asof_match",
                     F.last("__asof_payload", ignorenulls=True).over(w))
    if tolerance is not None:
        gap = (F.col(on).cast("double") -
               F.col("__asof_match.__asof_on").cast("double"))
        u = u.withColumn(
            "__asof_match",
            F.when(gap <= F.lit(float(tolerance)), F.col("__asof_match")))
    out = u.where(F.col("__asof_side") == 1) \
           .drop("__asof_payload", "__asof_side")
    for c in payload + ["__asof_on"]:
        name = on + suffix if c == "__asof_on" else \
            (c + suffix if c in left.columns else c)
        out = out.withColumn(name, F.col(f"__asof_match.{c}"))
    return out.drop("__asof_match")


def _as_seconds(df: DataFrame, colname: str):
    """``colname`` as double epoch seconds for the bucketed joins."""
    # timestamps (incl. _ntz) won't cast to double directly
    t = dict(df.dtypes)[colname]
    c = F.col(colname)
    if t.startswith("timestamp"):
        return F.unix_micros(c.cast("timestamp")).cast("double") / 1e6
    if t == "date":
        return F.unix_date(c).cast("double") * 86_400.0
    return c.cast("double")


def range_join(left: DataFrame, right: DataFrame, point: str,
               start: str, end: str, by: str | Sequence[str] = (),
               bucket_width: float = 86_400.0) -> DataFrame:
    """Interval-containment join: left rows whose ``point`` falls in
    ``[right.start, right.end)``, optionally within ``by`` groups.

    Absent in the reference (SURVEY §2.5).  Spark's native plan for a
    pure range predicate is a broadcast nested-loop join — O(|L|·|R|)
    comparisons, which dies at scale.  This is the bucketized form:
    points bucket to ``floor(point/w)``, intervals explode to every
    bucket they overlap, the join runs as an ordinary shuffled
    equi-join on ``(by…, bucket)``, and an exact containment filter
    removes the same-bucket false positives.  Work is linear in
    |L| + |R|·(interval/width), and the shuffle key spreads across
    buckets instead of one nested loop.

    Pick ``bucket_width`` near the typical interval length (in the
    units of the columns cast to double — epoch seconds for
    timestamps): wider buckets mean fewer replicas but more false
    positives to filter.  ``point``/``start``/``end`` must be distinct
    column names across the two frames.  Inner-join semantics.
    """
    bys = [by] if isinstance(by, str) else list(by)
    w = float(bucket_width)
    p, s, e = (_as_seconds(left, point), _as_seconds(right, start),
               _as_seconds(right, end))
    lb = left.withColumn("__rj_b", F.floor(p / F.lit(w)))
    rb = right.withColumn(
        "__rj_b",
        F.explode(F.sequence(F.floor(s / F.lit(w)), F.floor(e / F.lit(w)))))
    joined = lb.join(rb, on=bys + ["__rj_b"], how="inner")
    return joined.where((p >= s) & (p < e)).drop("__rj_b")


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          l_start: str, l_end: str,
                          r_start: str, r_end: str,
                          by: str | Sequence[str] = (),
                          bucket_width: float = 3600.0) -> DataFrame:
    """Interval-overlap join: pairs where ``[l_start, l_end)`` and
    ``[r_start, r_end)`` intersect, optionally within ``by`` groups.

    The interval-interval generalisation of :func:`range_join` (which
    handles point-in-interval).  Both sides explode their interval to
    every covered bucket of width ``bucket_width`` and meet in an
    ordinary shuffled equi-join on ``(by…, bucket)``; the exact
    predicate ``l_start < r_end AND r_start < l_end`` removes
    same-bucket false positives.  A pair whose intervals share several
    buckets would match once per shared bucket — instead of a
    ``distinct`` (an extra full shuffle of the matched set), each pair
    is emitted ONLY in its canonical first shared bucket
    ``max(floor(l_start/w), floor(r_start/w))``, so the output is
    exactly the overlap set with no dedup stage at all.

    Work is linear in |L|·(len/w) + |R|·(len/w); pick ``bucket_width``
    near the typical interval length.  All four bound columns must
    have distinct names across the frames; bounds are coerced to epoch
    seconds the same way as :func:`range_join`.  Inner-join semantics.
    """
    bys = [by] if isinstance(by, str) else list(by)
    w = float(bucket_width)
    ls, le = _as_seconds(left, l_start), _as_seconds(left, l_end)
    rs, re_ = _as_seconds(right, r_start), _as_seconds(right, r_end)
    lb = left.withColumn(
        "__ij_b",
        F.explode(F.sequence(F.floor(ls / F.lit(w)),
                             F.floor(le / F.lit(w)))))         .withColumn("__ij_s0", F.floor(ls / F.lit(w)))
    rb = right.withColumn(
        "__ij_b",
        F.explode(F.sequence(F.floor(rs / F.lit(w)),
                             F.floor(re_ / F.lit(w)))))         .withColumn("__ij_s0_r", F.floor(rs / F.lit(w)))
    joined = lb.join(rb, on=bys + ["__ij_b"], how="inner")
    return (joined
            .where((ls < re_) & (rs < le)
                   & (F.col("__ij_b")
                      == F.greatest("__ij_s0", "__ij_s0_r")))
            .drop("__ij_b", "__ij_s0", "__ij_s0_r"))


def salted_join(fact: DataFrame, build: DataFrame,
                on: str | Sequence[str], how: str = "inner",
                salt: int = 8,
                fact_salt_cols: Sequence[str] | None = None) -> DataFrame:
    """Skew-resistant equi-join: replicate the build side ``salt``×
    and spread each fact key's rows across ``salt`` sub-keys.

    At 100 TB a handful of hot join keys (one giant order, one viral
    document) can pin an entire shuffle on one reducer.  AQE skew-join
    splitting handles this adaptively; ``salted_join`` is the explicit,
    plan-deterministic form for when the skew is known up front.  The
    fact side never duplicates rows — its salt is a deterministic hash
    of ``fact_salt_cols`` (default: all fact columns) — so the join
    result is exactly the plain join's.  Cost: build side is shuffled
    ``salt``× larger, which is why the *small* side must be ``build``.

    Only ``inner`` and ``left`` are supported: joins that preserve
    unmatched *build* rows (right/full outer) would emit one
    null-padded row per salt replica, not one.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: "
            "unmatched build rows would be replicated salt times")
    keys = [on] if isinstance(on, str) else list(on)
    cols = list(fact_salt_cols) if fact_salt_cols else fact.columns
    fact_s = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
               F.lit(salt)).cast("int"))
    build_s = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    return fact_s.join(build_s, on=keys + ["__salt"], how=how).drop("__salt")


def append_join_delta(a_old: DataFrame, a_delta: DataFrame,
                      b_old: DataFrame, b_delta: DataFrame,
                      on: str | Sequence[str],
                      broadcast_deltas: bool = True) -> DataFrame:
    """Incremental view maintenance for an append-only inner join:
    the rows ADDED to ``A JOIN B`` when ``a_delta`` / ``b_delta`` are
    appended, without re-joining the histories:

        delta = (dA join B_old) + (A_old join dB) + (dA join dB)

    The identity is exact for inserts (multiset semantics), which is
    the continuous-ingest case; it is the join-side complement of the
    aggregate maintenance in operators/timeseries.py (merge_rollups).

    Scale shape: the two history tables are each scanned once and
    joined only against a *delta* — with ``broadcast_deltas`` (the
    default; a delta batch is small by construction) both heavy legs
    are broadcast hash joins with ZERO shuffle of history, and the
    delta-delta leg is negligible.  History never joins history.
    """
    keys = [on] if isinstance(on, str) else list(on)
    da = F.broadcast(a_delta) if broadcast_deltas else a_delta
    db = F.broadcast(b_delta) if broadcast_deltas else b_delta
    d1 = da.join(b_old, keys)
    d2 = a_old.join(db, keys)
    d3 = da.join(db, keys)
    return d1.unionByName(d2).unionByName(d3)
