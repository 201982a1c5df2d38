"""Mergeable cardinality sketches for corpus profiling.

Counting distinct tokens / urls / shingles across a 100 TB corpus is a
profiling staple, but Spark's ``approx_count_distinct`` (HLL++) and
DuckDB's ``approx_count_distinct`` use engine-private hash functions,
so their estimates can never be cross-checked value-for-value.  The
KMV (k-minimum-values) sketch fixes that: with a portable hash
(``portable_hash64`` — md5-derived, identical in Spark / DuckDB /
Python) the k smallest distinct hash values are a *deterministic*
function of the input set, and the classic estimator

    est = (k - 1) / u_k        (u_k = k-th smallest hash mapped to (0,1))

is reproducible bit-for-bit in any engine.  KMV sketches are also
mergeable (union = k smallest of the concatenation), which is what
makes them per-partition-combinable at scale.

Plan shape: the heavy shuffle is the per-group ``distinct`` over
(group, hash) — map-side combine collapses repeats before the
exchange, and only 8-byte hashes travel, never payloads.  The
k-minimum trim then runs on the *distinct* set as
``orderBy(h).limit(k)``, which Catalyst compiles to
``TakeOrderedAndProject`` — a per-partition top-k followed by a
k-sized merge, NEVER a global sort; a billion distinct hashes cost
each task a k-row heap and the driver a k*partitions merge.  (The
grouped branch uses a hash-partitioned window, which is equally
parallel.)  At 100 TB the distinct set of a truly high-cardinality
column is itself large; the production refinement (documented, not
needed at bench scale) is to pre-filter ``hash < t`` for a threshold
t chosen from a lower bound on the cardinality — KMV only ever
consults hashes below the final u_k, so any conservative t keeps the
shuffle a tiny fixed fraction of the input while leaving the result
identical.

No reference analogue (dask-ms has no sketching surface); this is part
of the LLM-pipeline extension set alongside llm/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_ms_spark.functions.text import portable_hash64
from dask_ms_spark.cache import scoped_persist

__all__ = ["kmv_distinct", "kmv_overlap", "HASH_SPACE",
           "cms_sketch", "cms_merge", "cms_estimate",
           "kmv_state", "kmv_merge_states", "kmv_estimate_state"]

# portable_hash64 yields 15 hex digits -> [0, 2^60)
HASH_SPACE = float(1 << 60)


def _k_smallest(df: DataFrame, k: int) -> DataFrame:
    """Keep the k smallest rows of a single-column hash table ``(h)``.

    Spelled ``orderBy(h).limit(k)`` so Catalyst plans
    ``TakeOrderedAndProject`` (per-partition top-k heap + k-sized
    merge) instead of the unpartitioned-Window global sort that
    ``row_number().over(Window.orderBy(h)) <= k`` would produce —
    the difference between O(k) per task and funnelling every
    distinct hash through one task."""
    return df.orderBy("h").limit(k)


def kmv_distinct(df: DataFrame, value_col: str, group_cols: list[str]
                 | None = None, k: int = 64) -> DataFrame:
    """Estimate the number of distinct ``value_col`` values per group
    with a k-minimum-values sketch.

    Returns one row per group: ``n_kept`` (sketch fill, = min(k,
    exact distinct)), ``est_distinct`` (bigint estimate; exact when the
    sketch is not full — KMV degrades gracefully to exact counting on
    small groups), and ``u_k`` (the k-th smallest normalised hash,
    rounded; the sketch "state" a re-run can be checked against).

    Deterministic: hashes are md5-derived, the k-minimum set of a
    distinct-hash collection has no ties, and the estimator is a pure
    function of u_k.
    """
    group_cols = list(group_cols or [])
    # NULL values are not set members: the NULL row would otherwise
    # inflate n_kept by one and shift the k-th minimum (review r9:
    # NULLs sort FIRST so a single NULL displaces a real hash from
    # every full sketch).  The exclusion filters the RAW column — a
    # scan-pushable IsNotNull — rather than the computed hash, which
    # duplicated the md5 chain into the Filter node (~8% of the
    # query wall, r10 A/B).  hash(x) IS NULL iff x IS NULL, so the
    # semantics are identical.
    hashed = (df.where(F.col(value_col).isNotNull())
              .select(*group_cols,
                      portable_hash64(F.col(value_col)).alias("h"))
              .distinct())
    if group_cols:
        # hash-partitioned window: every group trims in parallel
        w = Window.partitionBy(*group_cols).orderBy("h")
        ranked = (hashed
                  .withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") <= k))
    else:
        # ungrouped: TakeOrderedAndProject, never a global sort
        ranked = _k_smallest(hashed, k)
    est = F.when(
        F.count(F.lit(1)) < k,
        F.count(F.lit(1)).cast("double")
    ).otherwise(
        F.lit(float(k - 1)) / (F.max("h").cast("double") / F.lit(HASH_SPACE))
    )
    return (ranked.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                 F.round(est).cast("long").alias("est_distinct"),
                 F.round(F.max("h").cast("double") / F.lit(HASH_SPACE), 9)
                  .alias("u_k")))


def kmv_overlap(a: "DataFrame", b: "DataFrame", value_col: str,
                k: int = 256) -> "DataFrame":
    """Estimate |A|, |B|, |A ∪ B| and Jaccard(A, B) between two value
    sets from one merged KMV sketch — the release-to-release corpus
    overlap check (how much of v2 is v1?) without ever joining the
    corpora.

    The k smallest distinct hashes of A ∪ B are a uniform sample of
    the union, so the fraction of them present in both sides is a
    consistent (and, with a fixed portable hash, *deterministic*)
    Jaccard estimator; |A ∩ B| follows as jaccard * |A ∪ B|.  Each
    side contributes only (hash, flag) pairs — payloads never shuffle,
    and the sketch row count is bounded by k regardless of corpus
    size.

    Returns one row: ``k_used, est_a, est_b, est_union, jaccard``.
    """
    # raw-column NULL exclusion: scan-pushable, no duplicated md5
    # (hash(x) IS NULL iff x IS NULL — r10)
    ha = (a.where(F.col(value_col).isNotNull())
          .select(portable_hash64(F.col(value_col)).alias("h"))
          .distinct()
          .select("h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")))
    hb = (b.where(F.col(value_col).isNotNull())
          .select(portable_hash64(F.col(value_col)).alias("h"))
          .distinct()
          .select("h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")))
    # materialise once: the merged distinct-hash table feeds the union
    # sketch AND both per-side rank-trims (three consumers; without
    # this the two corpus scans re-execute per consumer)
    merged = (ha.unionByName(hb)
              .groupBy("h")
              .agg(F.max("in_a").alias("in_a"),
                   F.max("in_b").alias("in_b")))
    merged = scoped_persist(merged)
    sk = _k_smallest(merged, k)

    def est(cnt, mx):
        return F.when(cnt < k, cnt.cast("double")).otherwise(
            F.lit(float(k - 1)) / (mx.cast("double") / F.lit(HASH_SPACE)))

    # per-side estimates from the side's own k-minimum subset of the
    # union sketch (still a valid KMV sketch of that side as long as
    # it is full; below fill it is exact)
    agg = sk.agg(
        F.count(F.lit(1)).alias("n_u"),
        F.max("h").alias("mx_u"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    ja = F.round(F.col("n_both").cast("double")
                 / F.col("n_u").cast("double"), 6)
    union_est = est(F.col("n_u"), F.col("mx_u"))
    # side sketches need their own rank-trim; compute from the merged
    # distinct-hash table directly
    sa = (_k_smallest(merged.where(F.col("in_a") == 1).select("h"), k)
          .agg(F.count(F.lit(1)).alias("n_a"), F.max("h").alias("mx_a")))
    sb = (_k_smallest(merged.where(F.col("in_b") == 1).select("h"), k)
          .agg(F.count(F.lit(1)).alias("n_b"), F.max("h").alias("mx_b")))
    return (agg.crossJoin(sa).crossJoin(sb)
            .select(F.lit(k).cast("long").alias("k_used"),
                    F.round(est(F.col("n_a"), F.col("mx_a"))).cast("long")
                     .alias("est_a"),
                    F.round(est(F.col("n_b"), F.col("mx_b"))).cast("long")
                     .alias("est_b"),
                    F.round(union_est).cast("long").alias("est_union"),
                    ja.alias("jaccard")))


def cms_sketch(df: DataFrame, value_col: str, width: int = 1024,
               depth: int = 4, weight_col: str | None = None,
               salt: str = "cms") -> DataFrame:
    """Build a count-min sketch of ``value_col``: ``depth`` hash rows
    of ``width`` buckets, returned as one DataFrame row per non-empty
    cell ``(d, bucket, cnt)`` — the frequency-counting complement of
    the KMV cardinality sketch, with the same portability discipline:
    bucket hashes are md5-derived (``portable_hash64`` with a per-row
    salt), so any engine mirroring the arithmetic builds the
    bit-identical sketch.

    Scale shape: ONE scan; each input row map-side explodes into
    ``depth`` (d, bucket) pairs, and partial aggregation collapses
    them before the exchange — the reduce side is bounded by
    ``depth * width`` cells regardless of corpus size, which is also
    what makes sketches mergeable (:func:`cms_merge`: cell-wise sum)
    across corpus shards, releases, or stream batches without
    re-touching data.  ``weight_col`` counts weighted occurrences
    (e.g. token counts) instead of rows.
    """
    if width < 1 or depth < 1:
        raise ValueError(
            f"cms_sketch needs width/depth >= 1, got {width}/{depth}")
    w = (F.lit(1).cast("long") if weight_col is None
         else F.col(weight_col).cast("long"))
    cells = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 F.pmod(portable_hash64(F.col(value_col),
                                        f"{salt}:{d}"),
                        F.lit(width)).cast("long").alias("bucket"))
        for d in range(depth)])
    # NULL values hash to NULL buckets — dead cells that can never
    # match a probe's equi-join; drop them rather than carrying them
    # through merges (review r9)
    return (df.where(F.col(value_col).isNotNull())
            .select(F.explode(cells).alias("c"), w.alias("w"))
            .groupBy(F.col("c.d").alias("d"),
                     F.col("c.bucket").alias("bucket"))
            .agg(F.sum("w").alias("cnt")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (width, depth,
    salt): cell-wise sum — the merged sketch equals the sketch of the
    concatenated inputs exactly."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(sketch: DataFrame, items: DataFrame, value_col: str,
                 width: int = 1024, depth: int = 4,
                 salt: str = "cms") -> DataFrame:
    """Point-estimate the frequency of every row of ``items`` from a
    count-min sketch: est = min over hash rows of the item's cell
    count (0 when a cell is absent).  One-sided error — the estimate
    never undercounts, and overcounts by collision mass only
    (E[err] <= total_weight / width per row, min over rows).

    The sketch is broadcast (bounded by depth * width cells), so
    estimating any number of items is a map-side join — the shape
    that lets a 100 TB corpus's token frequencies be probed from a
    kilobyte-scale artifact."""
    probes = items.select(
        "*", F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     F.pmod(portable_hash64(F.col(value_col),
                                            f"{salt}:{d}"),
                            F.lit(width)).cast("long").alias("bucket"))
            for d in range(depth)])).alias("c")) \
        .select(*items.columns, F.col("c.d").alias("d"),
                F.col("c.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return (joined.groupBy(*items.columns)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("cms_est")))


def kmv_state(df: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """Mergeable KMV sketch STATE: the k smallest distinct portable
    hashes of ``value_col`` as rows ``(h)`` — the explicit state form
    of :func:`kmv_distinct` for stores and streams.  Merging states
    (:func:`kmv_merge_states`) is exact: the k smallest of a union is
    a pure function of the per-part k-smallest sets, which is what
    lets :func:`~dask_ms_spark.streaming.maintenance.
    maintain_mergeable` keep a distinct-count sketch current per
    micro-batch at O(k) state."""
    if k < 1:
        raise ValueError(f"kmv_state needs k >= 1, got {k}")
    return _k_smallest(
        df.where(F.col(value_col).isNotNull())
        .select(portable_hash64(F.col(value_col)).alias("h"))
        .distinct(), k)


def kmv_merge_states(*states: DataFrame, k: int = 256) -> DataFrame:
    """Exact KMV state merge: distinct union, keep the k smallest."""
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return _k_smallest(u.distinct(), k)


def kmv_estimate_state(state: DataFrame, k: int = 256) -> DataFrame:
    """Cardinality estimate from a KMV state: exact below fill
    (n < k), else the classic ``(k - 1) / u_k`` estimator — identical
    arithmetic to :func:`kmv_distinct`, so a maintained state and a
    one-shot sketch of the same data agree bit-for-bit."""
    agg = state.agg(F.count(F.lit(1)).alias("n_kept"),
                    F.max("h").alias("mx"))
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("mx").cast("double")
                               / F.lit(HASH_SPACE)))
    return agg.select("n_kept",
                      F.round(est).cast("long").alias("est_distinct"))
