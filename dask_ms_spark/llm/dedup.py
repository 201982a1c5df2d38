"""Deduplication operators for corpus-scale pipelines.

No reference analogue (SURVEY §7 step 8 / BASELINE.json north star).
Five families, each shuffle-shaped for 100 TB:

* exact           — hash-groupBy on normalised text: one shuffle keyed
                    on a 64-bit digest, never on the raw text bytes.
* minhash_lsh     — shingle -> K minhashes -> B bands; candidate pairs
                    only within identical band buckets (the
                    classic MinHash-LSH join), so the self-join is a
                    bucket-local equi-join, not an O(n²) cross join.
* simhash         — 64-bit weighted-projection signature; near-dups
                    share signatures within small Hamming distance.
* ngram_jaccard   — exact Jaccard over character-shingle sets via an
                    exploded inverted index (shingle -> doc posting
                    list) + pair aggregation; prune by a minimum
                    shared-shingle count before scoring.
* embedding near-dup — cosine over ``array<float>`` embeddings; see
                    llm/similarity.py for the bucketed form.

All hashing uses the md5-derived ``portable_hash64`` so signatures are
engine-portable (oracle-checkable) and stable across runs/executors.

Cache discipline: the LSH/containment pipelines persist one
intermediate (signatures / shingle sets) that feeds 2-3 consumers in
the same plan.  Columnar ``persist`` measured 4-10x faster here than
``localCheckpoint`` (row-format blocks lose InMemoryRelation's
columnar scan), so the cache entry is deliberate — and every one is
registered through :func:`dask_ms_spark.cache.scoped_persist`, so it
has a paired release: drivers that loop over many corpora wrap each
batch in ``with dask_ms_spark.cache.cache_scope():`` (unpersists
exactly that batch's frames on exit) or call
``dask_ms_spark.cache.release_caches()`` between batches — never the
global ``spark.catalog.clearCache()``, which would drop the user's
own caches too.  The CacheManager does not release entries on GC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..functions.text import (char_ngrams, portable_hash64,
                              portable_hash64_sql)
from ..functions.vector import _bind_once, cosine
from ..session import ensure_parallelism

__all__ = ["normalize_text", "exact_dedup", "MINHASH_P", "MINHASH_COEFFS",
           "shingle_base_hashes", "minhash_signature", "minhash_from_base",
           "minhash_table", "with_minhash", "minhash_lsh_pairs", "minhash_dedup", "simhash",
           "with_simhash",
           "simhash_dedup", "lsh_jaccard_pairs", "ngram_jaccard_pairs",
           "embedding_dup_pairs", "embedding_dup_pairs_gemm",
           "embedding_dup_pairs_bucketed", "incremental_dedup",
           "edit_distance_pairs", "containment_pairs", "lsh_plan"]


def lsh_plan(threshold: float, num_hashes: int,
             fn_weight: float = 1.0) -> tuple[int, int]:
    """Choose LSH ``(num_bands, rows_per_band)`` for a target Jaccard
    ``threshold`` under a signature budget of ``num_hashes``
    permutations — the planning step Datar/Indyk-style LSH leaves to
    the user and mis-picking silently ruins (too few rows per band
    floods the verify stage with false candidates; too many bands of
    1 row degenerate to "any shared minhash").

    For a banding (b, r) the candidate probability at similarity s is
    the S-curve ``p(s) = 1 - (1 - s^r)^b``.  The planner scores every
    factorisation ``b * r <= num_hashes`` by the collision-mass
    integral below the threshold (false positives) plus
    ``fn_weight`` times the miss mass above it (false negatives),
    both by midpoint quadrature, and returns the minimiser — a pure
    driver-side function of three scalars, so planning cost is zero
    at any corpus size.  Raise ``fn_weight`` for recall-critical
    dedup (near-dup REMOVAL, where a miss ships a duplicate to
    training) and lower it when the verify stage is expensive.

    >>> lsh_plan(0.5, 32)
    (8, 4)
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"lsh_plan: threshold in (0,1), got "
                         f"{threshold}")
    if num_hashes < 2:
        raise ValueError(f"lsh_plan: num_hashes >= 2, got "
                         f"{num_hashes}")
    best, best_cost = None, None
    steps = 200
    for r in range(1, num_hashes + 1):
        for b in range(1, num_hashes // r + 1):
            fp = fn = 0.0
            for i in range(steps):
                s = (i + 0.5) / steps
                p = 1.0 - (1.0 - s ** r) ** b
                if s < threshold:
                    fp += p
                else:
                    fn += (1.0 - p) * fn_weight
            cost = (fp + fn) / steps
            if best_cost is None or cost < best_cost:
                best, best_cost = (b, r), cost
    return best


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per normalised-text group.

    Shuffles on the 64-bit digest of the text, not the text itself —
    at 100 TB the shuffle payload is (id, digest), a few bytes/row.
    """
    digest = portable_hash64(normalize_text(F.col(text_col)))
    docs = ensure_parallelism(docs)
    return (docs.select(F.col(id_col), digest.alias("text_hash"))
                .groupBy("text_hash")
                .agg(F.min(id_col).alias("keep_id"),
                     F.count(F.lit(1)).alias("dup_count")))


def incremental_dedup(new_docs: DataFrame, base_docs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      broadcast_base: bool = False) -> DataFrame:
    """Dedup an incoming batch against an existing corpus.

    The production backfill shape: the base corpus never moves — it is
    reduced to a *distinct 64-bit fingerprint store* (8 bytes/doc),
    and each new document carries only ``(id, digest)`` into the join.
    Returns one row per new document: ``(id, text_hash, is_dup)``.

    At 100 TB the fingerprint store is itself large, so the default is
    a digest-keyed shuffle join (both sides hashed on the 8-byte
    digest); pass ``broadcast_base=True`` when the base store fits in
    executor memory (e.g. a curated eval set), which removes the
    new-batch shuffle entirely.  In steady state the distinct store
    would be persisted once and reused across batches rather than
    recomputed (write ``base_digests`` out with the parquet sink).
    """
    digest = portable_hash64(normalize_text(F.col(text_col)))
    base = base_docs.select(digest.alias("text_hash")).distinct() \
                    .withColumn("__hit", F.lit(True))
    if broadcast_base:
        base = F.broadcast(base)
    new = ensure_parallelism(new_docs).select(
        F.col(id_col), digest.alias("text_hash"))
    return (new.join(base, "text_hash", "left")
               .select(id_col, "text_hash",
                       F.coalesce("__hit", F.lit(False)).alias("is_dup")))


# Mersenne prime 2^31-1: (a*h + b) stays under 2^62, so the affine
# permutation hashes below are exact in int64 arithmetic in any engine.
MINHASH_P = 2_147_483_647

# Fixed affine-permutation constants (a_i, b_i), a_i != 0 mod P.
# Derived once from Knuth multiplicative constants; hardcoded so Spark
# and external oracles stay in sync by construction.
MINHASH_COEFFS: list[tuple[int, int]] = [
    ((2 * i + 1) * 2_654_435_761 % MINHASH_P,
     (i + 1) * 2_246_822_519 % MINHASH_P)
    for i in range(64)
]


def _coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """The first ``num_hashes`` permutation constants."""
    if not 1 <= num_hashes <= len(MINHASH_COEFFS):
        raise ValueError(
            f"num_hashes must be in [1, {len(MINHASH_COEFFS)}] (the "
            f"baked permutation table), got {num_hashes}")
    return MINHASH_COEFFS[:num_hashes]


def shingle_base_hashes(text: Column, shingle_k: int = 5) -> Column:
    """Distinct shingles -> one portable 31-bit base hash each.

    One md5 per shingle; the K permutations are derived arithmetically
    (affine maps mod 2^31-1), so cost is O(shingles), not
    O(shingles * K) md5 invocations.
    """
    shingles = char_ngrams(normalize_text(text), shingle_k)
    return F.transform(
        shingles, lambda s: portable_hash64(s) % F.lit(MINHASH_P))


def minhash_signature(text: Column, num_hashes: int = 32,
                      shingle_k: int = 5) -> Column:
    """K minhash values over character-k-shingles (Column form).

    Prefer :func:`with_minhash` on a DataFrame: it materialises the
    base-hash array in its own projection so the shingle + md5 work is
    evaluated once, not once per permutation.
    """
    return minhash_from_base(shingle_base_hashes(text, shingle_k),
                             num_hashes)


def minhash_from_base(base: Column, num_hashes: int = 32) -> Column:
    """Affine-permutation minima over a base-hash array.  The base
    binds once per row (review r9): an expression-typed input (the
    shingle+md5 chain) would otherwise re-evaluate per PERMUTATION."""
    coeffs = _coeffs(num_hashes)

    def run(bb):
        def perm_min(a: int, b: int):
            # single-arg lambda: a two-arg lambda would make
            # transform() pass the element index as the second arg
            return F.array_min(F.transform(
                bb, lambda h: (F.lit(a) * h + F.lit(b))
                % F.lit(MINHASH_P)))

        return F.array(*[perm_min(a, b) for a, b in coeffs])

    return _bind_once(run, bb=base)


def minhash_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 32,
                  shingle_k: int = 5, with_hset: bool = False) -> DataFrame:
    """(id, sig[, hset]) via explode + aggregate — the codegen path.

    The array form (``minhash_from_base``) runs K·|shingles|
    interpreted lambda steps per row: higher-order functions are not
    whole-stage-codegen'd.  Exploding to one row per (doc, shingle
    hash) makes the K affine permutations plain codegen'd projections
    and the minima map-side partial aggregates; the shuffle carries
    (id, K ints) after combining.  ``sig`` is ONE aggregate expression,
    ``array(min((a_0*h + b_0) % P), ...)``, parsed from SQL text in one
    call instead of K Column trees built element by element; its
    values and type (``array<bigint>``) are identical to the array
    form by construction.  Plan shape: scan (round-robin widened when
    under-split) -> explode -> partial aggregate -> hash exchange on
    id -> final aggregate.  One row per distinct id: rows sharing an
    id pool their shingles into one signature, and a row with NULL
    text has no shingles and no row.
    """
    coeffs = _coeffs(num_hashes)
    shingles = char_ngrams(normalize_text(F.col(text_col)), shingle_k)
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("s"))
    hashed = exploded.select(
        "id", (portable_hash64(F.col("s")) % F.lit(MINHASH_P)).alias("h"))
    sig = F.expr("array(" + ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P})"
        for a, b in coeffs) + ")")
    aggs = [sig.alias("sig")]
    if with_hset:
        aggs.append(F.collect_set("h").alias("hset"))
    return hashed.groupBy("id").agg(*aggs)


def with_minhash(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", num_hashes: int = 32,
                 shingle_k: int = 5, keep: tuple = ()) -> DataFrame:
    """(id, sig) DataFrame (see :func:`minhash_table` for the plan
    shape; ``keep`` columns rejoin by id)."""
    sigs = minhash_table(docs, text_col, id_col, num_hashes, shingle_k)
    if keep:
        extra = docs.select(F.col(id_col).alias("id"),
                            *[F.col(c) for c in keep])
        sigs = sigs.join(extra, on="id")
    return sigs


def _bands(sig: str, num_bands: int, rows_per_band: int) -> Column:
    """Band digests of the signature column ``sig`` as ONE array
    expression: element b hashes the b-th contiguous rows_per_band
    slice, ``portable_hash64(concat_ws(",", ...), f"band{b}")``."""
    def band(b: int) -> str:
        rows = ", ".join(
            f"CAST(element_at({sig}, {b * rows_per_band + r + 1}) AS STRING)"
            for r in range(rows_per_band))
        return portable_hash64_sql(f"concat_ws(',', {rows})", f"band{b}")

    return F.expr("array(" + ", ".join(band(b) for b in range(num_bands))
                  + ")")


def _cap_buckets(banded: DataFrame, max_bucket_size: int | None
                 ) -> DataFrame:
    """Drop LSH buckets holding more than ``max_bucket_size`` docs.

    A bucket of B docs emits B(B-1)/2 candidate pairs, so candidate
    volume is quadratic in bucket occupancy — and occupancy grows
    linearly with corpus size wherever many documents share moderate
    similarity (boilerplate, templates, small effective vocabulary).
    Measured here: a synthetic 10x corpus went 95x in wall clock with
    uncapped buckets (max occupancy 152 -> ~1500) and returned to
    ~linear with a cap.  Overfull buckets are near-certainly
    boilerplate clusters, which exact/boilerplate dedup handles at a
    fraction of the cost; true near-dup pairs still meet in their
    other, purer bands with probability 1-(miss)^(bands-1).

    The count runs as a partial-merged aggregate joined back on the
    bucket key (same partitioning as the subsequent self-join, so AQE
    coalesces the exchanges), not a row-window over the exploded
    table.
    """
    if max_bucket_size is None:
        return banded
    sizes = (banded.groupBy("band_id", "band_hash")
                   .agg(F.count(F.lit(1)).alias("__occ"))
                   .where(F.col("__occ") <= max_bucket_size))
    return banded.join(sizes.select("band_id", "band_hash"),
                       ["band_id", "band_hash"])


def _rows_per_band(num_hashes: int, num_bands: int) -> int:
    """Signature rows per LSH band; rejects a banding with none."""
    rows_per_band = num_hashes // num_bands
    if rows_per_band < 1:
        raise ValueError(
            f"num_bands ({num_bands}) > num_hashes ({num_hashes}): "
            "rows_per_band would be 0 and EVERY document would "
            "collide in every band — an all-pairs self-join; use "
            "lsh_plan(threshold, num_hashes) to pick a banding")
    return rows_per_band


def _banded_table(sigged: DataFrame, num_bands: int,
                  rows_per_band: int,
                  max_bucket_size: int | None) -> DataFrame:
    """(id, band_id, band_hash) exploded band table, bucket-capped,
    PERSISTED.

    The self-join consumes this subtree on BOTH sides (and the cap's
    occupancy aggregate makes a third consumer), so without a persist
    the band-digest md5s are computed 2-3x and the occupancy
    aggregate's exchange runs twice (plan-verified r12).  The frame
    is three 8-byte columns per (doc, band) — the narrowest relation
    in the pipeline — so the persist is cheap at any scale and
    removes one full aggregate + exchange from the plan
    (interleaved A/B at sf0.1, with the struct-payload change below:
    dedup_lsh_capped 0.65x, dedup_ngram_jaccard 0.70x,
    graph_triangles 0.87x, split_leakage 0.93x)."""
    bands = _bands("sig", num_bands, rows_per_band)
    banded = sigged.select(
        "id", F.posexplode(bands).alias("band_id", "band_hash"))
    return scoped_persist(_cap_buckets(banded, max_bucket_size))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 32,
                      num_bands: int = 8, shingle_k: int = 5,
                      threshold: float = 0.5,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, then exact
    signature-Jaccard estimation on candidates only.

    Plan shape at scale: docs -> (band_id, band_hash, id, sig) explode
    (num_bands rows/doc) -> hash-shuffle on (band_id, band_hash) ->
    bucket-local self-join -> distinct pairs -> score.  No cross join
    ever materialises; skew in huge buckets is handled by AQE skew
    splitting, and ``max_bucket_size`` bounds the quadratic
    candidate blowup on boilerplate-heavy corpora (see
    :func:`_cap_buckets`) — set it (e.g. 500) on any corpus where
    many documents share templates.
    """
    rows_per_band = _rows_per_band(num_hashes, num_bands)
    with_sig = scoped_persist(with_minhash(docs, text_col, id_col,
                                           num_hashes, shingle_k))
    # Band join and pair-dedup on ids ONLY; signatures re-attach to the
    # deduped candidate set (a band collision in several bands would
    # otherwise ship sig pairs once per colliding band).
    banded = _banded_table(with_sig, num_bands, rows_per_band,
                           max_bucket_size)
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (left.join(right, on=["band_id", "band_hash"])
                .where(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .distinct())
    sig_tbl = with_sig.select("id", "sig")
    pairs = (cand
             .join(_payload(sig_tbl.select(F.col("id").alias("id_a"),
                                           F.col("sig").alias("sig_a"))),
                   "id_a")
             .join(_payload(sig_tbl.select(F.col("id").alias("id_b"),
                                           F.col("sig").alias("sig_b"))),
                   "id_b"))
    matches = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        lambda v: v == 1))
    # No _verify_once barrier here (r12 optimization round): the
    # signature-agreement estimate is a zip_with over K small ints —
    # re-evaluating it in a pushed-down join condition costs
    # nanoseconds, unlike the levenshtein/array_intersect verifies
    # that keep their Generate barrier.  Dropping the barrier removes
    # one round-robin exchange + Generate per LSH query.
    return (pairs.select("id_a", "id_b",
                         (matches / F.lit(num_hashes))
                         .alias("est_jaccard"))
                 .where(F.col("est_jaccard") >= threshold))


def minhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", **kw) -> DataFrame:
    """Docs to DROP: connected to a lower-id near-duplicate.

    Single-link transitive closure is iterative; the standard one-pass
    approximation (keep the minimum id among direct neighbours) is what
    production dedup pipelines run per batch.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, **kw)
    return (pairs.groupBy(F.col("id_b").alias("drop_id"))
                 .agg(F.min("id_a").alias("kept_id"),
                      F.max("est_jaccard").alias("max_sim")))


def _simhash_nbits(bits: int, fn: str) -> int:
    """Usable vote-bit count for a requested signature width.

    portable_hash64 yields 60-bit hashes (votes on higher bits are
    constant -1, dead signature bits) and the signature must fit a
    signed bigint, so widths above 61 clamp to 60 vote bits with a
    warning instead of rejecting the documented default bits=64
    (review r9)."""
    if bits < 2:
        raise ValueError(f"{fn}: bits must be >= 2, got {bits}")
    if bits > 61:
        import warnings

        warnings.warn(
            f"{fn}: bits={bits} clamped to 60 effective vote bits "
            "(portable_hash64 is 60-bit; the signature is a signed "
            "bigint)", stacklevel=3)
    return min(bits - 1, 60)


def simhash(text: Column, shingle_k: int = 4, bits: int = 64) -> Column:
    """SimHash signature (Column form): sign-sum of per-shingle hash
    bits.  bit_j(doc) = 1 if sum over shingles of (+1 if hash(shingle)
    bit j else -1) > 0.  Returns the signature as a bigint.

    One pass over the shingle-hash array: the fold accumulator is the
    per-bit vote array, merged with ``zip_with`` against each hash's
    bit vector.  For the DataFrame pipeline prefer :func:`with_simhash`
    (explode + partial-aggregated vote sums — the shuffle-friendly
    shape).
    """
    nbits = _simhash_nbits(bits, "simhash")
    shingles = char_ngrams(normalize_text(text), shingle_k)
    hashes = F.transform(shingles, lambda s: portable_hash64(s, "simhash"))
    zero = F.array_repeat(F.lit(0), nbits)

    def bitvec(h: Column) -> Column:
        # bit j as ±1 votes; literal shifts keep numBits an int
        return F.array(*[
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
             .otherwise(F.lit(-1))
            for j in range(nbits)])

    votes = F.aggregate(hashes, zero,
                        lambda acc, h: F.zip_with(acc, bitvec(h),
                                                  lambda a, b: a + b))
    weights = F.array(*[F.lit(2 ** j).cast("bigint") for j in range(nbits)])
    return F.aggregate(
        F.zip_with(votes, weights,
                   lambda v, w: F.when(v > 0, w).otherwise(F.lit(0)
                                                           .cast("bigint"))),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def with_simhash(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_k: int = 4,
                 bits: int = 16) -> DataFrame:
    """(id, simhash) via explode + vote-sum aggregation.

    The 100 TB shape: one explode (doc -> distinct shingle hashes), one
    hash-shuffle keyed on id with map-side partial sums of the
    (bits-1) vote columns, then the signature reassembled from vote
    signs.  The shingle/md5 work runs exactly once per shingle.
    """
    nbits = _simhash_nbits(bits, "with_simhash")
    shingles = char_ngrams(normalize_text(F.col(text_col)), shingle_k)
    exploded = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(shingles).alias("shingle"))
    # stage the hash as an attribute: the 15 vote columns then read it
    # instead of re-deriving md5 per bit
    hashed = exploded.select(
        "id", portable_hash64(F.col("shingle"), "simhash").alias("h"))
    h = F.col("h")
    votes = hashed.select("id", *[
        F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1))
         .otherwise(F.lit(-1)).alias(f"v{j}")
        for j in range(nbits)])
    sums = votes.groupBy("id").agg(
        *[F.sum(f"v{j}").alias(f"v{j}") for j in range(nbits)])
    sig = None
    for j in range(nbits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("bigint")) \
                .otherwise(F.lit(0).cast("bigint"))
        sig = term if sig is None else sig + term
    return sums.select("id", sig.alias("simhash"))


def simhash_dedup(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_k: int = 4,
                  bits: int = 16) -> DataFrame:
    """Exact-signature SimHash grouping (Hamming distance 0): group by
    signature, keep min id.  For Hamming<=d banding, split the
    signature into d+1 blocks and LSH-join as in minhash_lsh_pairs."""
    sigs = with_simhash(docs, text_col, id_col, shingle_k, bits)
    return (sigs.groupBy("simhash")
                .agg(F.min("id").alias("keep_id"),
                     F.count(F.lit(1)).alias("dup_count")))


def _verify_once(df: DataFrame, name: str, col: Column) -> DataFrame:
    """Evaluate an expensive verify expression exactly ONCE per row.

    A deterministic filter over a projected expression pushes through
    the Project into the join CONDITION (PushDownPredicates), where
    it re-evaluates per comparison and AGAIN for every output column
    derived from it — measured r12: dedup_edit_distance paid 2.4x
    wall once its payload joins became sort-merge, because the
    banded levenshtein ran inside the SMJ condition plus twice in
    the projection above it.  ``explode(array(col))`` is a Generate
    node: predicates on generator output cannot push below it, and
    the generated attribute is a plain column every consumer reuses —
    one evaluation, and the threshold filter stays ABOVE the join at
    any scale.  (array(col) always has exactly one element, so row
    count and null semantics are unchanged.)

    The round-robin repartition spreads the verify CPU uniformly:
    the sort-merge payload joins leave the pair set partitioned by
    id_b, and near-dup HUB documents concentrate thousands of pairs
    (and their levenshtein/array_intersect evaluations) on one core
    — a CPU skew AQE cannot see (its skew-join mitigation keys on
    partition BYTES; measured r12: 8.4 s vs 0.8 s for the identical
    52k levenshtein evaluations, id_b-clustered vs uniform).  The
    exchange moved is the id-pair set plus payload columns —
    O(survivors), bounded by the candidate caps."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(n_parts)
              .select("*", F.explode(F.array(col)).alias(name)))


def _payload(tbl: DataFrame) -> DataFrame:
    """Pin a candidate->payload re-attach join to sort-merge.

    The payload tables (minhash signatures, shingle-hash sets,
    normalized text) are O(corpus) rows with FAT list/string columns.
    Both the plan-time estimate (rows x default width) and AQE's
    runtime signal (COMPRESSED shuffle bytes) undersize them, so the
    join happily auto-broadcasts — measured r12: a plain 1 GiB-driver
    session at 50k docs dies with 'Not enough memory to build and
    broadcast' re-attaching the ~125 MB shingle-set table whose
    compressed shuffle size sat under the 10 MB threshold.  On a
    cluster the same choice ships the corpus to every executor.  The
    candidate side is the smaller one but O(pairs) and unbounded
    above, so the scale-safe plan is the partitioned sort-merge join
    on the 8-byte id key — the hint forbids broadcast in BOTH
    directions for this join."""
    return tbl.hint("merge")


def lsh_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 5,
                      num_hashes: int = 16, num_bands: int = 4,
                      threshold: float = 0.75,
                      prefilter_margin: float = 0.35,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup pairs with EXACT n-gram Jaccard, found via LSH.

    The 100 TB shape, stage by stage:

    1. banded MinHash-LSH proposes candidates (bucket-local equi-join,
       no all-pairs; skewed buckets split under AQE);
    2. candidates prefilter on *signature agreement* — the K minhash
       values already in hand, so chance band collisions between
       boilerplate-similar docs (measured: 131k candidates from 5k
       synthetic docs) drop before any heavy payload moves.  The
       cutoff ``matches >= ceil((threshold - prefilter_margin) * K)``
       is an integer compare on deterministic portable hashes, so any
       mirror engine computes the identical surviving set; a true
       >=threshold pair falls below it with probability
       P[Binom(K, j) < cutoff] (~2e-4 at K=16, j=0.6, margin 0.35);
    3. only survivors get the full shingle-hash sets re-attached (two
       id-keyed joins on a now-small set) for the exact
       ``array_intersect`` Jaccard verify.

    Compare ``ngram_jaccard_pairs``: the exact inverted-index form
    explodes on high-frequency shingles (a shingle present in every
    doc creates |docs|² posting pairs).
    """
    import math

    rows_per_band = _rows_per_band(num_hashes, num_bands)
    min_matches = math.ceil(max(threshold - prefilter_margin, 0.0)
                            * num_hashes)
    # The shingle-hash SET (int64s) replaces the string set for the
    # exact verify: 8-byte elements instead of strings, identical
    # Jaccard (hashes are portable and per-doc distinct on both
    # engines; cross-gram collisions mod 2^31-1 are ~1e-5/doc and
    # identical in any engine, so results stay comparable).
    # Five consumers below (band explode + sig/hset re-joins) would
    # each recompute the shingle->md5->signature chain — persist it
    # once (the reference memoises its ordering arrays the same way,
    # daskms/optimisation.py:215-269).
    sigged = scoped_persist(minhash_table(docs, text_col, id_col,
                                          num_hashes, n, with_hset=True))
    # Band join on (band_id, band_hash, id) ONLY — neither sigs nor
    # hash sets ride through the self-join shuffle and pair-dedup.
    banded = _banded_table(sigged, num_bands, rows_per_band,
                           max_bucket_size)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, on=["band_id", "band_hash"])
              .where(F.col("a.id") < F.col("b.id"))
              .select(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
              .distinct())
    # ONE payload join per side: (sig, hset) attach together, so the
    # candidate set crosses 2 sort-merge joins instead of 4 (each
    # join is an exchange + sort of the payload table — plan-verified
    # r12: 4 SMJs / 8 exchanges -> 2 / 4; A/B numbers on
    # _banded_table).  The hset rides along for candidates the
    # signature prefilter then drops, but the prefilter runs in the
    # SAME stage as the second join, so those bytes never cross
    # another exchange.  Join order/keys/filters are unchanged — the
    # surviving pair set is identical by construction.
    pay = sigged.select("id", F.struct("sig", "hset").alias("p"))
    with_sigs = (cand
                 .join(_payload(pay.select(
                     F.col("id").alias("id_a"),
                     F.col("p").alias("pa"))), "id_a")
                 .join(_payload(pay.select(
                     F.col("id").alias("id_b"),
                     F.col("p").alias("pb"))), "id_b"))
    matches = F.size(F.filter(
        F.zip_with(F.col("pa.sig"), F.col("pb.sig"),
                   lambda x, y: (x == y).cast("int")),
        lambda v: v == 1))
    joined = (with_sigs.where(matches >= F.lit(min_matches))
              .select("id_a", "id_b",
                      F.col("pa.hset").alias("ha"),
                      F.col("pb.hset").alias("hb")))
    # r12 optimization: Jaccard is bounded by the set-size ratio
    # (J = I/(a+b-I) <= min(a,b)/max(a,b) since I <= min and
    # a+b-I >= max), so pairs whose sizes alone forbid J >= threshold
    # skip the exact array_intersect entirely.  The 1e-6 slack keeps
    # borderline float comparisons on the verify side — a few extra
    # pairs still verified exactly, never one lost (result identical;
    # oracle MATCH both SFs).
    sa, sb = F.size("ha"), F.size("hb")
    joined = joined.where(
        F.least(sa, sb).cast("double")
        >= F.lit(float(threshold)) * F.greatest(sa, sb) - F.lit(1e-6))
    joined = _verify_once(joined, "__inter",
                          F.size(F.array_intersect("ha", "hb")))
    union = F.size("ha") + F.size("hb") - F.col("__inter")
    jac = (F.col("__inter") / union).alias("jaccard")
    return (joined.select("id_a", "id_b", jac)
                  .where(F.col("jaccard") >= threshold))


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 5,
                      threshold: float = 0.9,
                      max_doc_freq: int = 50,
                      min_matches: int = 3) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs — the quote/subset
    detector: ``C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|``.

    A snippet pasted into a much larger document has containment ~1
    but LOW Jaccard (for size ratio ``r = |A|/|B|`` and containment
    ``t``, ``J = t·r / (1 + r − t·r)``), so the resemblance pipeline
    (:func:`lsh_jaccard_pairs`) structurally misses it — measured: a
    90-char quote inside a 1000-char page sits at J ≈ 0.09, where
    even 8×2 banding collides in under 6% of cases.  MinHash
    estimates RESEMBLANCE; containment needs its own candidate
    stage.

    Candidates here come from a document-frequency-CAPPED inverted
    index: postings on the shingle hashes, shingles appearing in more
    than ``max_doc_freq`` documents dropped (boilerplate — its pairs
    are resemblance territory), pairs sharing at least
    ``min_matches`` surviving shingles proceed to the EXACT verify on
    the full shingle-hash sets.  Deterministic end to end (portable
    hashes, integer df cap), so any mirror engine derives the
    identical pair set.

    Scale shape: the posting self-join fans out at most
    ``max_doc_freq²`` pairs per shingle — the cap is the load bound,
    exactly like ``max_bucket_size`` in the LSH family; the verify
    joins touch only surviving candidates.  Documented recall bound:
    a snippet whose EVERY shingle is boilerplate (df > cap) yields no
    candidates — by then it is boilerplate itself
    (``phrase_boilerplate``'s territory).

    Returns ``(id_a, id_b, cont_a_in_b, cont_b_in_a, containment)``
    with ``containment = max(both directions) >= threshold``; values
    rounded to 6 decimals (engine-mirrorable).
    """
    if max_doc_freq < 2:
        raise ValueError("containment_pairs: max_doc_freq must be "
                         f">= 2, got {max_doc_freq}")
    shingles = char_ngrams(normalize_text(F.col(text_col)), n)
    hset_tbl = (ensure_parallelism(docs)
                .select(F.col(id_col).alias("id"),
                        F.explode(shingles).alias("s"))
                .select("id", (portable_hash64(F.col("s"))
                               % F.lit(MINHASH_P)).alias("h"))
                .groupBy("id").agg(F.collect_set("h").alias("hset")))
    hset_tbl = scoped_persist(hset_tbl)
    postings = hset_tbl.select("id", F.explode("hset").alias("h"))
    rare = (postings.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("h"))
    # persisted: the posting self-join consumes this subtree on BOTH
    # sides, so without it the df-cap aggregate's full posting
    # shuffle runs twice (the _banded_table rule; two 8-byte columns
    # per posting, cheap at any scale)
    capped = scoped_persist(postings.join(rare, "h"))
    a, b = capped.alias("a"), capped.alias("b")
    cand = (a.join(b, on="h")
             .where(F.col("a.id") < F.col("b.id"))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("__shared"))
             .where(F.col("__shared") >= min_matches)
             .select("id_a", "id_b"))
    joined = (cand
              .join(_payload(hset_tbl.select(
                  F.col("id").alias("id_a"),
                  F.col("hset").alias("ha"))), "id_a")
              .join(_payload(hset_tbl.select(
                  F.col("id").alias("id_b"),
                  F.col("hset").alias("hb"))), "id_b"))
    joined = _verify_once(joined, "__inter",
                          F.size(F.array_intersect("ha", "hb")))
    out = joined.select(
        "id_a", "id_b",
        F.round(F.col("__inter") / F.size("ha"), 6)
        .alias("cont_a_in_b"),
        F.round(F.col("__inter") / F.size("hb"), 6)
        .alias("cont_b_in_a"))
    return (out.withColumn("containment",
                           F.greatest("cont_a_in_b", "cont_b_in_a"))
               .where(F.col("containment") >= threshold))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        min_shared: int = 1) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via an inverted index.

    Explode distinct shingles -> shuffle keyed on the shingle hash ->
    per-shingle posting join -> count shared shingles per pair ->
    |A∩B| / (|A|+|B|−|A∩B|).  The join is on 8-byte shingle hashes,
    not strings; high-document-frequency shingles are the skew risk —
    prune with ``min_shared`` and AQE.
    """
    grams = F.array_distinct(char_ngrams(normalize_text(F.col(text_col)), n))
    base = ensure_parallelism(docs).select(F.col(id_col).alias("id"),
                       grams.alias("grams"),
                       F.size(grams).alias("n_grams"))
    inv = base.select(
        "id", "n_grams",
        F.explode(F.transform("grams", lambda g: portable_hash64(g)))
         .alias("gram_hash"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (a.join(b, on="gram_hash")
                .where(F.col("a.id") < F.col("b.id"))
                .groupBy(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b"),
                         F.col("a.n_grams").alias("na"),
                         F.col("b.n_grams").alias("nb"))
                .agg(F.count(F.lit(1)).alias("shared")))
    jac = (F.col("shared") /
           (F.col("na") + F.col("nb") - F.col("shared"))).alias("jaccard")
    return (shared.where(F.col("shared") >= min_shared)
                  .select("id_a", "id_b", jac)
                  .where(F.col("jaccard") >= threshold))


def embedding_dup_pairs(embs: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (codegen'd join form).

    O(n²) pairwise folds — correct but slow beyond ~10⁴ rows; prefer
    :func:`embedding_dup_pairs_gemm` (blocked matrix multiply) or the
    LSH-bucketed path (llm/similarity.py).
    """
    a = embs.select(F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("vec_a"))
    b = embs.select(F.col(id_col).alias("id_b"),
                    F.col(vec_col).alias("vec_b"))
    sim = cosine(F.col("vec_a"), F.col("vec_b")).alias("cos_sim")
    return (a.join(b, F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", sim)
             .where(F.col("cos_sim") >= threshold))


def embedding_dup_pairs_gemm(embs: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             threshold: float = 0.95,
                             block_size: int = 1024) -> DataFrame:
    """Embedding-cosine near-dup pairs via blocked GEMM.

    Fully distributed blocked all-pairs: vectors are packed into blocks
    (modulo-id assignment), block pairs (a <= b) meet via a join of the
    packed block table with itself, and each block pair is scored with
    one float64 matrix multiply (numpy/BLAS) inside ``mapInPandas``.
    No driver collect, no executor-memory broadcast of the corpus —
    shuffle volume is O(B · corpus) for B blocks, and each task is a
    dense GEMM, the highest-throughput way to do all-pairs cosine.
    At the 100 TB tier, put an IVF/LSH bucketing in front so only
    same-bucket block pairs form, and keep this kernel as the
    within-bucket scorer.
    """
    import math

    import numpy as np
    import pandas as pd

    n = embs.count()
    num_blocks = max(1, math.ceil(n / block_size))
    packed = (embs.select((F.col(id_col) % num_blocks).alias("blk"),
                          F.col(id_col).alias("id"), F.col(vec_col)
                          .alias("vec"))
                  .groupBy("blk")
                  .agg(F.collect_list(F.struct("id", "vec")).alias("rows")))
    pairs = (packed.select(F.col("blk").alias("blk_a"),
                           F.col("rows").alias("rows_a"))
             .join(packed.select(F.col("blk").alias("blk_b"),
                                 F.col("rows").alias("rows_b")),
                   F.col("blk_a") <= F.col("blk_b")))

    return _gemm_score_block_pairs(
        pairs.select("blk_a", "blk_b", "rows_a", "rows_b"), threshold)


def _gemm_score_block_pairs(pairs: DataFrame,
                            threshold: float) -> DataFrame:
    """Score packed block pairs with one float64 GEMM per pair.

    ``pairs`` carries ``(blk_a, blk_b, rows_a, rows_b)`` where each
    ``rows_*`` is a packed ``array<struct<id, vec>>`` block; a
    diagonal pair (``blk_a == blk_b``, same cell on both sides) dedups
    the symmetric similarity matrix with an ``id_a < id_b`` mask.
    Shared kernel of :func:`embedding_dup_pairs_gemm` (all block
    pairs) and :func:`embedding_dup_pairs_bucketed` (bucket-local
    block pairs).
    """
    import numpy as np
    import pandas as pd

    def unpack(cell) -> tuple:
        ids = np.fromiter((r["id"] for r in cell), dtype=np.int64,
                          count=len(cell))
        mat = np.array([r["vec"] for r in cell], dtype=np.float64)
        nrm = np.sqrt((mat * mat).sum(axis=1))
        nrm[nrm == 0] = 1.0
        return ids, mat / nrm[:, None]

    def score(batches):
        for pdf in batches:
            for blk_a, blk_b, rows_a, rows_b in zip(
                    pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]):
                ia, ua = unpack(rows_a)
                ib, ub = unpack(rows_b)
                sims = ua @ ub.T
                if blk_a == blk_b:
                    # diagonal block: dedup the symmetric matrix
                    qi, ci = np.nonzero((sims >= threshold) &
                                        (ia[:, None] < ib[None, :]))
                    lo, hi = ia[qi], ib[ci]
                else:
                    # off-diagonal: every hit is a distinct unordered
                    # pair, but the lower id may sit on either side
                    qi, ci = np.nonzero(sims >= threshold)
                    lo = np.minimum(ia[qi], ib[ci])
                    hi = np.maximum(ia[qi], ib[ci])
                yield pd.DataFrame({"id_a": lo, "id_b": hi,
                                    "cos_sim": sims[qi, ci]})

    return pairs.mapInPandas(
        score, schema="id_a long, id_b long, cos_sim double")


def embedding_dup_pairs_bucketed(embs: DataFrame,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id",
                                 dim: int = 64,
                                 threshold: float = 0.95,
                                 num_planes: int = 4,
                                 block_size: int = 1024,
                                 multiprobe: bool = False,
                                 seed: str = "dask-ms-spark") -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH buckets in front of the
    blocked-GEMM scorer — the 100 TB composition.

    :func:`embedding_dup_pairs_gemm` forms ALL block pairs, O(n²/B²)
    GEMMs; here each vector is sign-hashed into a hyperplane bucket
    (``llm.similarity.hyperplane_signature`` — pure codegen, planes
    baked as literals) and block pairs form only *within* a bucket, so
    the block-pair join is a bucket-keyed equi-join (hash/sort-merge),
    never a cartesian.  Expected work drops by ~2^num_planes for
    near-uniform buckets; recall < 1 by construction (a pair split
    across buckets is never scored).

    ``multiprobe=True`` replicates every vector into its own bucket
    plus the ``num_planes`` Hamming-1 flips, so a pair meets iff their
    signatures differ in <= 2 bits — recall rises at ~(num_planes+1)×
    replication cost.  Duplicate meetings collapse via a final
    (id_a, id_b) aggregation.

    Both the bucketing and the cosine scores are deterministic and
    engine-portable: an external oracle reproduces the pair set with
    ``bit_count(xor(sig_a, sig_b)) <= radius`` over the same baked
    plane literals.
    """
    import math

    from .similarity import hyperplane_signature

    tagged = embs.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("vec"))
    # a dim mismatch makes every hyperplane dot NULL (zip_with
    # null-pads), the bucket NULL, and the bucket equi-join silently
    # returns ZERO pairs — a dedup pass that "finds no duplicates"
    # (review r8); fail loudly instead
    sig = F.when(
        F.size("vec") == dim,
        hyperplane_signature(F.col("vec"), dim, num_planes, seed)
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"embedding_dup_pairs_bucketed: dim={dim} but vector "
              "has "), F.size("vec").cast("string"),
        F.lit(" elements — pass the embedding's true dim")))
        .cast("bigint"))
    tagged = tagged.withColumn("sig", sig)
    if multiprobe:
        probes = F.array(F.col("sig"),
                         *[F.col("sig").bitwiseXOR(F.lit(1 << j))
                           for j in range(num_planes)])
        tagged = tagged.select(
            "id", "vec", F.explode(probes).alias("bucket"))
    else:
        tagged = tagged.select("id", "vec", F.col("sig").alias("bucket"))

    n = embs.count()
    num_blocks = max(1, math.ceil(n / block_size))
    packed = (tagged
              .select("bucket", (F.col("id") % num_blocks).alias("blk"),
                      F.struct("id", "vec").alias("row"))
              .groupBy("bucket", "blk")
              .agg(F.collect_list("row").alias("rows")))
    pairs = (packed.select("bucket", F.col("blk").alias("blk_a"),
                           F.col("rows").alias("rows_a"))
             .join(packed.select("bucket", F.col("blk").alias("blk_b"),
                                 F.col("rows").alias("rows_b")),
                   on="bucket")
             .where(F.col("blk_a") <= F.col("blk_b")))
    scored = _gemm_score_block_pairs(
        pairs.select("blk_a", "blk_b", "rows_a", "rows_b"), threshold)
    if multiprobe:
        # the same pair can meet in several probed buckets; scores are
        # equal by construction, max() just picks the one row
        scored = (scored.groupBy("id_a", "id_b")
                  .agg(F.max("cos_sim").alias("cos_sim")))
    return scored


def _duckdb_available() -> bool:
    """The Arrow edit-distance kernel needs duckdb on the workers;
    probe the driver env (same interpreter in local mode, same image
    on a sanely-built cluster) and fall back to the JVM banded
    expression when absent — both paths are result-identical."""
    try:
        import duckdb  # noqa: F401
        return True
    except ImportError:
        return False


def _edits_arrow_kernel(pairs: DataFrame) -> DataFrame:
    """Exact Levenshtein over candidate pairs via DuckDB inside
    ``mapInArrow`` (guide §4.2: let Spark do distribution, hand whole
    Arrow batches to a native vectorized engine).

    Input: (id_a, id_b, ta, tb, __L); output replaces the texts with
    ``__edits`` (exact distance, unbanded).  Result-identity with the
    banded JVM form: the band threshold k only ever turned a distance
    that PROVABLY fails the max_edits/max_ratio filters into -1 —
    returning the exact distance instead drops the same pairs on the
    same filters (d > k = min(max_edits, floor(max_ratio*L)+1)
    implies d > max_edits or round(d/L, 6) > max_ratio).  DuckDB's
    ``levenshtein`` (1.0.0) counts UTF-8 bytes where Spark counts code
    points (``('café', 'cafe')`` is 2 there, 1 on the JVM), so DuckDB
    scores ASCII pairs only; a pair with a non-ASCII text gets the JVM
    banded ``levenshtein(ta, tb, __k)`` (input column ``__k``) after
    the spread and before the batch reaches DuckDB.  So does a pair
    whose band ``2*__k + 1`` is under half of ``__L``: there the band
    skips most of the O(n^2) matrix DuckDB would fill (two long,
    unrelated, same-length texts cost O(k * n), not O(n^2)), and
    the result is the same by the argument above.  The DuckDB oracle
    of ``dedup_edit_distance`` still scores with the byte-based
    function; it agrees only because the test data is ASCII.

    The round-robin repartition keeps `_verify_once`'s CPU-spread
    property: hub documents cluster thousands of pairs on one
    partition after the id_b payload join, a CPU skew AQE cannot see.
    The connection is constructed once per TASK and pinned to one
    thread — parallelism comes from Spark's tasks, not DuckDB's pool.
    """
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.schema.fields if f.name not in ("ta", "tb", "__k"))
    schema = f"{out_fields}, __edits int"
    ascii_pair = ((F.octet_length("ta") == F.length("ta"))
                  & (F.octet_length("tb") == F.length("tb")))
    narrow_band = (2 * F.col("__k") + 1) * 2 < F.col("__L")

    def score(batches):
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            con.register("b", tbl)
            out = con.execute(
                "SELECT * EXCLUDE (ta, tb, __jvm), CAST(CASE WHEN __jvm "
                "IS NULL THEN levenshtein(ta, tb) ELSE __jvm END AS INT) "
                "AS __edits FROM b"
            ).fetch_arrow_table()
            con.unregister("b")
            yield from out.to_batches()

    return (pairs.repartition(n_parts)
            .withColumn("__jvm", F.when(~ascii_pair | narrow_band, F.expr(
                "levenshtein(ta, tb, __k)")))
            .drop("__k").mapInArrow(score, schema))


def edit_distance_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        max_edits: int = 120,
                        max_ratio: float = 0.3,
                        num_hashes: int = 32, num_bands: int = 8,
                        shingle_k: int = 5,
                        lsh_threshold: float = 0.5,
                        max_bucket_size: int | None = None) -> DataFrame:
    """Verbatim-closeness near-dup pairs: LSH candidates verified by
    EXACT Levenshtein distance over the normalised text — the
    strictest member of the dedup family (n-gram Jaccard tolerates
    reordering; edit distance does not), the standard check before
    collapsing near-identical crawl revisions.

    Scale shape: candidates come from :func:`minhash_lsh_pairs`
    (ids-only shuffles, bucket caps apply), and payload text joins in
    ONLY for the surviving candidate set — two id-keyed joins on a
    small relation, never a corpus-wide text shuffle.  The distance
    counts code points.  With duckdb installed, DuckDB's unbanded
    ``levenshtein`` scores ASCII pairs whose band is wide, and the JVM
    banded ``levenshtein(l, r, k)`` (O(k * n)) scores the rest: the
    non-ASCII pairs and every pair whose band ``2k + 1`` is under half
    the longer text, so a pathological candidate pair (two long
    unrelated docs that collided in a band) costs the band, not the
    full O(n^2) matrix.  Without duckdb the JVM form scores every
    pair (see :func:`_edits_arrow_kernel`).

    Emits ``(id_a, id_b, edits, edit_ratio)`` for pairs with
    ``edits <= max_edits`` and ``edit_ratio = edits /
    max(len_a, len_b, 1) <= max_ratio``.
    """
    cand = minhash_lsh_pairs(docs, text_col, id_col, num_hashes,
                             num_bands, shingle_k, lsh_threshold,
                             max_bucket_size).select("id_a", "id_b")
    txt = docs.select(F.col(id_col).alias("id"),
                      normalize_text(F.col(text_col)).alias("t"))
    joined = (cand
              .join(_payload(txt.select(F.col("id").alias("id_a"),
                                        F.col("t").alias("ta"))),
                    "id_a")
              .join(_payload(txt.select(F.col("id").alias("id_b"),
                                        F.col("t").alias("tb"))),
                    "id_b"))
    # r12 optimization: band the DP to the TIGHTEST bound that cannot
    # change the result.  A surviving pair needs edits <= max_edits
    # AND edits/L <= max_ratio (L = longest text), and edits >=
    # |len_a - len_b| always — so (1) pairs whose length gap exceeds
    # k = min(max_edits, floor(max_ratio*L) + 1) are dropped BEFORE
    # the DP runs (d >= gap > k fails one of the filters: the +1
    # absorbs the 6-dp rounding of the ratio, and 1/L >> 5e-7 keeps
    # the bound exact for any realistic L), and (2) the banded
    # levenshtein runs at threshold k instead of max_edits — O(k * n)
    # with the data-dependent k, ~40% less DP work at max_ratio 0.4
    # on same-length pairs.  A pair with true d in (k, max_edits]
    # previously computed d exactly and then failed the ratio filter;
    # now the DP returns -1 and the edits >= 0 filter drops it — the
    # same set, cheaper (A/B-measured; oracle MATCH both SFs).
    longest0 = F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
    kcol = F.least(F.lit(max_edits),
                   F.floor(F.lit(float(max_ratio)) * longest0)
                   .cast("int") + 1)
    joined = (joined
              .withColumn("__k", kcol)
              .where(F.abs(F.length("ta") - F.length("tb"))
                     <= F.col("__k")))
    # r13 kernel choice (verdict r12 item 4), measured on the
    # materialised 40.6k-pair candidate frame at sf0.1 (medians of 5,
    # noop sink): stage floor without any DP 0.16 s; JVM banded
    # `levenshtein(ta, tb, __k)` 2.03-2.07 s; DuckDB-in-mapInArrow
    # full distance 1.49-1.80 s — ~1.25-1.45x on the DP stage,
    # 0.915x on the whole query (interleaved A/B, 6 alternations).
    # Why the band does not help here: the corpus' near-dup negatives
    # are content-similar but order-shuffled, so the surviving
    # candidates' true distance (median 305) sits ABOVE the band
    # (median k 180) while the band width 2k+1 is ~92% of the matrix
    # anyway — the threshold form saves almost no cells and pays
    # UTF8-decode-per-cell, while DuckDB's kernel runs the plain
    # matrix at native speed.  A pure-Python bit-parallel Myers was
    # microbenched at 850 us/pair vs DuckDB's 733 us — not taken.
    # Exact-safe prefilters beyond the r12 length-gap were measured
    # useless on this shape (character-histogram L1/2 lower bound
    # skips 0 of 40.6k pairs — order-shuffled texts share
    # histograms).
    if _duckdb_available():
        joined = _edits_arrow_kernel(
            joined.select("id_a", "id_b", "ta", "tb", "__k",
                          longest0.alias("__L")))
    else:
        joined = _verify_once(
            joined, "__edits",
            F.expr("levenshtein(ta, tb, __k)"))
        joined = joined.withColumn(
            "__L", F.greatest(F.length("ta"), F.length("tb"), F.lit(1)))
    return (joined
            .select("id_a", "id_b",
                    F.col("__edits").alias("edits"),
                    F.round(F.col("__edits") / F.col("__L"), 6)
                    .alias("edit_ratio"))
            .where((F.col("edits") >= 0) & (F.col("edits") <= max_edits)
                   & (F.col("edit_ratio") <= max_ratio)))
