"""Similarity search over embedding columns (BASELINE.json north star).

Two tiers:

* ``brute_force_topk`` — exact cosine top-k: query ⨯ corpus with a
  broadcast of the (small) query set, per-query window top-k.  The
  correct baseline, and the right plan whenever |queries| is small:
  the corpus never shuffles, each executor scores its own splits.
* ``lsh_topk`` — random-hyperplane LSH buckets: corpus and queries are
  hashed to sign-pattern buckets; scoring joins only same-bucket rows.
  Recall < 1 by construction; multi-probe (hamming-1 neighbours) lifts
  it.  This is the 100 TB path: bucket-local joins, no all-pairs.

Hyperplanes are seeded deterministically (portable md5-derived
pseudo-randoms) so plans are reproducible across runs and engines.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot


def _require_dense_seeds(df: DataFrame, id_col: str, n: int,
                         what: str) -> None:
    """The deterministic seed selections (`id < n` as centroids /
    codebooks) require ids 0..n-1 to ALL exist: with sparse or
    re-based ids the seed set comes up short — empty cells return
    zero neighbors, and PQ LUT rows indexed by code id go out of
    bounds, NULL the distances, and rank garbage FIRST (review r8).
    Fail loudly instead; the check scans only the (pushed-down)
    seed filter."""
    got = df.where(F.col(id_col) < n).select(id_col).distinct().count()
    if got < n:
        raise ValueError(
            f"{what}: only {got} of {n} seed vectors have "
            f"{id_col} < {n} — deterministic seeding needs dense "
            f"integer ids 0..{n - 1}; re-index ids (e.g. "
            "attach_rowid) or use the k-means index "
            "(build_ivf_index) instead")

__all__ = ["brute_force_topk", "hyperplane_signature", "lsh_topk",
           "build_ivf_index", "ivf_query_indexed",
           "ivf_assign", "ivf_topk", "random_projection",
           "projection_coefficients",
           "pq_codebooks", "pq_encode", "pq_topk",
           "build_pq_index", "pq_query_indexed", "ivfpq_topk"]


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     corpus_id: str = "vec_id", corpus_vec: str = "embedding",
                     query_id: str = "vec_id", query_vec: str = "embedding",
                     include_self: bool = False) -> DataFrame:
    """Exact cosine top-k per query via broadcast cross-score + window.

    Returns (query_id, neighbor_id, cos_sim, rank<=k).
    """
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("qvec"))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(corpus_vec).alias("cvec"))
    joined = c.crossJoin(F.broadcast(q))
    if not include_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id", "neighbor_id",
        cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def _seeded_unit(seed: str, dim: int) -> list[float]:
    """Deterministic pseudo-random unit vector from an md5 stream."""
    vals: list[float] = []
    counter = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}:{counter}".encode()).digest()
        for off in range(0, 16, 4):
            u = int.from_bytes(h[off:off + 4], "big") / 2 ** 32
            # Box-Muller would need pairs; uniform in [-1,1) is fine
            # for sign-hash hyperplanes.
            vals.append(2.0 * u - 1.0)
            if len(vals) == dim:
                break
        counter += 1
    nrm = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / nrm for v in vals]


# Over-provisioned coefficient stream length: projection planes are a
# PREFIX of this stream, so any embedding dim <= _PROJ_STREAM uses the
# same leading coefficients — a regenerated corpus with a different
# dim changes nothing but how much of the stream is consumed, and
# external mirrors (the DuckDB oracle) stay value-identical.
_PROJ_STREAM = 256


def projection_coefficients(seed: str, component: int,
                            n: int = _PROJ_STREAM) -> list[float]:
    """Raw (un-normalised) uniform[-1,1) md5-stream coefficients for
    projection component ``component``.  Deliberately NOT unit-scaled:
    normalisation would couple every coefficient to the vector length
    and break the prefix property documented above."""
    if n > _PROJ_STREAM:
        raise ValueError(
            f"embedding dim {n} exceeds the {_PROJ_STREAM}-entry "
            "coefficient stream; raise _PROJ_STREAM (and regenerate "
            "external mirrors) rather than silently truncating")
    vals: list[float] = []
    counter = 0
    while len(vals) < n:
        h = hashlib.md5(
            f"{seed}:proj{component}:{counter}".encode()).digest()
        for off in range(0, 16, 4):
            u = int.from_bytes(h[off:off + 4], "big") / 2 ** 32
            vals.append(2.0 * u - 1.0)
            if len(vals) == n:
                break
        counter += 1
    return vals


def _double_array(vals: list[float]) -> Column:
    """A literal ``array<double>`` as ONE parsed expression (one Py4J
    call, not one ``F.lit`` per element).  ``repr`` is the shortest
    string that round-trips a float and the ``D`` suffix parses it as
    a double, never a decimal, so every element is bit-exact."""
    return F.expr(f"array({', '.join(f'{v!r}D' for v in vals)})")


def random_projection(vectors: DataFrame, dim: int, out_dim: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      seed: str = "dask-ms-spark",
                      keep: tuple = ()) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim`` scalar
    components ``p0..p{out_dim-1}`` — embedding compaction before
    downstream similarity / clustering.

    The projection matrix is seeded-deterministic and baked into the
    plan as literal arrays (broadcast by value, like
    :func:`hyperplane_signature`), so the whole operator is one
    map-side projection in codegen: zero shuffles, zero state, and
    any engine reproducing the md5 stream reproduces the output
    bit-for-bit (sequential left-to-right summation in both).
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cols = [F.col(id_col), *[F.col(c) for c in keep]]
    for j in range(out_dim):
        plane = _double_array(projection_coefficients(seed, j, dim))
        cols.append(dot(vec, plane).alias(f"p{j}"))
    return vectors.select(*cols)


def hyperplane_signature(vec: Column, dim: int, num_planes: int = 8,
                         seed: str = "dask-ms-spark") -> Column:
    """Random-hyperplane sign signature as an int bucket id.

    bit_j = 1 iff <vec, plane_j> >= 0; planes are literal arrays baked
    into the plan (broadcast by value), so hashing is pure codegen.
    """
    bucket = F.lit(0)
    for j in range(num_planes):
        plane = _double_array(_seeded_unit(f"{seed}:{j}", dim))
        bit = (dot(vec, plane) >= 0).cast("int")
        bucket = bucket + bit * F.lit(2 ** j)
    return bucket


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               cent_id: str = "cent_id", cent_vec: str = "cvec",
               nprobe: int = 1) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine
    (IVF cell assignment).  Centroids are broadcast (they are small by
    construction); assignment is a map-side cross-score + per-vector
    top-nprobe window — the corpus never shuffles for assignment.

    Ties break by centroid id, so assignment is deterministic and
    engine-portable.
    """
    scored = (vectors.select(F.col(id_col).alias("id"),
                             F.col(vec_col).alias("vec"))
              .crossJoin(F.broadcast(
                  centroids.select(F.col(cent_id).alias("cell"),
                                   F.col(cent_vec).alias("cv"))))
              .select("id", "vec", "cell",
                      cosine(F.col("vec"), F.col("cv")).alias("aff")))
    w = Window.partitionBy("id").orderBy(F.col("aff").desc(),
                                         F.col("cell").asc())
    return (scored.withColumn("probe_rank", F.row_number().over(w))
                  .where(F.col("probe_rank") <= nprobe)
                  .select("id", "vec", "cell"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             num_cells: int = 16, nprobe: int = 4,
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             query_id: str = "vec_id", query_vec: str = "embedding") -> DataFrame:
    """IVF approximate top-k: corpus bucketed into inverted-file cells,
    queries probe their ``nprobe`` nearest cells, exact cosine within
    probed cells only.

    Centroids are the first ``num_cells`` corpus vectors (deterministic;
    production would run k-means — the plan shape is identical).  At
    scale this is the standard ANN layout: the expensive scoring join is
    cell-local (shuffle keyed on the cell id), and raising nprobe
    trades recall for work linearly.
    """
    _require_dense_seeds(corpus, corpus_id, num_cells, "ivf_topk")
    centroids = (corpus.where(F.col(corpus_id) < num_cells)
                 .select(F.col(corpus_id).alias("cent_id"),
                         F.col(corpus_vec).alias("cvec")))
    cells = ivf_assign(corpus, centroids, corpus_id, corpus_vec, nprobe=1) \
        .select(F.col("id").alias("neighbor_id"), F.col("vec").alias("cvec2"),
                "cell")
    probes = ivf_assign(queries, centroids, query_id, query_vec,
                        nprobe=nprobe) \
        .select(F.col("id").alias("query_id"), F.col("vec").alias("qvec"),
                "cell")
    # no pair dedup needed (r12): the corpus side is assigned with
    # nprobe=1 — exactly one cell per neighbor — and a query's probed
    # cells are distinct, so a (query, neighbor) pair matches at most
    # once; the dropDuplicates paid a candidate-set exchange for
    # nothing
    scored = (cells.join(probes, on="cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("qvec"), F.col("cvec2")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             num_planes: int = 8, multiprobe: bool = True,
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             query_id: str = "vec_id", query_vec: str = "embedding") -> DataFrame:
    """Approximate top-k: join corpus and queries on hyperplane bucket,
    score within buckets, window top-k per query.

    ``multiprobe`` also probes all Hamming-distance-1 buckets of each
    query (num_planes extra probes) — the standard recall lift that
    keeps the join bucket-local.
    """
    csig = hyperplane_signature(F.col(corpus_vec), dim, num_planes)
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(corpus_vec).alias("cvec"),
                      csig.alias("bucket"))
    qsig = hyperplane_signature(F.col(query_vec), dim, num_planes)
    # bind the signature ONCE: the probe list is built from the bound
    # column, not num_planes+1 copies of the (planes x dim)-literal
    # signature expression (r12: the inlined spelling grew the ann_lsh
    # physical plan to ~150 KB of repeated hyperplane arithmetic —
    # driver planning cost, not executor work)
    qb = queries.select(F.col(query_id).alias("query_id"),
                        F.col(query_vec).alias("qvec"),
                        qsig.alias("__sig"))
    probes = [F.col("__sig")]
    if multiprobe:
        probes += [F.col("__sig").bitwiseXOR(F.lit(2 ** j))
                   for j in range(num_planes)]
    q = qb.select("query_id", "qvec",
                  F.explode(F.array(*probes)).alias("bucket"))
    # no pair dedup needed: each corpus row carries exactly ONE bucket
    # and a query's probe values are pairwise distinct (the base
    # signature and its num_planes single-bit flips), so a
    # (query, neighbor) pair can match at most once — the r12-removed
    # dropDuplicates paid a full candidate-set exchange for nothing.
    # (Query ids must be unique, as brute_force_topk also assumes.)
    scored = (c.join(q, on="bucket")
               .where(F.col("query_id") != F.col("neighbor_id"))
               .select("query_id", "neighbor_id",
                       cosine(F.col("qvec"), F.col("cvec")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def build_ivf_index(embs: DataFrame, path: str, num_cells: int = 16,
                    iters: int = 2, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist an IVF index: k-means centroids (llm/clustering.py —
    deterministic Lloyd) plus the corpus bucketed into cell-partitioned
    parquet.  Build once, query many: the expensive clustering +
    assignment runs at index time, and because cells are Hive
    partitions, a query that probes ``nprobe`` cells SCANS ONLY THOSE
    DIRECTORIES — at 100 TB the read amplification of a query drops
    from the whole corpus to nprobe/num_cells of it, enforced by the
    storage layout rather than a runtime filter.

    Layout: ``path/centroids`` (cell_id, cvec), ``path/cells``
    partitioned by ``cell``.

    Metric note (review r8): the coarse quantizer trains with
    squared-L2 Lloyd while queries probe centroids by cosine — the
    FAISS IVF-IP default (L2-trained coarse quantizer under an
    inner-product metric).  For strongly norm-skewed embeddings this
    costs recall beyond the nprobe/num_cells approximation; normalise
    vectors at ingest (cosine == L2 ordering on the unit sphere) when
    that matters, exactly as FAISS recommends for its spherical
    variant.
    """
    import os

    from .clustering import kmeans_assign

    assigned = kmeans_assign(embs, vec_col=vec_col, id_col=id_col,
                             k=num_cells, iters=iters) \
        .select(F.col(id_col).alias("id"), "cluster")
    vecs = embs.select(F.col(id_col).alias("id"),
                       F.col(vec_col).alias("vec"))
    members = assigned.join(vecs, "id") \
        .select("id", F.col("cluster").alias("cell"), "vec") \
        .localCheckpoint(eager=False)  # persist A/B-rejected r13 (1.18x)
    cents = (members.select(
        "cell", F.posexplode(F.transform(
            "vec", lambda x: x.cast("double"))).alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg((F.sum(F.round(F.col("x") * (1 << 20)).cast("long"))
              .cast("double")
              / (F.count(F.lit(1)) * F.lit(float(1 << 20))))
             .alias("cx"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx")))
             .alias("pcs"))
        .select(F.col("cell").alias("cent_id"),
                F.transform("pcs", lambda s: s["cx"]).alias("cvec")))
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    members.write.mode("overwrite").partitionBy("cell") \
        .parquet(os.path.join(path, "cells"))


def ivf_query_indexed(spark, path: str, queries: DataFrame, k: int = 10,
                      nprobe: int = 4, query_id: str = "vec_id",
                      query_vec: str = "embedding") -> DataFrame:
    """Top-k over a persisted IVF index: probe the ``nprobe`` nearest
    cells per query, read ONLY those cell partitions (the probed cell
    list prunes the scan — assert ``PartitionFilters`` in the plan),
    exact cosine within probed cells."""
    import os

    from ..sources.parquet import scan_parquet

    cents = scan_parquet(spark, os.path.join(path, "centroids"))
    probes = ivf_assign(queries, cents, query_id, query_vec,
                        nprobe=nprobe) \
        .select(F.col("id").alias("query_id"),
                F.col("vec").alias("qvec"), "cell")
    probes = probes.localCheckpoint(eager=False)
    needed = [r.cell for r in probes.select("cell").distinct().collect()]
    corpus = (scan_parquet(spark, os.path.join(path, "cells"))
              .where(F.col("cell").isin(needed))
              .select(F.col("id").alias("neighbor_id"),
                      F.col("vec").alias("cvec2"), "cell"))
    # no pair dedup needed (r12): each stored corpus row lives in
    # exactly one cell partition and the probed cells per query are
    # distinct (see ivf_topk)
    scored = (corpus.join(probes, "cell")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      cosine(F.col("qvec"), F.col("cvec2"))
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))


def _l2sq_fixed(a: Column, b: Column, scale: int) -> Column:
    """Squared L2 distance in fixed point: each squared term is
    quantised to ``round(t * scale)`` int64 BEFORE summing, so the
    total is independent of accumulation order and bit-identical in
    any engine that mirrors the per-term arithmetic (the repo's
    kmeans/pagerank discipline, applied per element)."""
    terms = F.zip_with(a, b, lambda x, y: F.round(
        (x - y) * (x - y) * F.lit(float(scale))).cast("long"))
    return F.aggregate(terms, F.lit(0).cast("long"),
                       lambda acc, t: acc + t)


def _subvectors(df: DataFrame, id_col: str, vec_col: str, dim: int,
                num_sub: int) -> DataFrame:
    """(id, m, sv): the m-th contiguous ``dim/num_sub``-slice of each
    vector — pure map-side explode of a tiny index sequence."""
    sub = dim // num_sub
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(F.sequence(
                          F.lit(0), F.lit(num_sub - 1))).alias("m"),
                      F.col(vec_col).alias("v"))
            .select("id", "m",
                    F.slice(F.col("v"), F.col("m") * sub + 1,
                            sub).alias("sv")))


def _pq_lut(queries: DataFrame, query_id: str, query_vec: str,
            codebooks: DataFrame, dim: int, num_sub: int,
            scale: int) -> DataFrame:
    """(query_id, lut): per query, ``lut[m][k]`` is the fixed-point
    l2² between the query's m-th subvector and centroid k — the
    codebook join is broadcast, two sorted ``collect_list`` folds
    assemble the rows, then the table."""
    qsv = _subvectors(queries, query_id, query_vec, dim, num_sub)
    pd_rows = (qsv.join(F.broadcast(codebooks), on="m")
               .select(F.col("id").alias("query_id"), "m", "k",
                       _l2sq_fixed(F.col("sv"), F.col("cv"),
                                   scale).alias("pd")))
    return (pd_rows.groupBy("query_id", "m")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("k", "pd"))),
                lambda s: s["pd"]).alias("lrow"))
            .groupBy("query_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("m", "lrow"))),
                lambda s: s["lrow"]).alias("lut")))


def _adc_ranked(pairs: DataFrame) -> DataFrame:
    """Rank (query_id, neighbor_id, codes, lut) pairs by asymmetric
    distance ``approx_d = Σ_m lut[m][codes[m]]`` (ties by neighbour
    id), self-pairs dropped: (query_id, neighbor_id, approx_d, rank)."""
    scored = (pairs.where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.aggregate(
                          F.zip_with("codes", "lut",
                                     lambda c, row: F.element_at(
                                         row, c.cast("int") + 1)),
                          F.lit(0).cast("long"),
                          lambda acc, t: acc + t).alias("approx_d")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_d").asc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w))


def _rerank_exact(ranked: DataFrame, k: int, rerank: int,
                  corpus: DataFrame, corpus_id: str, corpus_vec: str,
                  queries: DataFrame, query_id: str,
                  query_vec: str) -> DataFrame:
    """Top-k of ``ranked``; with ``rerank > 0``, the exact-cosine
    top-k of its top-``rerank`` candidates per query (adds cos_sim)."""
    if not rerank:
        return ranked.where(F.col("rank") <= k)
    cand = ranked.where(F.col("rank") <= rerank).drop("rank")
    qv = queries.select(F.col(query_id).alias("query_id"),
                        F.col(query_vec).alias("qvec"))
    cv = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                       F.col(corpus_vec).alias("cvec"))
    # candidates are |queries| * rerank rows — broadcast THEM against
    # the corpus so the raw-vector table never shuffles for rerank
    exact = (cv.join(F.broadcast(cand.join(F.broadcast(qv),
                                           on="query_id")),
                     on="neighbor_id")
             .select("query_id", "neighbor_id", "approx_d",
                     cosine(F.col("qvec"), F.col("cvec"))
                     .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (exact.withColumn("rank", F.row_number().over(w))
                 .where(F.col("rank") <= k))


def pq_codebooks(corpus: DataFrame, dim: int, num_sub: int = 8,
                 num_codes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 _seeds_checked: int = 0) -> DataFrame:
    """Product-quantization codebooks: ``num_sub`` subspaces ×
    ``num_codes`` centroids, where centroid ``k`` of subspace ``m`` is
    the m-th subvector of the corpus vector with id ``k``
    (deterministic, engine-portable; production would k-means each
    subspace — the downstream plan shape is identical).  Returns
    (m, k, cv) — num_sub × num_codes rows, always broadcast-sized.
    """
    if dim % num_sub:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by "
                         f"num_sub {num_sub}")
    # _seeds_checked: a caller that already verified dense ids
    # 0.._seeds_checked-1 implies density for any smaller seed count —
    # skips a redundant eager count job (r12 optimization round)
    if _seeds_checked < num_codes:
        _require_dense_seeds(corpus, id_col, num_codes, "pq_codebooks")
    seed = corpus.where(F.col(id_col) < num_codes)
    return _subvectors(seed, id_col, vec_col, dim, num_sub) \
        .select("m", F.col("id").cast("int").alias("k"),
                F.col("sv").alias("cv"))


def pq_encode(corpus: DataFrame, codebooks: DataFrame, dim: int,
              num_sub: int = 8, id_col: str = "vec_id",
              vec_col: str = "embedding",
              scale: int = 1 << 20) -> DataFrame:
    """Encode each vector to ``num_sub`` small codes: per subspace,
    the nearest codebook centroid by fixed-point squared L2 (ties
    break to the smallest code id).

    This is THE PQ scale move: a 64-float vector becomes num_sub
    bytes — a 100 TB embedding corpus scans as ~3 TB of codes.  The
    codebook join is broadcast (map-side); the argmin folds into a
    (id, m)-keyed min of a (distance, code) struct and codes
    re-assemble with an (id)-keyed sort-free array build — two
    exchanges of id+small-int rows, the payload vectors never
    shuffle.  Returns (id, codes array<int>).
    """
    sv = _subvectors(corpus, id_col, vec_col, dim, num_sub)
    scored = (sv.join(F.broadcast(codebooks), on="m")
              .select("id", "m", "k",
                      _l2sq_fixed(F.col("sv"), F.col("cv"),
                                  scale).alias("d")))
    best = (scored.groupBy("id", "m")
            .agg(F.min(F.struct("d", "k")).getField("k").alias("code")))
    return (best.groupBy("id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"]).alias("codes")))


def pq_topk(corpus: DataFrame, queries: DataFrame, dim: int,
            k: int = 10, num_sub: int = 8, num_codes: int = 8,
            rerank: int = 0,
            corpus_id: str = "vec_id", corpus_vec: str = "embedding",
            query_id: str = "vec_id", query_vec: str = "embedding",
            scale: int = 1 << 20) -> DataFrame:
    """PQ asymmetric-distance top-k: corpus vectors quantised to
    ``num_sub`` codes, queries score against codes via a per-query
    lookup table (LUT[m][k] = fixed-point l2² between the query's m-th
    subvector and centroid k), approx distance = Σ_m LUT[m][codes[m]].

    Plan shape at scale: the LUT build touches only the (small) query
    set; scoring is a map-side broadcast cross of the CODES table —
    num_sub ints per corpus row instead of ``dim`` floats, the
    asymmetric-distance scan that makes exhaustive search affordable
    at 100 TB (pair it with IVF cells to go sub-linear).  All
    distances are order-free int64 sums, so ranking is deterministic
    and engine-exact.

    ``rerank > 0``: re-score the top-``rerank`` PQ candidates per
    query with EXACT cosine over the raw vectors (an id-keyed join
    back to the corpus — candidates shuffle as ids only) and emit the
    exact-cosine top-k of those.  Returns (query_id, neighbor_id,
    rank, approx_d [, cos_sim]).
    """
    cbs = pq_codebooks(corpus, dim, num_sub, num_codes,
                       corpus_id, corpus_vec)
    codes = pq_encode(corpus, cbs, dim, num_sub, corpus_id,
                      corpus_vec, scale)
    lut = _pq_lut(queries, query_id, query_vec, cbs, dim, num_sub, scale)
    ranked = _adc_ranked(codes.withColumnRenamed("id", "neighbor_id")
                         .crossJoin(F.broadcast(lut)))
    return _rerank_exact(ranked, k, rerank, corpus, corpus_id, corpus_vec,
                         queries, query_id, query_vec)


def build_pq_index(embs: DataFrame, path: str, dim: int,
                   num_sub: int = 8, num_codes: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 1 << 20) -> None:
    """Persist a PQ index: codebooks plus the encoded corpus.

    Build once, query many — the O(n) encode (the cost that shows in
    the 10x ANN stress, SCALE.md) runs at index time; queries then
    scan ``num_sub`` ints per corpus row instead of ``dim`` floats,
    the 32x read-amplification drop that is PQ's whole point at
    100 TB.  Layout: ``path/codebooks`` (m, k, cv), ``path/codes``
    (id, codes).  Compose with IVF cells (partitionBy a cell column
    before encode) to make the scan sub-linear as well as compressed.
    """
    import os

    cbs = pq_codebooks(embs, dim, num_sub, num_codes, id_col, vec_col)
    cbs.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    codes = pq_encode(embs, cbs, dim, num_sub, id_col, vec_col, scale)
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))


def pq_query_indexed(spark, path: str, queries: DataFrame, dim: int,
                     k: int = 10, num_sub: int = 8,
                     query_id: str = "vec_id",
                     query_vec: str = "embedding",
                     scale: int = 1 << 20) -> DataFrame:
    """Asymmetric-distance top-k over a persisted PQ index: the only
    corpus read is the codes table (``num_sub`` small ints per row);
    raw vectors are never touched.  The per-query LUT build scores
    the query set against the stored codebooks map-side."""
    import os

    from ..sources.parquet import scan_parquet

    cbs = scan_parquet(spark, os.path.join(path, "codebooks"))
    codes = scan_parquet(spark, os.path.join(path, "codes"))
    lut = _pq_lut(queries, query_id, query_vec, cbs, dim, num_sub, scale)
    ranked = _adc_ranked(codes.withColumnRenamed("id", "neighbor_id")
                         .crossJoin(F.broadcast(lut)))
    return ranked.where(F.col("rank") <= k)


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, dim: int,
               k: int = 10, num_cells: int = 16, nprobe: int = 4,
               num_sub: int = 8, num_codes: int = 8, rerank: int = 0,
               corpus_id: str = "vec_id", corpus_vec: str = "embedding",
               query_id: str = "vec_id", query_vec: str = "embedding",
               scale: int = 1 << 20) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN architecture (FAISS's default
    layout, re-expressed as a declarative plan) — inverted-file cells
    make the scan SUB-LINEAR (only ``nprobe/num_cells`` of the corpus
    is touched per query batch), product quantization makes every
    touched row 32x SMALLER (codes, not vectors).

    Corpus rows are assigned to their nearest cell (cosine, ties by
    cell id) and PQ-encoded once; queries probe ``nprobe`` cells and
    score candidates via broadcast per-query LUTs over the codes.
    Each neighbour lives in exactly one cell, so candidate pairs are
    unique by construction — no dedup stage.  ``rerank`` re-scores
    the top candidates with exact cosine (id-broadcast join, as in
    :func:`pq_topk`).  Production persists the cell-partitioned codes
    with :func:`build_ivf_index`-style layout so probes prune by
    directory; here assignment and encode run inline.
    """
    _require_dense_seeds(corpus, corpus_id, num_cells, "ivfpq_topk")
    cents = (corpus.where(F.col(corpus_id) < num_cells)
             .select(F.col(corpus_id).alias("cent_id"),
                     F.col(corpus_vec).alias("cvec")))
    cells = ivf_assign(corpus, cents, corpus_id, corpus_vec,
                       nprobe=1) \
        .select(F.col("id").alias("neighbor_id"), "cell")
    cbs = pq_codebooks(corpus, dim, num_sub, num_codes,
                       corpus_id, corpus_vec,
                       _seeds_checked=num_cells)
    codes = pq_encode(corpus, cbs, dim, num_sub, corpus_id,
                      corpus_vec, scale) \
        .withColumnRenamed("id", "neighbor_id")
    cellcodes = cells.join(codes, on="neighbor_id")

    probes = ivf_assign(queries, cents, query_id, query_vec,
                        nprobe=nprobe) \
        .select(F.col("id").alias("query_id"), "cell")
    lut = _pq_lut(queries, query_id, query_vec, cbs, dim, num_sub, scale)
    probelut = probes.join(F.broadcast(lut), on="query_id")
    ranked = _adc_ranked(cellcodes.join(F.broadcast(probelut), on="cell"))
    return _rerank_exact(ranked, k, rerank, corpus, corpus_id, corpus_vec,
                         queries, query_id, query_vec)
