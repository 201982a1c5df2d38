"""Semantic (embedding-space) deduplication — the SemDeDup shape.

MinHash/SimHash catch *lexical* near-duplicates; semantically
redundant documents (same content re-worded, translations, template
re-fills) survive them.  The production answer (Abbas et al.,
"SemDeDup", 2023) is: cluster the embedding space coarsely with
k-means, then compare pairs **only within a cluster** and drop all but
one member of each near-identical group.

Composition here (all pieces already proven individually):

* ``kmeans_assign`` (llm/clustering.py) — deterministic Lloyd k-means:
  broadcast centroids, map-side argmin, fixed-point updates.  The
  corpus never shuffles for assignment.
* within-cluster pairing — self-equi-join on ``cluster`` (never
  all-pairs; with balanced clusters the candidate count drops by ~k),
  UDF-free cosine via ``functions/vector.py`` higher-order functions.
* keep rule — a vector is dropped iff a *lower-id* member of its
  cluster is within ``threshold`` cosine; same greedy min-id
  convention as ``minhash_dedup`` so downstream pipelines can treat
  lexical and semantic drop lists identically.

At 100 TB: k scales to ~sqrt(n) clusters (the IVF coarse-quantizer
rule); the pair join is cluster-keyed, so skew only appears if one
cluster dominates — the same ``max_bucket_size`` cap used for LSH
buckets (llm/dedup.py:_cap_buckets) applies verbatim if needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..functions.vector import dot, norm
from .clustering import kmeans_assign

__all__ = ["semantic_dedup"]


def semantic_dedup(embs: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", k: int = 8, iters: int = 2,
                   threshold: float = 0.7) -> DataFrame:
    """Per-vector semantic dedup verdict.

    Returns ``(id_col, cluster, keep, max_sim)``: ``keep`` is false
    iff some lower-id vector in the same k-means cluster has cosine
    similarity ``>= threshold`` (compared at 6 dp so any SQL mirror
    agrees bit-for-bit); ``max_sim`` is the highest such similarity
    (null for kept vectors with no offending neighbour).
    """
    assigned = kmeans_assign(embs, vec_col=vec_col, id_col=id_col,
                             k=k, iters=iters)
    vecs = embs.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
         .alias("vec"))
    # materialise the member table once: it feeds BOTH sides of the
    # pair self-join and the final verdict join — without this the
    # entire k-means lineage (broadcast + argmin + centroid update)
    # re-executes three times.  Pre-computing each vector's norm here
    # also turns the per-pair cosine from three array aggregates into
    # one (the dot product); norms are per-vector work, not per-pair.
    members = (assigned.select(F.col(id_col).alias("id"), "cluster")
               .join(vecs, "id")
               .withColumn("nrm", norm(F.col("vec"))))
    members = scoped_persist(members)
    a = members.select(F.col("id").alias("id_a"), "cluster",
                       F.col("vec").alias("va"),
                       F.col("nrm").alias("na"))
    b = members.select(F.col("id").alias("id_b"),
                       F.col("cluster").alias("cluster_b"),
                       F.col("vec").alias("vb"),
                       F.col("nrm").alias("nb"))
    denom = F.col("na") * F.col("nb")
    sim = F.round(F.when(denom > 0, dot(F.col("va"), F.col("vb")) / denom)
                  .otherwise(F.lit(0.0)), 6)
    offend = (a.join(b, (F.col("cluster") == F.col("cluster_b"))
                     & (F.col("id_a") < F.col("id_b")))
              .select(F.col("id_b").alias("id"), sim.alias("cos_sim"))
              .where(F.col("cos_sim") >= threshold)
              .groupBy("id")
              .agg(F.max("cos_sim").alias("max_sim")))
    return (members.join(offend, "id", "left")
            .select(F.col("id").alias(id_col), "cluster",
                    F.col("max_sim").isNull().alias("keep"),
                    "max_sim"))
