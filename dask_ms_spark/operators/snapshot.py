"""Atomic multi-table snapshot publishing.

A training run must read a CONSISTENT corpus: documents, embeddings,
and metadata produced by the same pipeline run — not documents from
release 12 with embeddings from release 11.  Single-table formats
commit tables independently; this publisher commits a SET of tables
as one atomic version:

    store/
      v<N>/<table>/      immutable parquet per table
      CURRENT            rename-committed pointer file ("v<N>")

Readers resolve CURRENT once and read every table from that version
dir — no torn reads, because the pointer flips only after every table
of the new version is fully written, and old versions are immutable
until pruned (``keep`` versions retained for in-flight readers).

The same rename-commit discipline as the streaming maintenance stores
and the backfill markers (streaming/maintenance.py,
operators/backfill.py); a failed publish leaves a dangling v<N+1>
directory that the next publish simply overwrites.
"""

from __future__ import annotations

import os
import shutil
from typing import Mapping

from pyspark.sql import DataFrame

from ..sources.parquet import scan_parquet

__all__ = ["publish_snapshot", "read_snapshot", "current_version",
           "snapshot_diff"]


def current_version(store: str) -> int | None:
    p = os.path.join(store, "CURRENT")
    if not os.path.exists(p):
        return None
    return int(open(p).read().strip().lstrip("v"))


def publish_snapshot(tables: Mapping[str, DataFrame], store: str,
                     keep: int = 2) -> int:
    """Write every table, then commit them together; returns the new
    version number.  Re-running a failed publish overwrites its own
    version dir — idempotent.

    Single-publisher assumption: version allocation is CURRENT+1 with
    no lock, so concurrent publishers would claim the same version
    dir — serialise publishes externally (the streaming maintenance
    stores already do: one writer per store is the rename-commit
    contract).  An empty ``tables`` mapping raises rather than
    committing CURRENT to a version whose directory was never
    created (which would break every subsequent read)."""
    if not tables:
        raise ValueError("publish_snapshot: empty tables mapping — "
                         "refusing to commit a version with no data")
    os.makedirs(store, exist_ok=True)
    cur = current_version(store)
    version = 0 if cur is None else cur + 1
    vdir = os.path.join(store, f"v{version}")
    # a previous FAILED publish of this same version may have left
    # tables on disk; read_snapshot lists the version dir, so a
    # leftover table from the failed attempt would silently join the
    # committed snapshot (review r8) — start from an empty dir
    shutil.rmtree(vdir, ignore_errors=True)
    os.makedirs(vdir, exist_ok=True)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(vdir, name))
    tmp = os.path.join(store, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"v{version}")
    os.replace(tmp, os.path.join(store, "CURRENT"))
    # prune versions no in-flight reader can still need
    for name in os.listdir(store):
        if name.startswith("v"):
            try:
                n = int(name[1:])
            except ValueError:
                continue
            if n <= version - keep:
                shutil.rmtree(os.path.join(store, name),
                              ignore_errors=True)
    return version


def read_snapshot(spark, store: str,
                  version: int | None = None) -> dict[str, DataFrame]:
    """All tables of one committed version (default: CURRENT, resolved
    once so concurrent publishes cannot tear the read)."""
    if version is None:
        version = current_version(store)
    if version is None:
        return {}
    vdir = os.path.join(store, f"v{version}")
    out = {}
    for name in sorted(os.listdir(vdir)):
        out[name] = scan_parquet(spark, os.path.join(vdir, name))
    return out


def snapshot_diff(spark, store: str, old_version: int,
                  new_version: int, id_cols: Mapping[str, str],
                  text_cols: Mapping[str, str] | None = None):
    """Audit table of what changed between two committed versions:
    one row per (table, status) with counts of added / removed /
    changed / unchanged ids — the release-notes query a dataset-
    versioning workflow publishes next to each snapshot.

    ``id_cols`` maps table name -> its id column; ``text_cols``
    optionally maps table name -> a content column whose normalised
    digest decides changed-vs-unchanged (tables without one compare
    by full-row hash).  Per table this is the ``corpus_diff``
    16-bytes-per-row full-outer join (llm/corpus.py) — the exchange
    carries (id, digest) only, so diffing two 100 TB versions moves
    GBs, not the corpus.  Returns a DataFrame
    ``(table, status, n)``.
    """
    from pyspark.sql import functions as F

    from ..functions.text import portable_hash64

    old = read_snapshot(spark, store, old_version)
    new = read_snapshot(spark, store, new_version)
    text_cols = dict(text_cols or {})
    parts = []
    for table, id_col in id_cols.items():
        o, n = old.get(table), new.get(table)
        if o is None and n is None:
            continue

        def keyed(df):
            if df is None:
                return None
            if table in text_cols:
                from ..llm.dedup import normalize_text

                dig = portable_hash64(
                    normalize_text(F.col(text_cols[table])))
            else:
                dig = F.xxhash64(*[F.col(c) for c in df.columns
                                   if c != id_col])
            return df.select(F.col(id_col).alias("id"),
                             dig.alias("h"))

        if o is None:
            d = keyed(n).select(F.lit("added").alias("status"))
        elif n is None:
            d = keyed(o).select(F.lit("removed").alias("status"))
        else:
            # presence via explicit markers, not hash nullity: a NULL
            # text digests to NULL and would misreport a row present
            # in both versions (or removed) as "added" (review r8 —
            # the incremental_dedup __hit pattern)
            j = (keyed(o).withColumnRenamed("h", "oh")
                 .withColumn("__in_o", F.lit(True))
                 .join(keyed(n).withColumnRenamed("h", "nh")
                       .withColumn("__in_n", F.lit(True)),
                       "id", "full_outer"))
            d = j.select(
                F.when(F.col("__in_o").isNull(), "added")
                 .when(F.col("__in_n").isNull(), "removed")
                 .when(F.col("oh").eqNullSafe(F.col("nh")),
                       "unchanged")
                 .otherwise("changed").alias("status"))
        parts.append(d.groupBy("status")
                     .agg(F.count(F.lit(1)).alias("n"))
                     .select(F.lit(table).alias("table"),
                             "status", "n"))
    if not parts:
        raise ValueError("snapshot_diff: no named table exists in "
                         "either version")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u
