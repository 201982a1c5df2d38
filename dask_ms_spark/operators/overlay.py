"""Fragments: copy-on-write dataset overlays (reference §2.8, F1-F4).

The reference writes only changed columns to a child store stamped with
``__dask_ms_parent_url__`` (daskms/experimental/fragments/__init__.py:
191-237), resolves the ancestry chain (:17-72) and consolidates by
overlaying each fragment's data_vars onto the root, later fragments
winning (:76-117).

Spark-first: a fragment is a delta table of ``(ROWID, changed columns)``
plus a ``parent`` entry in a small JSON sidecar.  Consolidation is a
ROWID equi-join + ``coalesce(frag.col, root.col)`` per column — i.e.
Delta-style MERGE semantics expressed with stock operators.  At scale
the fragment side is usually far smaller than the root, so the join
broadcasts; when it doesn't, it's a hash join on the carried ROWID key.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import sidecar
from ..sources.parquet import scan_parquet
from ..types import ROWID

__all__ = ["overlay", "write_fragment", "read_fragment", "get_ancestry",
           "consolidate", "rebase_fragment"]

_META = "_dask_ms_spark_fragment.json"
PARENT_URL_ATTR = "__dask_ms_parent_url__"


def overlay(root: DataFrame, fragment: DataFrame,
            key: str = ROWID, broadcast: bool | None = None) -> DataFrame:
    """Overlay ``fragment``'s columns onto ``root`` by key; fragment
    values win where present (reference ``consolidate`` column overlay,
    daskms/experimental/fragments/__init__.py:115 — there by array
    merge, here by ``coalesce`` after a left join)."""
    frag_cols = [c for c in fragment.columns if c != key]
    # duplicate fragment keys would MULTIPLY matching root rows
    # through the left join — a consolidate that silently inflates
    # the table (review r9; the zarr writer guards the same hazard).
    # One aggregation on the (small) fragment side keys the guard;
    # the raise_error folds into every overlaid value so it survives
    # column pruning of any single output.
    renamed = (fragment.groupBy(key)
               .agg(*[F.first(c).alias(f"__frag_{c}")
                      for c in frag_cols],
                    F.count(F.lit(1)).alias("__frag_dup")))
    right = F.broadcast(renamed) if broadcast else renamed
    joined = root.join(right, on=key, how="left")

    def guarded(col):
        return F.when(
            F.col("__frag_dup").isNull() | (F.col("__frag_dup") == 1),
            col).otherwise(F.raise_error(F.lit(
                f"overlay: duplicate {key!r} values in the fragment "
                "— each key must carry ONE row; dedupe the fragment "
                "first")))

    out_cols = []
    for c in root.columns:
        if c in frag_cols:
            out_cols.append(guarded(
                F.coalesce(F.col(f"__frag_{c}"), F.col(c))).alias(c))
        else:
            out_cols.append(F.col(c))
    # Columns the fragment adds that the root lacks.
    for c in frag_cols:
        if c not in root.columns:
            out_cols.append(guarded(F.col(f"__frag_{c}")).alias(c))
    return joined.select(*out_cols)


def write_fragment(fragment: DataFrame, store: str, parent: str,
                   key: str = ROWID, mode: str = "overwrite") -> None:
    """Write changed columns + key as a fragment store (reference
    ``xds_to_table_fragment``,
    daskms/experimental/fragments/__init__.py:191-237)."""
    if key not in fragment.columns:
        raise ValueError(f"fragment must carry the {key!r} key column")
    fragment.write.mode(mode).parquet(store)
    sidecar.write_text(store, _META,
                       json.dumps({PARENT_URL_ATTR: parent}))


def get_ancestry(store: str) -> list[str]:
    """Root-first chain of stores (reference ``get_ancestry``,
    daskms/experimental/fragments/__init__.py:17-72)."""
    def canon(url: str) -> str:
        return url if "://" in url else os.path.abspath(url)

    chain = [store]
    seen = {canon(store)}
    current = store
    while True:
        text = sidecar.read_text(current, _META)
        if text is None:
            break
        parent = json.loads(text).get(PARENT_URL_ATTR)
        if not parent:
            break
        ap = canon(parent)
        if ap in seen:
            raise ValueError(f"fragment ancestry cycle at {parent!r}")
        seen.add(ap)
        chain.append(parent)
        current = parent
    return list(reversed(chain))


def consolidate(frames: list[DataFrame], key: str = ROWID) -> DataFrame:
    """Overlay a root-first list of frames; later frames win (reference
    ``consolidate``, daskms/experimental/fragments/__init__.py:76-117)."""
    if not frames:
        raise ValueError("nothing to consolidate")
    out = frames[0]
    for frag in frames[1:]:
        out = overlay(out, frag, key=key)
    return out


def read_fragment(spark: SparkSession, store: str,
                  key: str = ROWID) -> DataFrame:
    """Read a fragment store with its full ancestry consolidated
    (reference ``xds_from_table_fragment``,
    daskms/experimental/fragments/__init__.py:154-187)."""
    chain = get_ancestry(store)
    frames = [scan_parquet(spark, url) for url in chain]
    return consolidate(frames, key=key)


def rebase_fragment(store: str, new_parent: str) -> None:
    """Repoint a fragment's parent url (reference fragments CLI,
    daskms/apps/fragments.py:37-55)."""
    sidecar.write_text(store, _META,
                       json.dumps({PARENT_URL_ATTR: new_parent}))
