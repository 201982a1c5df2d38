"""Named flag-version management — the CASA ``flagmanager``
workflow (save / restore / list / diff FLAG states) on the fragment
substrate.

Every MS reduction wants a checkpoint of the FLAG column before an
aggressive flagging pass and a one-step restore when the pass
overshoots; casacore-based pipelines get this from flagmanager's
``.flagversions`` sidecar tables.  Here a version is a parquet
fragment carrying ``(ROWID, flag columns)`` plus a JSON sidecar, and
restore is the copy-on-write :func:`~.overlay.overlay` — the saved
flags win by key, nothing else is touched, and the restored frame is
lazy like every other dataset.

Scale shape: save writes only the flag columns (a bool tensor is the
cheapest column in the MS); restore is one key-equi join that AQE
broadcasts when the version is small relative to the fact table.  No
driver materialisation on either path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet import scan_parquet
from ..types import ROWID
from .overlay import overlay

__all__ = ["save_flagversion", "restore_flagversion",
           "list_flagversions", "delete_flagversion",
           "diff_flagversions"]

_META = "_FLAGVERSION.json"


def _vdir(store: str, name: str) -> str:
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid flagversion name {name!r}")
    return os.path.join(store, name)


def save_flagversion(df: DataFrame, store: str, name: str,
                     flag_cols: tuple = ("FLAG",),
                     key: str = ROWID,
                     comment: str = "") -> None:
    """Persist ``(key, *flag_cols)`` as the named version
    (flagmanager ``mode='save'``)."""
    flag_cols = tuple(flag_cols)
    missing = [c for c in (key, *flag_cols) if c not in df.columns]
    if missing:
        raise ValueError(f"save_flagversion: columns absent from the "
                         f"frame: {missing}")
    vdir = _vdir(store, name)
    df.select(key, *flag_cols).write.mode("overwrite").parquet(vdir)
    with open(os.path.join(vdir, _META), "w") as fh:
        json.dump({"name": name, "flag_cols": list(flag_cols),
                   "key": key, "comment": comment}, fh)


def list_flagversions(store: str) -> list[dict]:
    """Version metadata, name-sorted (flagmanager ``mode='list'``)."""
    if not os.path.isdir(store):
        return []
    out = []
    for d in sorted(os.listdir(store)):
        meta = os.path.join(store, d, _META)
        if os.path.exists(meta):
            with open(meta) as fh:
                out.append(json.load(fh))
    return out


def _load(spark: SparkSession, store: str, name: str):
    vdir = _vdir(store, name)
    meta_path = os.path.join(vdir, _META)
    if not os.path.exists(meta_path):
        raise ValueError(
            f"no flagversion {name!r} under {store!r}; saved: "
            f"{[m['name'] for m in list_flagversions(store)]}")
    with open(meta_path) as fh:
        meta = json.load(fh)
    return scan_parquet(spark, vdir), meta


def restore_flagversion(spark: SparkSession, df: DataFrame,
                        store: str, name: str) -> DataFrame:
    """Overlay the named version's flag columns back onto ``df``
    (flagmanager ``mode='restore'``): saved flags win by key, rows
    the version does not cover keep their current flags."""
    frag, meta = _load(spark, store, name)
    return overlay(df, frag, key=meta["key"])


def delete_flagversion(store: str, name: str) -> None:
    """Drop the named version (flagmanager ``mode='delete'``)."""
    import shutil

    vdir = _vdir(store, name)
    if not os.path.exists(os.path.join(vdir, _META)):
        raise ValueError(f"no flagversion {name!r} under {store!r}")
    shutil.rmtree(vdir)


def diff_flagversions(spark: SparkSession, store: str,
                      name_a: str, name_b: str,
                      flag_col: str | None = None) -> DataFrame:
    """Per-row changed-cell counts between two versions: one key join
    plus a map-side ``zip_with`` popcount — the QA view of what a
    flagging pass actually did.  Returns ``(key, n_changed,
    n_flagged_a, n_flagged_b)`` for rows present in both versions."""
    from pyspark.sql import functions as F

    a, ma = _load(spark, store, name_a)
    b, mb = _load(spark, store, name_b)
    key = ma["key"]
    if mb["key"] != key:
        raise ValueError("flagversions disagree on the key column")
    col = flag_col or ma["flag_cols"][0]

    def count_true(c):
        return F.size(F.filter(c, lambda x: x))

    an = a.select(F.col(key), F.col(col).alias("__fa"))
    bn = b.select(F.col(key), F.col(col).alias("__fb"))
    changed = F.size(F.filter(
        F.zip_with("__fa", "__fb", lambda x, y: x != y), lambda v: v))
    return (an.join(bn, key)
            .select(key, changed.alias("n_changed"),
                    count_true(F.col("__fa")).alias("n_flagged_a"),
                    count_true(F.col("__fb")).alias("n_flagged_b")))
