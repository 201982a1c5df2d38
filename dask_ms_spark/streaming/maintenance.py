"""Streaming continuous-aggregate maintenance.

``foreachBatch`` + :func:`~dask_ms_spark.operators.timeseries.merge_rollups`:
each micro-batch is bucket-aggregated and merged into a persisted
rollup store WITHOUT re-reading history — the streaming form of the
``rollup_merge`` invariant (merge(agg(history), agg(delta)) ==
agg(all), exact because counts/sums are associative).

Store layout (local filesystem; an object store would swap the
symlink for a manifest pointer):

    store/
      v<batch_id>/   one immutable parquet snapshot per micro-batch
      current -> vN  atomically renamed symlink = committed state

Exactly-once: the committed batch id IS the symlink target.  A
replayed micro-batch (failure between write and publish, or after
publish) is either skipped (``batch_id <= committed``) or rewrites
its own ``v<batch_id>`` from the same input and republishes —
idempotent either way.  This is the checkpoint-v2 pattern Structured
Streaming's own sinks use (write-ahead snapshot + atomic pointer).

Batch ids are only meaningful WITHIN one checkpoint lineage, so the
store records its checkpoint identity on first commit and
:func:`maintain_rollup` refuses to attach a different (or missing)
checkpoint to a non-empty store — a fresh checkpoint restarts batch
numbering at 0 and the guard would otherwise silently drop new data.
Resume with the original checkpoint, or start an empty store.

Scale: each micro-batch shuffles only the delta's (key, bucket)
groups; the merge reads the previous snapshot once.  For rollups too
large to rewrite per batch, :func:`maintain_rollup_log` is the
LSM-style variant: each batch appends its own immutable delta rollup
(O(delta) work, committed by an atomic directory rename), readers
merge base + committed deltas, and a compaction folds the log into a
new base snapshot every ``compact_every`` batches — per-batch cost is
independent of history size, and every step is idempotent under
replay (a re-run batch overwrites its own delta dir and re-renames).
It is :func:`maintain_mergeable` with ``merge=merge_rollups`` and the
same per-batch rollup delta :func:`maintain_rollup` merges, and
:func:`read_rollup_log` is :func:`read_mergeable` over
``merge_rollups``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import (DEFAULT_ORIGIN, bucket_aggregate,
                                    merge_rollups)
from ..sources.parquet import scan_parquet
from .events import normalize_ts

__all__ = ["maintain_rollup", "committed_batch", "read_rollup",
           "maintain_rollup_log", "read_rollup_log",
           "maintain_join", "read_join_view",
           "maintain_mergeable", "read_mergeable"]


def committed_batch(store: str) -> int | None:
    """Batch id of the committed snapshot, or None before the first."""
    cur = os.path.join(store, "current")
    if not os.path.lexists(cur):
        return None
    return int(os.readlink(cur).lstrip("v"))


def read_rollup(spark, store: str) -> DataFrame | None:
    """The committed rollup snapshot (None before the first commit).

    Reads the CONCRETE version dir the symlink points at, not the
    symlink path: a read through ``current`` would race with the next
    publish (file listing resolved under one version, files fetched
    after the pointer moved).  Snapshots are immutable, so the
    resolved path is stable for the lifetime of the DataFrame; the
    pruner's ``keep=2`` keeps the previous snapshot alive for
    in-flight readers."""
    batch = committed_batch(store)
    if batch is None:
        return None
    return scan_parquet(spark, os.path.join(store, f"v{batch}"))


def _publish(store: str, batch_id: int, keep: int = 2) -> None:
    """Atomically point ``current`` at ``v<batch_id>``; prune old
    snapshots beyond ``keep`` (never the published one)."""
    tmp = os.path.join(store, ".current.tmp")
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(f"v{batch_id}", tmp)
    os.replace(tmp, os.path.join(store, "current"))
    import shutil

    versions = sorted((int(d.lstrip("v")) for d in os.listdir(store)
                       if d.startswith("v")), reverse=True)
    for v in versions[keep:]:
        if v != batch_id:
            shutil.rmtree(os.path.join(store, f"v{v}"),
                          ignore_errors=True)


def _guard_identity(store: str, checkpoint: str | None,
                    has_state: bool) -> None:
    """Record the checkpoint identity on an empty store; refuse to
    attach a different (or missing) checkpoint to a store with state."""
    ident_file = os.path.join(store, ".stream_identity")
    ident = os.path.abspath(checkpoint) if checkpoint else None
    if has_state:
        recorded = (open(ident_file).read()
                    if os.path.exists(ident_file) else None)
        if ident is None or recorded != ident:
            raise ValueError(
                "store already holds state committed under checkpoint "
                f"{recorded!r}; batch ids are per-checkpoint, so "
                "attaching a different or ephemeral checkpoint would "
                "silently drop or double-merge data — resume with the "
                "original checkpoint or start an empty store")
    elif ident is not None:
        with open(ident_file, "w") as fh:
            fh.write(ident)


def _start(stream_df: DataFrame, apply, checkpoint: str | None):
    """Start ``apply`` as the stream's ``foreachBatch`` sink."""
    writer = stream_df.writeStream.foreachBatch(apply) \
        .trigger(processingTime="0 seconds")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _rollup_delta(ts_col, key_col, value_col, step_seconds, origin,
                  value_cast):
    """``build(batch_df)``: the micro-batch's bucket rollup."""
    def build(batch_df: DataFrame) -> DataFrame:
        batch_df = normalize_ts(batch_df, ts_col)
        if value_cast:
            batch_df = batch_df.withColumn(
                value_col, F.col(value_col).cast(value_cast))
        return bucket_aggregate(batch_df, ts_col, key_col, value_col,
                                step_seconds, origin)
    return build


def maintain_rollup(stream_df: DataFrame, store: str,
                    ts_col: str = "ts", key_col: str = "user_id",
                    value_col: str = "value", step_seconds: int = 3600,
                    origin: str = DEFAULT_ORIGIN,
                    value_cast: str | None = None,
                    checkpoint: str | None = None):
    """Start the maintenance query; returns the StreamingQuery.

    ``value_cast`` (e.g. ``"decimal(18,2)"``) makes the running sums
    order-independent and hence bit-identical to a batch re-aggregate
    — pass it whenever exact parity matters.
    """
    os.makedirs(store, exist_ok=True)
    _guard_identity(store, checkpoint, committed_batch(store) is not None)
    build = _rollup_delta(ts_col, key_col, value_col, step_seconds, origin,
                          value_cast)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        committed = committed_batch(store)
        if committed is not None and batch_id <= committed:
            return  # replayed after publish: already merged
        delta = build(batch_df)
        prev = read_rollup(batch_df.sparkSession, store)
        merged = delta if prev is None else merge_rollups(prev, delta)
        merged.write.mode("overwrite").parquet(
            os.path.join(store, f"v{batch_id}"))
        _publish(store, batch_id)

    return _start(stream_df, apply, checkpoint)


# ---------------------------------------------------------------------------
# LSM-style delta-log maintenance: O(delta) per batch, not O(history)

def _base_state(store: str) -> tuple[str | None, int]:
    """(base version dir name or None, highest batch folded into it)."""
    marker = os.path.join(store, "BASE")
    if not os.path.exists(marker):
        return None, -1
    name, upto = open(marker).read().split()
    return name, int(upto)


def _committed_deltas(store: str, above: int) -> list[tuple[int, str]]:
    ddir = os.path.join(store, "delta")
    if not os.path.isdir(ddir):
        return []
    out = []
    for d in os.listdir(ddir):
        if d.startswith("v") and not d.startswith(".") and d[1:].isdigit():
            b = int(d[1:])
            if b > above:
                out.append((b, os.path.join(ddir, d)))
    return sorted(out)


def read_rollup_log(spark, store: str) -> DataFrame | None:
    """Committed state of a delta-log store: base snapshot merged with
    every committed delta above the base's fold point."""
    return read_mergeable(spark, store, merge_rollups)


def maintain_rollup_log(stream_df: DataFrame, store: str,
                        ts_col: str = "ts", key_col: str = "user_id",
                        value_col: str = "value",
                        step_seconds: int = 3600,
                        origin: str = DEFAULT_ORIGIN,
                        value_cast: str | None = None,
                        compact_every: int = 10,
                        checkpoint: str | None = None):
    """LSM variant of :func:`maintain_rollup`.

    Per batch: aggregate the delta (O(delta)), write it to a private
    staging dir, and commit with one atomic directory rename — history
    is never read or rewritten on the hot path.  Every
    ``compact_every`` committed deltas, the batch additionally folds
    base+deltas into a new base snapshot and atomically advances the
    ``BASE`` marker (readers that raced still see only immutable
    dirs).  Replayed batches are idempotent: the delta dir for a batch
    id is recomputed from the same input and the rename simply
    replaces nothing new; batches at or below the base fold point are
    skipped outright.
    """
    return maintain_mergeable(
        stream_df, store,
        _rollup_delta(ts_col, key_col, value_col, step_seconds, origin,
                      value_cast),
        merge_rollups, compact_every, checkpoint)


# ---------------------------------------------------------------------------
# Incremental JOIN view maintenance: the streaming form of
# operators/joins.py append_join_delta.  Histories and the view are
# append-only delta-dir logs (the LSM shape of maintain_rollup_log),
# so per-batch cost is O(delta-join), never O(history rewrite).

def _join_committed(store: str) -> int | None:
    p = os.path.join(store, "COMMIT")
    if not os.path.exists(p):
        return None
    return int(open(p).read().strip())


def _join_commit(store: str, batch_id: int) -> None:
    tmp = os.path.join(store, "COMMIT.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.replace(tmp, os.path.join(store, "COMMIT"))


def _committed_dirs(store: str, prefix: str) -> list[str]:
    committed = _join_committed(store)
    if committed is None:
        return []
    out = []
    for name in sorted(os.listdir(store)):
        if name.startswith(prefix):
            try:
                i = int(name[len(prefix):])
            except ValueError:
                continue
            if i <= committed:
                out.append(os.path.join(store, name))
    return out


def read_join_view(spark, store: str) -> DataFrame | None:
    """The committed incremental join view: union of per-batch view
    deltas (immutable dirs; the COMMIT pointer gates visibility)."""
    dirs = _committed_dirs(store, "v_d")
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def maintain_join(stream_df: DataFrame, store: str, on,
                  side_col: str = "side", a_side: str = "a",
                  a_cols: list | None = None, b_cols: list | None = None,
                  checkpoint: str | None = None):
    """Maintain a materialized two-sided join view over a tagged
    append stream: rows with ``side_col == a_side`` append to relation
    A, the rest to B, and each micro-batch publishes exactly the join
    rows the batch ADDS —

        dV = dA join B_hist + A_hist join dB + dA join dB

    (operators/joins.py append_join_delta: history never joins
    history, deltas broadcast).  All three stores — A history, B
    history, and the view — are append-only logs of immutable
    per-batch dirs gated by one COMMIT pointer, so a replayed batch
    overwrites its own dirs and re-commits: idempotent, exactly-once,
    O(delta) history cost per batch.

    ``on`` is the join key (or list); ``a_cols`` / ``b_cols`` project
    each side (defaults: every non-side column).  Returns the
    StreamingQuery; read the view with :func:`read_join_view`.
    """
    from ..operators.joins import append_join_delta

    keys = [on] if isinstance(on, str) else list(on)
    os.makedirs(store, exist_ok=True)
    _guard_identity(store, checkpoint, _join_committed(store) is not None)

    def hist(spark, prefix: str, schema) -> DataFrame:
        dirs = _committed_dirs(store, prefix)
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.parquet(*dirs)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        committed = _join_committed(store)
        if committed is not None and batch_id <= committed:
            return
        spark = batch_df.sparkSession
        da = batch_df.where(F.col(side_col) == a_side)
        db = batch_df.where(F.col(side_col) != a_side)
        da = da.select(*(a_cols or
                         [c for c in da.columns if c != side_col]))
        db = db.select(*(b_cols or
                         [c for c in db.columns if c != side_col]))
        # materialise the deltas: each feeds two join legs + its
        # history append
        da = da.localCheckpoint(eager=True)
        db = db.localCheckpoint(eager=True)
        a_hist = hist(spark, "a_d", da.schema)
        b_hist = hist(spark, "b_d", db.schema)
        dv = append_join_delta(a_hist, da, b_hist, db, keys)
        dv.write.mode("overwrite").parquet(
            os.path.join(store, f"v_d{batch_id}"))
        da.write.mode("overwrite").parquet(
            os.path.join(store, f"a_d{batch_id}"))
        db.write.mode("overwrite").parquet(
            os.path.join(store, f"b_d{batch_id}"))
        _join_commit(store, batch_id)

    return _start(stream_df, apply, checkpoint)


# ---------------------------------------------------------------------------
# Generic mergeable-aggregate maintenance: the LSM delta-log above,
# parameterised over ANY aggregate with an exact merge — CMS / KMV
# sketches (llm/sketches.py), rollups, or user tables satisfying
# merge(build(A), build(B)) == build(A ∪ B) for disjoint A, B.


def read_mergeable(spark, store: str, merge) -> DataFrame | None:
    """Committed state of a generic delta-log store: ``merge`` over
    the base snapshot plus every committed delta above its fold
    point.  ``merge(*frames) -> DataFrame`` must be the aggregate's
    exact combiner (e.g. ``llm.sketches.cms_merge``)."""
    base_name, upto = _base_state(store)
    deltas = _committed_deltas(store, upto)
    frames = []
    if base_name is not None:
        frames.append(scan_parquet(spark, os.path.join(store, base_name)))
    frames.extend(scan_parquet(spark, p) for _, p in deltas)
    if not frames:
        return None
    return merge(*frames)


def maintain_mergeable(stream_df: DataFrame, store: str, build, merge,
                       compact_every: int = 10,
                       checkpoint: str | None = None):
    """LSM maintenance for any mergeable aggregate: per micro-batch,
    ``build(batch_df)`` produces the delta table (O(delta) work),
    committed by one atomic directory rename; readers
    :func:`read_mergeable` with the matching ``merge``; every
    ``compact_every`` committed deltas the batch folds base+deltas
    into a new base snapshot (same lag-one pruning discipline as
    :func:`maintain_rollup_log`, which is this function specialised
    to time-bucket rollups).

    The flagship use is keeping corpus sketches current on a stream:
    ``build=lambda b: cms_sketch(b, "token")`` with
    ``merge=cms_merge`` maintains exact-merge token frequencies —
    per-batch cost bounded by depth*width cells, never a corpus
    re-read.  Replay-idempotent and checkpoint-identity-guarded
    exactly like the rollup log.
    """
    os.makedirs(os.path.join(store, "delta"), exist_ok=True)
    _guard_identity(store, checkpoint,
                    _base_state(store)[0] is not None
                    or bool(_committed_deltas(store, -1)))

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        _, upto = _base_state(store)
        if batch_id <= upto:
            return  # already folded into the base snapshot
        delta = build(batch_df)
        staging = os.path.join(store, "delta", f".tmp-{batch_id}")
        final = os.path.join(store, "delta", f"v{batch_id}")
        delta.write.mode("overwrite").parquet(staging)
        if os.path.isdir(final):
            shutil.rmtree(final)     # replayed batch: replace its delta
        os.replace(staging, final)   # atomic commit

        committed = _committed_deltas(store, upto)
        if len(committed) >= compact_every:
            spark = batch_df.sparkSession
            old_base, old_upto = _base_state(store)
            frames = ([scan_parquet(spark, os.path.join(store, old_base))]
                      if old_base else [])
            frames += [scan_parquet(spark, p) for _, p in committed]
            folded_to = committed[-1][0]
            new_base = f"base-v{folded_to}"
            merge(*frames).write.mode("overwrite").parquet(
                os.path.join(store, new_base))
            tmp = os.path.join(store, ".BASE.tmp")
            with open(tmp, "w") as fh:
                fh.write(f"{new_base} {folded_to}")
            os.replace(tmp, os.path.join(store, "BASE"))
            # prune with ONE COMPACTION OF LAG: a reader that listed
            # dirs under the previous marker still has every dir it
            # needs alive; only state the PREVIOUS fold already
            # superseded is removed now
            for b, p in _committed_deltas(store, -1):
                if b <= old_upto:
                    shutil.rmtree(p, ignore_errors=True)
            for d in os.listdir(store):
                if (d.startswith("base-v")
                        and d not in (new_base, old_base)):
                    shutil.rmtree(os.path.join(store, d),
                                  ignore_errors=True)

    return _start(stream_df, apply, checkpoint)
