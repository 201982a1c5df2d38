"""Structured Streaming over the events table (SURVEY §2.10).

The reference has no streaming; its nearest analogues are incremental
appends (daskms/writes.py:584-612) and live-archive reads (S5 katdal).
This module is the pure-extension streaming surface: file-source
streams, watermarked tumbling/sliding windows, and a custom stateful
operator via ``applyInPandasWithState``.

Every transformation is defined once against a *batch or streaming*
DataFrame — the same code path serves both, which is how the batch
oracle (DuckDB) can check the windowed semantics the stream runs.
"""

from __future__ import annotations

import os
import tempfile
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.parquet import scan_parquet

__all__ = ["normalize_ts", "read_events", "read_events_stream",
           "windowed_counts", "sliding_value_stats", "correlate_events",
           "dedup_events", "sessionize", "run_stream_to_memory",
           "stream_append_parquet",
           "detect_anomalies_stream"]


def normalize_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalise an epoch-nanos long ``ts`` to a timestamp type.

    The events parquet has carried TIMESTAMP(NANOS), which Spark's
    reader only accepts as a long (``spark.sql.legacy.parquet.
    nanosAsLong``, set in session.py); sub-microsecond precision is
    dropped.  Naive TIMESTAMP(MICROS) parquet instead arrives as
    TIMESTAMP_NTZ and passes through unchanged — downstream code must
    accept either flavor (use ``timestampdiff``/``window``, not
    ``unix_micros``, which rejects NTZ).
    """
    field = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
    if field.get(ts_col) == "timestamp_ntz" and df.isStreaming:
        # watermarks/event-time require TIMESTAMP (LTZ).  The session
        # tz is pinned to UTC (session.py), so this cast is
        # value-preserving; batch frames stay NTZ to match tz-naive
        # external oracles.
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if field.get(ts_col) == "bigint":
        # integer division: (ns / 1000) through double rounds near
        # microsecond boundaries (2^53 < ns range), which shifts events
        # across second edges vs an exact-ns engine
        micros = F.expr(f"`{ts_col}` div 1000")
        return df.withColumn(ts_col, F.timestamp_micros(micros))
    return df


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch read of the events table with ``ts`` normalised.

    Sets ``nanosAsLong`` defensively: the conf is runtime-settable and
    the session may not come from ``get_spark`` (e.g. the test driver's
    own session).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts(scan_parquet(spark, path))


def read_events_stream(spark: SparkSession, path: str,
                       schema=None, max_files: int = 1) -> DataFrame:
    """File-source stream over a parquet events directory.

    Spark's FileStreamSource requires a *directory*; a single-file
    path (like the testdata tables) is staged behind a symlink dir so
    the read-only source file is never touched.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = scan_parquet(spark, path).schema
    if os.path.isfile(path):
        # staging dir must be a pure function of the source path:
        # checkpointed streams record source files by absolute path, so
        # a fresh random dir per call would invalidate every checkpoint
        import hashlib as _hashlib
        import stat as _stat

        target = os.path.abspath(path)
        digest = _hashlib.md5(target.encode()).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(),
                             f"dms_stream_{digest}")
        os.makedirs(stage, mode=0o700, exist_ok=True)
        # the stage path is predictable, so never adopt somebody
        # else's dir or a stale/planted symlink: the dir must be ours
        # and not group/world-writable, and the link must point at
        # exactly the expected source file
        st = os.lstat(stage)
        if (_stat.S_ISLNK(st.st_mode) or not _stat.S_ISDIR(st.st_mode)
                or st.st_uid != os.getuid()
                or st.st_mode & (_stat.S_IWGRP | _stat.S_IWOTH)):
            raise RuntimeError(
                f"refusing to reuse staging dir {stage}: not a "
                "user-owned private directory")
        link = os.path.join(stage, os.path.basename(path))
        if os.path.islink(link):
            if os.readlink(link) != target:
                os.remove(link)
                os.symlink(target, link)
        elif os.path.exists(link):
            raise RuntimeError(
                f"staging entry {link} exists and is not a symlink")
        else:
            os.symlink(target, link)
        path = stage
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files).parquet(path))
    return normalize_ts(stream)


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours",
                    value_scale: int = 2) -> DataFrame:
    """Tumbling-window counts + sums per event_type with late-data
    watermarking.  Works identically on batch and streaming frames.

    ``value`` accumulates as ``decimal(18, value_scale)`` — exact and
    summation-order-independent, which is what makes the result
    engine-identical (double sums reorder under repartitioning).  The
    default scale of 2 matches the money-like events fixture; inputs
    with more fractional digits are rounded *before* aggregation, so
    pass a larger ``value_scale`` for higher-precision streams (an
    18-digit decimal keeps sums exact up to ~10^(16-scale))."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    acc = f"decimal(18,{int(value_scale)})"
    return (df.groupBy(F.window("ts", window).alias("win"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum(F.col("value").cast(acc))
                            .cast("double"), 4).alias("sum_value"))
              .select(F.col("win.start").alias("window_start"),
                      "event_type", "n_events", "sum_value"))


def sliding_value_stats(events: DataFrame, window: str = "2 hours",
                        slide: str = "1 hour",
                        watermark: str = "4 hours",
                        value_scale: int = 2) -> DataFrame:
    """Sliding-window per-user value statistics.

    ``value_scale`` sets the decimal accumulation precision (see
    :func:`windowed_counts` — inputs round to this scale before the
    sum; raise it for non-money-like streams)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    # decimal-sum / count instead of native avg: both engines then
    # derive the identical IEEE double (oracle-parity rule)
    acc = f"decimal(18,{int(value_scale)})"
    return (df.groupBy(F.window("ts", window, slide).alias("win"), "user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum(F.col("value").cast(acc))
                            .cast("double") / F.count(F.lit(1)), 4)
                    .alias("avg_value"))
              .select(F.col("win.start").alias("window_start"),
                      "user_id", "n_events", "avg_value"))


def correlate_events(events: DataFrame, left_type: str = "click",
                     right_type: str = "error",
                     horizon: str = "10 minutes",
                     watermark: str = "1 hour") -> DataFrame:
    """Same-user temporal correlation: every ``right_type`` event that
    follows a ``left_type`` event by the same user within ``horizon``.

    The stream-stream-join shape (SURVEY §2.10 extension): on streaming
    frames both sides carry watermarks and the two-sided time bound
    lets Spark evict join state, so state stays O(events within
    watermark), not O(stream).  On batch frames the identical code
    plans an equi-join on ``user_id`` — one shuffle per side, the time
    predicate evaluated join-local, never a nested loop over time.
    """
    a = events.where(F.col("event_type") == left_type).select(
        "user_id", F.col("ts").alias("a_ts"),
        F.col("event_id").alias("a_id"))
    b = events.where(F.col("event_type") == right_type).select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"),
        F.col("event_id").alias("b_id"))
    if events.isStreaming:
        a = a.withWatermark("a_ts", watermark)
        b = b.withWatermark("b_ts", watermark)
    cond = ((a.user_id == b.b_user) & (b.b_ts >= a.a_ts) &
            (b.b_ts <= F.col("a_ts") + F.expr(f"INTERVAL {horizon}")))
    return (a.join(b, cond)
             .select("user_id", "a_id", "b_id", "a_ts", "b_ts"))


def dedup_events(events: DataFrame,
                 keys: tuple[str, ...] = ("user_id", "event_type"),
                 ts: str = "ts", bucket_s: int = 300,
                 watermark: str = "30 minutes") -> DataFrame:
    """Collapse near-duplicate events: rows with the same ``keys``
    inside the same ``bucket_s``-second event-time bucket count once.

    Streaming: ``dropDuplicatesWithinWatermark`` keyed on
    (keys, bucket) — state is evicted once the watermark passes a
    bucket, so memory stays O(buckets within watermark), not
    O(stream).  Which row of a duplicate class survives is
    arrival-order dependent.

    Batch: the same duplicate classes, but with a deterministic
    representative (min ts, then min event_id) so the result is
    oracle-checkable.  Both paths agree on the *set of classes*; the
    streaming parity test compares exactly that.
    """
    bucket = (F.floor(F.unix_timestamp(F.col(ts)) / bucket_s)
              .cast("bigint").alias("bucket_id"))
    df = events.withColumn("bucket_id", bucket)
    subset = [*keys, "bucket_id"]
    if df.isStreaming:
        return (df.withWatermark(ts, watermark)
                  .dropDuplicatesWithinWatermark(subset))
    from pyspark.sql.window import Window

    w = Window.partitionBy(*subset).orderBy(
        F.col(ts).asc(), F.col("event_id").asc())
    return (df.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1).drop("_rn"))


_SESSION_SCHEMA = ("user_id long, session_start timestamp, "
                   "session_end timestamp, n_events long")
_STATE_SCHEMA = "start long, last long, n long"


def _session_fn(key, pdf_iter, state: GroupState,
                timeout_ms: int = 30_000):
    """Custom stateful operator: per-user session aggregation with a
    processing-time timeout — the ``applyInPandasWithState`` pattern
    for operators Spark lacks natively (SURVEY custom-operator rule
    (b)).

    Emits a snapshot row on every update (outputMode ``update``
    replaces earlier snapshots per key) and closes the session on
    timeout; a finite source therefore still surfaces the final state
    even though the timeout never fires before it drains.
    """
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame([{
            "user_id": key[0],
            "session_start": pd.Timestamp(start, unit="us"),
            "session_end": pd.Timestamp(last, unit="us"),
            "n_events": n}])
        return
    start = last = None
    n = 0
    if state.exists:
        start, last, n = state.get
    for pdf in pdf_iter:
        ts_us = (pdf["ts"].astype("int64") // 1000)
        lo, hi = int(ts_us.min()), int(ts_us.max())
        start = lo if start is None else min(start, lo)
        last = hi if last is None else max(last, hi)
        n += len(pdf)
    state.update((start, last, n))
    state.setTimeoutDuration(timeout_ms)
    yield pd.DataFrame([{
        "user_id": key[0],
        "session_start": pd.Timestamp(start, unit="us"),
        "session_end": pd.Timestamp(last, unit="us"),
        "n_events": n}])


def sessionize(events: DataFrame, timeout_ms: int = 30_000) -> DataFrame:
    """Per-user session rollup as a stateful streaming operator.

    ``timeout_ms`` is the idle gap that closes a session; a closure
    carries it to the workers (an availableNow stream keeps running
    micro-batches until pending timers fire, so tests pass a short
    gap).
    """

    def fn(key, pdf_iter, state):
        yield from _session_fn(key, pdf_iter, state, timeout_ms)

    return (events.groupBy("user_id")
            .applyInPandasWithState(fn, _SESSION_SCHEMA,
                                    _STATE_SCHEMA, "update",
                                    GroupStateTimeout.ProcessingTimeTimeout))


def stream_append_parquet(stream_df: DataFrame, out_path: str,
                          checkpoint: str,
                          timeout_s: float = 120.0) -> None:
    """Incremental exactly-once append to a parquet table (reference
    S7 append semantics, daskms/writes.py:352-490, in streaming form).

    The checkpoint's write-ahead log records which source files each
    committed batch consumed: re-running after new data arrives appends
    only the unseen rows, and re-running with nothing new writes
    nothing — the chained row-count-discovery bookkeeping the reference
    does by hand becomes the sink's commit protocol.
    """
    q = (stream_df.writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append")
         .trigger(availableNow=True).start())
    if not q.awaitTermination(timeout_s):
        # a False return means the stream OUTLIVED the timeout: the
        # parquet append is partial and the query is still running —
        # stop it and fail loudly rather than report a silent
        # partial commit (review r8)
        q.stop()
        raise TimeoutError(
            f"stream_append_parquet: stream did not finish within "
            f"{timeout_s}s — partial append stopped; raise timeout_s")


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         timeout_s: float = 60.0,
                         output_mode: str | None = None) -> DataFrame:
    """Drive a stream to completion against a finite file source and
    return the in-memory sink table (test/bench harness).

    Default output mode: ``complete`` for aggregating streams (the
    memory sink then holds the final window states), ``append`` for
    non-aggregating ones (joins, maps) where complete is unsupported.
    """
    if output_mode is None:
        import re

        plan = stream_df._jdf.queryExecution().analyzed().toString() \
            if stream_df.isStreaming else ""
        m = re.search(r"FlatMapGroupsInPandasWithState[^\n]*?,\s*"
                      r"(Append|Update|Complete),\s*\w*Timeout", plan)
        if m:
            # a stateful operator DECLARES its mode in the plan node
            # (..., Append, NoTimeout) — the sink must match it
            # (review r9: assuming update broke append-mode
            # operators, and vice versa)
            output_mode = m.group(1).lower()
        elif re.search(r"(?m)^[\s+:|~-]*'?Aggregate\b", plan):
            # node-anchored: a bare substring match also hit column
            # NAMES like AggregateScore (review r9)
            output_mode = "complete"
        else:
            output_mode = "append"
    query = (stream_df.writeStream.format("memory").queryName(name)
             .outputMode(output_mode)
             .trigger(availableNow=True).start())
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"run_stream_to_memory: stream {name!r} did not finish "
            f"within {timeout_s}s — partial results discarded; raise "
            "timeout_s")
    spark = stream_df.sparkSession
    return spark.table(name)


_ANOM_OUT_SCHEMA = ("user_id long, event_id long, value double, "
                    "is_anomaly boolean")
_ANOM_STATE_SCHEMA = "hist array<double>"


def detect_anomalies_stream(events: DataFrame, window: int = 32,
                            k: float = 1.5,
                            min_history: int = 8) -> DataFrame:
    """Streaming form of the batch Tukey-fence detector
    (operators/timeseries.py rolling_outliers): per-user state holds a
    ring buffer of the last ``window`` values; each arriving event is
    scored against the buffer BEFORE being appended (the score must
    not see itself), exactly mirroring the batch frame
    ``[-window, -1]``.

    The parity contract is tested end-to-end: replaying the events
    table through this operator yields flag-for-flag the batch
    operator's output (the source is per-key time-ordered; within a
    micro-batch rows are sorted by (ts, event_id) — streaming cannot
    reorder the past, so out-of-order sources need a watermark
    upstream).  State is O(window) doubles per key — bounded,
    checkpointable, and exactly the working set the batch window
    carries per row.
    """
    import numpy as np

    def fn(key, pdf_iter, state: GroupState):
        hist = list(state.get[0]) if state.exists else []
        pdfs = [p for p in pdf_iter if len(p)]
        out = []
        if pdfs:
            rows = pd.concat(pdfs).sort_values(["ts", "event_id"])
            for r in rows.itertuples(index=False):
                v = float(r.value)
                # batch parity for NULLs (review r8 + r9): the batch
                # ROWS frame [-window, -1] counts a NULL row as a
                # SLOT while percentile/count ignore its value — so
                # a NULL occupies a ring-buffer slot (as NaN) but
                # never enters the quartiles, and the NULL row itself
                # is unscored.  Skipping NULLs entirely (the r8 fix)
                # left the streaming history spanning MORE rows than
                # the batch frame whenever NULLs interleaved.
                is_null = v != v                 # NaN: NULL via Arrow
                live = [h for h in hist if h == h]
                if is_null:
                    flag = None
                elif len(live) >= min_history:
                    q1 = float(np.percentile(live, 25))
                    q3 = float(np.percentile(live, 75))
                    iqr = q3 - q1
                    flag = bool(v < q1 - k * iqr or v > q3 + k * iqr)
                else:
                    flag = None
                out.append((key[0], int(r.event_id),
                            None if is_null else v, flag))
                hist.append(v)                   # NULL slots included
                hist = hist[-window:]
        state.update((hist,))
        yield pd.DataFrame(out, columns=["user_id", "event_id",
                                         "value", "is_anomaly"])

    return (events.groupBy("user_id")
            .applyInPandasWithState(fn, _ANOM_OUT_SCHEMA,
                                    _ANOM_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))
