"""Restartable partitioned backfill orchestration.

Reprocessing 100 TB is never one job — it is thousands of
partition-sized jobs, and the operational question is always the same:
which partitions are done, which failed, and how do I resume without
recomputing or double-writing?  ``backfill`` answers it with the same
commit discipline as the streaming maintenance stores
(streaming/maintenance.py): each partition writes to its own immutable
output dir, completion is an atomically renamed marker, and a re-run
skips committed partitions — so the whole backfill is idempotent under
any number of restarts, partial failures, or concurrent observers.

Store layout:

    store/
      data/p=<partition>/   per-partition parquet output
      _done/<partition>     rename-committed completion markers

This is driver-side orchestration of EXECUTOR-side work: each
``run(spark, partition)`` plan is still fully distributed; the loop
only sequences commits.  For a cluster, partitions are sized so one
partition's job saturates the executors (e.g. a day of a 3-year
backfill), making the driver loop negligible.
"""

from __future__ import annotations

import os
import re
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from typing import Callable, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

__all__ = ["backfill", "completed_partitions", "read_backfill"]


def _safe(p: str) -> str:
    return re.sub(r"[^A-Za-z0-9_.-]", "_", str(p))


def completed_partitions(store: str) -> set[str]:
    d = os.path.join(store, "_done")
    if not os.path.isdir(d):
        return set()
    return set(os.listdir(d))


def read_backfill(spark, store: str) -> DataFrame | None:
    """Union of all COMMITTED partition outputs (uncommitted dirs from
    a crashed run are invisible)."""
    done = completed_partitions(store)
    paths = [os.path.join(store, "data", f"p={p}") for p in sorted(done)]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return None
    return spark.read.parquet(*paths)


def backfill(spark, partitions: Sequence[str],
             run: Callable[[object, str], DataFrame], store: str,
             max_failures: int = 0,
             max_concurrent: int = 1) -> list[tuple[str, str]]:
    """Execute ``run(spark, partition)`` for every partition not yet
    committed in ``store``; returns ``[(partition, status)]`` in input
    order with status in ``skipped`` / ``done`` / ``failed: <err>``.

    A partition is committed only after its parquet write finishes:
    crash between write and commit re-runs that partition, whose
    ``mode("overwrite")`` write makes the retry idempotent.  Stops
    submitting after ``max_failures`` failures (0 = stop at first);
    in-flight partitions finish and commit.

    ``max_concurrent`` partition JOBS run through the SparkSession at
    once, from a pool of that many driver threads (Spark's scheduler
    interleaves jobs freely; the commit protocol is already
    per-partition-atomic, so concurrency changes throughput, not
    semantics).  Raise it when one partition's job cannot saturate the
    cluster — e.g. many small historical days — and leave it at 1 when
    each partition already fills the executors.  Every partition job
    runs under the caller's job group and description.
    """
    # two labels must not share one sanitised key ("a/b" vs "a_b"):
    # the second would silently skip as already-committed (review r9)
    by_key: dict[str, str] = {}
    for part in partitions:
        key = _safe(part)
        if by_key.setdefault(key, str(part)) != str(part):
            raise ValueError(
                f"backfill: partitions {by_key[key]!r} and {part!r} "
                f"both sanitise to {key!r}; rename one")
    os.makedirs(os.path.join(store, "_done"), exist_ok=True)
    os.makedirs(os.path.join(store, "data"), exist_ok=True)
    done = completed_partitions(store)
    status: dict[str, str] = {}
    todo = []
    for part in partitions:
        if _safe(part) in done:
            status[part] = "skipped"
        else:
            todo.append(part)

    def run_one(part: str) -> str:
        key = _safe(part)
        out = run(spark, part)
        out.write.mode("overwrite").parquet(
            os.path.join(store, "data", f"p={key}"))
        tmp = os.path.join(store, "_done", f".{key}.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(part))
        os.replace(tmp, os.path.join(store, "_done", key))
        return "done"

    # the caller's local properties (job group, description, pool)
    # and job tags reach every partition job, whichever pool thread
    # runs it; with pinned-thread mode off the call returns the
    # session itself, and run_one runs unwrapped
    wrap = inheritable_thread_target(spark)
    target = run_one if wrap is spark else wrap(run_one)
    workers = max(1, max_concurrent)
    failures = 0
    with ThreadPoolExecutor(max_workers=workers) as pool:
        pending = {}
        it = iter(todo)
        active = True
        while pending or active:
            while active and len(pending) < workers:
                nxt = next(it, None)
                if nxt is None or failures > max_failures:
                    active = False
                    break
                pending[pool.submit(target, nxt)] = nxt
            if not pending:
                break
            ready, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in ready:
                part = pending.pop(fut)
                try:
                    status[part] = fut.result()
                except Exception as exc:  # noqa: BLE001 - isolation
                    status[part] = f"failed: {exc}"
                    failures += 1
    return [(p, status[p]) for p in partitions if p in status]
