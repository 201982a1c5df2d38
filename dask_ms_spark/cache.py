"""Scoped lifecycle for the library's internal ``persist()`` calls.

A handful of pipelines (MinHash-LSH, n-gram containment, the
self-scored bigram LM) persist ONE intermediate DataFrame that feeds
several consumers in the same plan — columnar ``persist`` measured
4-10x faster there than ``localCheckpoint`` (SCALE.md, round 8).
Spark's CacheManager keys those entries by logical plan and never
releases them on GC, so without bookkeeping a looping driver
accumulates cache entries until it calls the global
``spark.catalog.clearCache()`` — a sledgehammer that also drops the
USER'S caches.

This module gives every internal persist a paired release:

* :func:`scoped_persist` — the library-internal replacement for
  ``df.persist()``.  The frame is persisted as before AND registered
  with the innermost active :func:`cache_scope` (or, with no scope
  active, a module-level registry).
* :func:`cache_scope` — context manager for callers who loop:
  every library persist issued inside the ``with`` block is
  unpersisted (blocking) on exit, and ONLY those — user caches are
  untouched.  Materialise results inside the block::

      with cache_scope():
          pairs = lsh_jaccard_pairs(docs).collect()

  A frame returned OUT of the scope stays correct — unpersist only
  drops cached blocks; re-execution recomputes from lineage.
* :func:`release_caches` — frees every unscoped registration (the
  batch analogue; bench.py calls it between queries instead of
  ``clearCache``).

The reference leans on dask's reference-counted graph memoisation for
the same multi-consumer reuse (daskms/optimisation.py:215-269); Spark
has no refcounted cache, so explicit scope exit is the release point.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator, List

from pyspark.sql import DataFrame

__all__ = ["cache_scope", "scoped_persist", "release_caches",
           "CacheScope"]


class CacheScope:
    """Tracks the DataFrames persisted while the scope was innermost;
    :meth:`release` unpersists exactly those frames (idempotent).
    Tracking and release are lock-guarded — the unscoped registry is
    shared across driver threads."""

    def __init__(self) -> None:
        self._frames: List[DataFrame] = []
        self._lock = threading.Lock()

    def track(self, df: DataFrame) -> DataFrame:
        with self._lock:
            self._frames.append(df)
        return df

    @property
    def n_tracked(self) -> int:
        return len(self._frames)

    def release(self) -> int:
        """Blocking-unpersist every tracked frame; returns how many."""
        with self._lock:
            frames, self._frames = self._frames, []
        n = 0
        for df in frames:
            try:
                df.unpersist(blocking=True)
                n += 1
            except Exception:  # session already stopped — nothing to free
                pass
        return n


# innermost-last stack of active scopes, PER DRIVER THREAD: concurrent
# threads each running `with cache_scope():` must not cross-register
# (thread A's scope exit would blocking-unpersist thread B's frames
# mid-pipeline — review r9).  The unscoped registry stays shared: it
# is the process-wide "free on demand" pool.
_LOCAL = threading.local()
_UNSCOPED = CacheScope()


def _scopes() -> List[CacheScope]:
    stack = getattr(_LOCAL, "scopes", None)
    if stack is None:
        stack = _LOCAL.scopes = []
    return stack


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with a paired release: the frame is registered
    with this thread's innermost :func:`cache_scope` (unpersisted at
    scope exit) or, outside any scope, with the process-wide registry
    freed by :func:`release_caches`.  Iterative drivers keep
    ``localCheckpoint`` instead, for the lineage truncation that
    ``persist`` does not do."""
    out = df.persist()
    stack = _scopes()
    (stack[-1] if stack else _UNSCOPED).track(out)
    return out


@contextmanager
def cache_scope() -> Iterator[CacheScope]:
    """Bound the lifetime of the library's internal caches to a block.

    Nested scopes are fine — each persist registers with the innermost
    one.  The scope stack is thread-local, so concurrent driver
    threads (the standard parallel job-submission pattern) release
    only their own frames.  On exit every frame the block persisted is
    blocking-unpersisted, so ``spark.catalog`` cache-entry counts
    return to their pre-block value (pytest-asserted in
    tests/test_llm.py).
    """
    scope = CacheScope()
    stack = _scopes()
    stack.append(scope)
    try:
        yield scope
    finally:
        stack.remove(scope)
        scope.release()


def release_caches() -> int:
    """Unpersist every library-persisted frame not already released by
    a :func:`cache_scope`; returns the number freed.  Unlike
    ``spark.catalog.clearCache()`` this never touches caches the USER
    created."""
    return _UNSCOPED.release()
