"""SparkSession factory tuned for the dask-ms-spark engine.

The reference (ratt-ru/dask-ms) relies on dask's scheduler plus a
per-table single I/O thread (daskms/table_executor.py:39-65).  On Spark
none of that is needed; instead we centralise the session-level knobs
that matter at scale:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's static chunk planning (daskms/reads.py:302-309).
* Arrow for all Python<->JVM transfer — the Pandas-UDF fast path.
* shuffle.partitions sized to the local core count for tests; on a real
  cluster this is left to AQE's coalescing with a high initial value.
* 128 MiB maxPartitionBytes — the scan-split analogue of the
  reference's 10k-row default chunking (daskms/reads.py:33).
* Python workers forked from :mod:`dask_ms_spark._pydaemon`, which
  stops every Python task (``mapInArrow``/``mapInPandas``/UDF) from
  re-reading the zip archives on the worker path: stock PySpark's
  per-task ``importlib.invalidate_caches()`` costs 0.15-0.2 s per task
  on Python 3.11, several times a JVM-only task.  The package root is
  put on the workers' ``PYTHONPATH`` so the daemon imports from any
  working directory.  Override either with ``extra_conf``, e.g.
  ``{"spark.python.daemon.module": "pyspark.daemon"}`` for the stock
  daemon.
* The JVM talks to Python workers over Unix domain sockets, not TCP
  on localhost: an empty one-task ``mapInArrow`` task runs in 10-19 ms
  instead of 48-53 ms (4 cores), so Python-kernel stages such as the
  zarr read lose most of their fixed per-task cost.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "ensure_parallelism"]


DAEMON_MODULE = "dask_ms_spark._pydaemon"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def session_conf(extra_conf: dict | None = None) -> dict:
    """The engine's default Spark settings, ``extra_conf`` applied
    last (it overrides any default)."""
    cpus = _cpus()
    conf = {
        # --- adaptive execution: runtime re-planning, skew handling ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing: local default; AQE coalesces down ---
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        # --- scans: 128 MiB splits, vectorized parquet reader ---
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.parquet.enableVectorizedReader": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # --- Arrow everywhere Python touches data ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- broadcast: dim tables in this schema are tiny ---
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # --- timestamps: avoid ns/us ambiguity vs external oracles ---
        "spark.sql.session.timeZone": "UTC",
        # parquet TIMESTAMP(NANOS) (e.g. the events table) is illegal
        # for Spark's reader by default; read as epoch-nanos long and
        # normalise in the reader (streaming/events.py:normalize_ts)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                              "8g"),
        "spark.ui.enabled": "false",
        # --- Python workers: no per-task zip archive re-reads ---
        "spark.python.daemon.module": DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": _ROOT,
        "spark.python.unix.domain.socket.enabled": "true",
    }
    conf.update(extra_conf or {})
    return conf


def get_spark(app_name: str = "dask-ms-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults
    (:func:`session_conf`).

    Defaults are safe for local testing and scale-minded: every setting
    here is one you would also set on a 1000-executor cluster except
    ``master``, which defaults to ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{_cpus()}]")
    for k, v in session_conf(extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _planned_partitions(plan) -> int:
    """Partition count of the physical ``plan`` (a JVM ``SparkPlan``)
    as planned, starting no job.

    Under AQE this reads the adaptive plan's current physical plan:
    before execution, the initial one with its exchanges placed (its
    ``inputPlan`` has none yet).  A partitioning that states its count
    (set by a shuffle, a coalesce or a range) is used as it is.
    Otherwise the count is the streamed side's (a broadcast build side
    never sets it; a union adds its children's), down to the leaf
    scan, whose planned splits are read from its RDD: no exchange lies
    below a leaf, so building that RDD runs nothing — unless the scan
    is filtered by a subquery (dynamic partition pruning), which then
    runs.  A persisted frame reports its cached RDD once loaded and
    its cached plan before that.
    """
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _planned_partitions(plan.executedPlan())
    if name == "InMemoryTableScan":
        cache = plan.relation().cacheBuilder()
        if cache.isCachedColumnBuffersLoaded():
            return cache.cachedColumnBuffers().getNumPartitions()
        return _planned_partitions(plan.relation().cachedPlan())
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    kids = [kids.apply(i) for i in range(kids.size())]
    if name == "Union":
        return sum(_planned_partitions(k) for k in kids)
    streamed = [k for k in kids if k.nodeName() != "BroadcastExchange"]
    return _planned_partitions((streamed or kids)[0])


def ensure_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition ``df`` iff its plan yields fewer
    partitions than the session's core count.

    Why: a small parquet file is a single row group = ONE input split,
    so CPU-heavy per-row work (md5 shingling, regex scoring) serialises
    on one core no matter how many the session has.  At production
    scale inputs span many splits and this is a no-op.  The count is
    the PLANNED one, read from the physical plan (see
    :func:`_planned_partitions`): no Spark job runs, where ``df.rdd``
    would execute every AQE stage of a joined or aggregated frame only
    for the action to run them again.  A frame whose root is a shuffle
    reports the shuffle's planned count, before AQE coalescing.
    The reference has the same issue inverted: its chunks arg splits a
    monolithic CASA table into dask tasks (daskms/dask_ms.py:243-267).
    """
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    planned = _planned_partitions(df._jdf.queryExecution().executedPlan())
    if planned < min_partitions:
        return df.repartition(min_partitions)
    return df


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
