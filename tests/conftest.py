"""Shared fixtures: one local SparkSession + the sf0.001 test tables.

Mirrors the reference's conftest strategy (daskms/conftest.py:89-144):
small deterministic fixtures, session-scoped expensive resources.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from dask_ms_spark.session import DAEMON_MODULE

    # Python workers fork from the library's daemon and talk to the JVM
    # over Unix domain sockets, as under get_spark
    s = (SparkSession.builder.master("local[4]")
         .appName("dask-ms-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.python.daemon.module", DAEMON_MODULE)
         .config("spark.python.unix.domain.socket.enabled", "true")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def table(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


def jobs_in(spark, group: str, fn):
    """Run ``fn`` under a job group; return (result, jobs started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def spark_round(x, digits=0):
    """Spark's ``round`` of a double: BigDecimal.valueOf(x).setScale(
    digits, HALF_UP), i.e. HALF_UP on the double's SHORTEST decimal
    repr, not its exact binary value -- Decimal(repr(x)) mirrors that."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits),
                                           rounding=ROUND_HALF_UP))


def fold(xs):
    """Left-to-right float sum, the order Spark's ``aggregate`` folds in."""
    acc = 0.0
    for x in xs:
        acc += x
    return acc


@pytest.fixture(scope="session")
def lineitem(spark):
    return table(spark, "lineitem")


@pytest.fixture(scope="session")
def orders(spark):
    return table(spark, "orders")


@pytest.fixture(scope="session")
def nation(spark):
    return table(spark, "nation")


@pytest.fixture(scope="session")
def customer(spark):
    return table(spark, "customer")


@pytest.fixture(scope="session")
def documents(spark):
    return table(spark, "documents")


@pytest.fixture(scope="session")
def embeddings(spark):
    return table(spark, "embeddings")


@pytest.fixture(scope="session")
def events_path():
    return os.path.join(SF_DIR, "events.parquet")
