#!/usr/bin/env python
"""Per-query interleaved profiler for the optimization rounds.

Times a named subset of the registry with the same methodology as
bench.py (noop sink, release_caches between queries, canary probe
before each repeat) but interleaved A/B style: all queries in the list
are timed round-robin for N repeats, so a host-speed drift hits every
query equally instead of whichever ran last.

    python tools/profile_queries.py q1 q2 ... [--repeats N] [--sf DIR]

Prints one JSON line: {"queries": {name: {"median": s, "samples": [...]}},
"canary": [...]}.
"""

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dask_ms_spark.cache import release_caches  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from dask_ms_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("dask-ms-spark-profile", extra_conf={
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**entrymod.queries(), **entrymod.demoted_queries()}

    bad = [n for n in args.names if n not in queries]
    if bad:
        print(f"unknown queries: {bad}", file=sys.stderr)
        return 2

    # session + codegen warmup (same shape as bench.py)
    warm_dir = os.path.join(os.path.dirname(args.sf.rstrip("/")),
                            "sf0.001")
    spark.read.parquet(os.path.join(args.sf, "nation.parquet")).count()

    def _ident(it):
        yield from it
    spark.range(1000, numPartitions=int(os.environ.get(
        "SPARK_GRAFT_CPUS", os.cpu_count() or 4))) \
        .mapInPandas(_ident, "id long").count()
    if not args.no_warm and os.path.isdir(warm_dir):
        for n in args.names:
            try:
                queries[n](spark, warm_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                print(f"warm {n}: {e}", file=sys.stderr)
            release_caches()

    def canary() -> float:
        t0 = time.time()
        spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")) \
            .groupBy("l_returnflag").count().write.format("noop") \
            .mode("overwrite").save()
        return round(time.time() - t0, 3)

    samples: dict[str, list[float]] = {n: [] for n in args.names}
    canaries: list[float] = []
    for _ in range(args.repeats):
        canaries.append(canary())
        for n in args.names:
            release_caches()
            t0 = time.time()
            try:
                queries[n](spark, args.sf).write.format("noop") \
                    .mode("overwrite").save()
                samples[n].append(round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001
                samples[n].append(-1.0)
                print(f"{n} FAILED: {e}", file=sys.stderr)
    out = {"queries": {
        n: {"median": round(statistics.median([s for s in ss if s >= 0]
                                              or [-1.0]), 3),
            "samples": ss}
        for n, ss in samples.items()},
        "canary": canaries, "sf": args.sf}
    spark.stop()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
