#!/usr/bin/env python
"""Capture the FINAL AQE plan (post-execution) for named queries.

    python tools/capture_final_plans.py OUTDIR SUFFIX q1 q2 ...

Runs each query through the noop sink first, then prints the
re-optimised plan — the one with ReusedExchange / AQEShuffleRead
nodes.  The static plan (tools/capture_plans.py) can show a subtree
twice that AQE deduplicates at runtime (the char_entropy lesson, r12);
this tool shows what actually executed.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dask_ms_spark.cache import release_caches  # noqa: E402


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)

    from dask_ms_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("dask-ms-spark-finalplans", extra_conf={
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = {**entrymod.queries(), **entrymod.demoted_queries()}
    for n in names:
        release_caches()
        try:
            spark.sparkContext.setJobDescription(f"finalplan: {n}")
            df = queries[n](spark, sf_dir)
            # a noop write would execute a SEPARATE QueryExecution (the
            # write command's), leaving df's own plan un-adapted; run
            # the DataFrame's executedPlan directly so AQE finalises
            # THIS plan (JVM-side row count, no driver transfer)
            df._jdf.queryExecution().executedPlan().execute().count()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e}"
        path = os.path.join(outdir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        reused = plan.count("ReusedExchange")
        scans = plan.count("Scan parquet")
        print(f"wrote {path} (ReusedExchange={reused}, scans={scans})")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
