#!/usr/bin/env python
"""Capture .explain("formatted") output for named queries to files.

    python tools/capture_plans.py OUTDIR SUFFIX q1 q2 ...

Writes OUTDIR/<query>_<SUFFIX>.txt for each query, e.g. before/after
plan dumps for an optimisation; keep OUTDIR outside the repository.
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

    spark = get_spark("dask-ms-spark-plans", extra_conf={
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for n in names:
        release_caches()
        try:
            df = queries[n](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR capturing plan: {e}"
        path = os.path.join(outdir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
