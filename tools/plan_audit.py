#!/usr/bin/env python
"""Physical-plan audit over the whole query registry.

For every ``queries()`` entry (and demoted variants), plans the query
at a small scale factor (planning only — nothing executes unless the
query builds driver-side state) and scans the plan string for
anti-patterns:

  * ``CartesianProduct``          — an unkeyed join of two big sides;
  * ``BatchEvalPython``           — a row-at-a-time Python UDF in the
                                    hot path (Arrow paths show up as
                                    ArrowEvalPython / MapInPandas /
                                    FlatMapGroupsInPandas and are
                                    allowed);
  * unpartitioned Window          — a ``Window`` fed by ``Exchange
                                    SinglePartition``: every input row
                                    funnels through ONE task (the KMV
                                    r7 seam).  Legit only over bounded
                                    tables (#partitions-sized offset
                                    tables, k-sized sketch states,
                                    per-language group tables) — those
                                    sites are whitelisted per query;
  * single-partition exchanges    — informational (global aggregates
                                    of partial rows legitimately use
                                    one);
  * exchange count                — shuffles per query (informational);
  * broadcast-nested-loop joins   — allowed only when one side is a
                                    broadcast of a bounded relation
                                    (the scalar/LUT/probe patterns);
                                    reported so a reviewer can check.

Output: one line per query plus a summary; exit 1 if a hard
anti-pattern (CartesianProduct / BatchEvalPython / non-whitelisted
unpartitioned Window) appears.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HARD = ("CartesianProduct", "BatchEvalPython")

# Queries allowed N unpartitioned-Window occurrences because the
# window input is provably BOUNDED (never instance volume):
#   - #partitions-sized per-partition offset tables (attach_rowid /
#     heaps_fit two-level prefix sums, operators/ordering.py:86-119)
#   - GROUPS tables: one row per language/class (sample_unimax
#     waterfilling, mixture weights)
#   - k-sized sketch states (kmv_merge_states)
# Populated from the audited baseline; any NEW occurrence fails.
UPWIN_WHITELIST: dict = {
    # attach_rowid per-partition offset table (#partitions rows)
    "group_partition": 1,
    "sorted_read": 1,
    "zipf_fit": 1,
    # heaps_fit bucket-totals table (#partitions rows)
    "heaps_fit": 1,
    # UniMax waterfilling over the GROUPS table (one row/language)
    "sample_unimax": 2,
}


def unpartitioned_windows(plan: str) -> int:
    """Shared detector — one implementation for this audit and the
    pytest guard (dask_ms_spark.plans), so the two can never drift."""
    from dask_ms_spark.plans import unpartitioned_windows_in

    return unpartitioned_windows_in(plan)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    queries = {**entrymod.queries(), **entrymod.demoted_queries()}
    bad = []
    rows = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            rows.append((name, f"PLAN ERROR: {str(exc)[:120]}"))
            bad.append(name)
            continue
        flags = [p for p in HARD if p in plan]
        nexch = plan.count("Exchange ")
        nbnl = plan.count("BroadcastNestedLoopJoin")
        nupw = unpartitioned_windows(plan)
        nspe = plan.count("Exchange SinglePartition")
        allowed = UPWIN_WHITELIST.get(name, 0)
        if nupw > allowed:
            flags.append(f"UnpartitionedWindow({nupw}>{allowed})")
        note = (f"exchanges={nexch}"
                + (f" sp_exch={nspe}" if nspe else "")
                + (f" upwin={nupw}/{allowed}" if nupw else "")
                + (f" bnl={nbnl}" if nbnl else "")
                + (f" !!{'/'.join(flags)}" if flags else ""))
        rows.append((name, note))
        if flags:
            bad.append(name)
        spark.catalog.clearCache()

    width = max(len(n) for n, _ in rows)
    for name, note in rows:
        print(f"{name:<{width}}  {note}")
    print(f"\n{len(rows)} queries audited; "
          f"{len(bad)} with hard anti-patterns"
          + (f": {sorted(bad)}" if bad else ""))
    if not only:
        # machine-checkable registry ledger: tests/test_plans.py
        # asserts these NAME SETS (not just the count) against the
        # live queries()/demoted_queries() — a query moving between
        # the lists without a regeneration fails the suite
        reg = sorted(entrymod.queries())
        dem = sorted(entrymod.demoted_queries())
        print(f"\nregistered ({len(reg)}): {' '.join(reg)}")
        print(f"demoted ({len(dem)}): {' '.join(dem)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
