"""Per-layer metrics of a traced run.

Every traced run reports every per-layer name in BENCHMARK.json; a
layer the workload does not touch reports 0.  Times are medians per
call (or per operation), counts are per scored iteration, and the
``spark.*`` executor metrics are summed over the job groups of the
scored operations and divided by the number of iterations.

``registry.*`` comes from the registry pass (registry.py), run after
the measured phase of the traced runs of a workload that hosts it:
per query its construct time and the jobs its query function ran before
the action, and over the pass the totals and the Spark jobs and stages.
"""

from __future__ import annotations

import os

import registry
from spans import find_event_log, median, merge, read_event_log

# ops whose wall is the layer's read time, by workload op name
PARQUET_READS = ("grouped_read", "taql_read", "read_splits")
ZARR_READS = ("zarr_read",)


def per_layer(rec, wl, work: str, *, session_s: float, sizes: dict,
              items_per_s: float) -> dict:
    measured = rec.measured()
    iterations = wl.iterations
    walls = [o.wall for o in measured]

    def call_median(layer: str) -> float:
        return median(dt for dt, _ in rec.layer_calls(layer))

    def op_median(names) -> float:
        return median(o.wall for o in measured if o.name in names)

    events = read_event_log(find_event_log(os.path.join(work, "events")))
    run_groups = {o.group for o in measured}
    spark = merge(a for g, a in events.items() if g in run_groups)

    # rows the TAQL read's scan examined per row it returned
    taql_ops = [o for o in measured if o.name == "taql_read"]
    examined = sum(events.get(o.group, {}).get("records_read", 0)
                   for o in taql_ops)
    returned = getattr(wl, "taql_rows", 0)

    funnels = [f for f in getattr(wl, "funnels", []) if f]
    funnel = funnels[-1] if funnels else None
    parquet_bytes, parquet_files = sizes.get("parquet", (0, 0))
    zarr_bytes, zarr_files = sizes.get("zarr", (0, 0))
    # the share of each op's wall its construct and execute spans
    # cover; the rest is the tracer's own job-count lookup
    coverage = min((o.construct + o.execute) / o.wall for o in measured)
    reg_ops = [o for o in rec.ops if o.phase == registry.PHASE]
    reg_groups = {o.group for o in reg_ops}
    reg_spark = merge(a for g, a in events.items() if g in reg_groups)

    m = {
        "session.start_s": session_s,
        "driver.construct_s": median(o.construct for o in measured),
        "driver.execute_s": median(o.execute for o in measured),
        "driver.construct_share": (sum(o.construct for o in measured)
                                   / sum(walls)),
        "driver.jobs_before_action": (sum(o.jobs_before_action
                                          for o in measured) / iterations),
        "sources.parquet.read_s": op_median(PARQUET_READS),
        "sources.parquet.write_s": call_median("sources.parquet.write"),
        "sources.parquet.bytes_written": parquet_bytes,
        "sources.parquet.files_written": parquet_files,
        "sources.parquet.rows_examined_per_returned":
            examined / (len(taql_ops) * returned) if returned else 0.0,
        "sources.zarr.read_construct_s": call_median("sources.zarr.read"),
        "sources.zarr.read_s": op_median(ZARR_READS),
        "sources.zarr.write_s": call_median("sources.zarr.write"),
        "sources.zarr.bytes_written": zarr_bytes,
        "sources.zarr.chunk_files": zarr_files,
        "sources.convert.convert_s": op_median(("convert",)),
        "taql.translate_s": call_median("taql.translate"),
        "dataset.partition_construct_s": call_median("dataset.partition"),
        "dataset.n_datasets": (sum(n for _, n in
                                   rec.layer_calls("dataset.partition"))
                               / iterations),
        "expressions.apply_construct_s": call_median("expressions.apply"),
        "llm.corpus.quality_filter.construct_s":
            call_median("llm.corpus.quality_filter"),
        "llm.corpus.kept_frac":
            (funnel["after_quality_and_exact_dedup"] / funnel["input"]
             if funnel else 0.0),
        "llm.dedup.exact_dedup.construct_s":
            call_median("llm.dedup.exact_dedup"),
        "llm.dedup.minhash_dedup.construct_s":
            call_median("llm.dedup.minhash_dedup"),
        "llm.dedup.near_dup_dropped":
            (funnel["after_quality_and_exact_dedup"] - funnel["final"]
             if funnel else 0),
        "llm.sampling.deterministic_split.construct_s":
            call_median("llm.sampling.deterministic_split"),
        "cache.released": sum(wl.released) / iterations,
        "trace.items_per_s": items_per_s,
        "trace.op_p50_s": median(walls),
        "trace.span_coverage": coverage,
    }
    for k, v in spark.items():
        if k == "task_skew":
            m["spark.task_skew"] = v
        elif k != "records_read":
            m[f"spark.{k}"] = v / iterations
    reg_construct = sum(o.construct for o in reg_ops)
    reg_wall = sum(o.wall for o in reg_ops)
    m.update({
        "registry.construct_s": reg_construct,
        "registry.execute_s": sum(o.execute for o in reg_ops),
        "registry.construct_share": reg_construct / reg_wall if reg_ops
        else 0.0,
        "registry.jobs_before_action": sum(o.jobs_before_action
                                           for o in reg_ops),
        "registry.spark_jobs": reg_spark["jobs"],
        "registry.spark_stages": reg_spark["stages"],
    })
    by_name = {o.name: o for o in reg_ops}
    for q in registry.QUERIES:
        op = by_name.get(q)
        m[f"registry.{q}.construct_s"] = op.construct if op else 0.0
        m[f"registry.{q}.jobs_before_action"] = (op.jobs_before_action
                                                 if op else 0)
    return m
