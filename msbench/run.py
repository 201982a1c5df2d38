"""Run one benchmark workload and print its metrics.

    python3 msbench/run.py --workload ms_io --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate run with
Spark's event log on, a job group per operation and wrappers around the
library's layer entry points, and reports the per-layer metrics.  See
README.md.

Everything the run writes stays under ``.msbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The driver heap is committed up front (-Xms = -Xmx) so the JVM's peak
# resident size does not depend on when G1 decided to grow the heap.
DRIVER_HEAP = "2g"


def declared_units(traced: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if traced else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# wrapped in traced runs: (module, attribute, layer, re-exports[, extra])
# where extra(result) is recorded with each call
WRAPS = [
    ("dask_ms_spark.taql", "taql_where_to_sql", "taql.translate", ()),
    ("dask_ms_spark.dataset", "partition_datasets", "dataset.partition",
     (("dask_ms_spark.sources.parquet", "partition_datasets"),
      ("dask_ms_spark", "partition_datasets")), len),
    ("dask_ms_spark.sources.zarr", "xds_from_zarr", "sources.zarr.read", ()),
    ("dask_ms_spark.sources.zarr", "xds_to_zarr", "sources.zarr.write", ()),
    ("dask_ms_spark.sources.parquet", "xds_to_parquet",
     "sources.parquet.write", (("dask_ms_spark.sources.storage",
                                "xds_to_parquet"),
                               ("dask_ms_spark", "xds_to_parquet"))),
    ("dask_ms_spark.expressions", "apply_expr", "expressions.apply",
     (("dask_ms_spark", "apply_expr"),)),
    ("dask_ms_spark.llm.corpus", "quality_filter",
     "llm.corpus.quality_filter", ()),
    ("dask_ms_spark.llm.dedup", "exact_dedup", "llm.dedup.exact_dedup", ()),
    ("dask_ms_spark.llm.dedup", "minhash_dedup",
     "llm.dedup.minhash_dedup", ()),
    ("dask_ms_spark.llm.sampling", "deterministic_split",
     "llm.sampling.deterministic_split", ()),
]


def spark_conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it;
    the JVM's Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_iteration(rec, wl, phase: str, index: int, names=None):
    """Run the workload's operations in order; ``names`` limits a
    warm-up round to some of them."""
    ops = [rec.run(fn, name, kind, phase, index)
           for name, kind, fn in wl.ops() if names is None or name in names]
    wl.after_iteration(ops)
    return ops


def bench(args, work: str) -> tuple[dict, dict]:
    """Returns (result line, run record)."""
    from spans import Recorder, account, dir_stats, median, \
        tail_percentile, vmhwm_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    units = declared_units(traced)

    t0 = time.perf_counter()
    import dask_ms_spark as dms

    spark = dms.get_spark(f"msbench-{args.workload}",
                          extra_conf=spark_conf(work, traced))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    rec = Recorder(spark, traced)
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        if traced:
            for module, attr, layer, also, *extra in WRAPS:
                rec.wrap(module, attr, layer, also, *extra)
        wl = WORKLOADS[args.workload](dms, spark, work, args.seed, rec)

        t_gen = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t_gen
        for i, names in enumerate(wl.warmup_rounds):
            run_iteration(rec, wl, "warm", i, names)
        setup_s = time.perf_counter() - t0

        # a fixed number of measured iterations, so every commit is
        # scored on the same samples; --seconds is a floor on the
        # measured phase, met with extra iterations that are not scored
        timed, iterations = 0.0, 0
        while iterations < wl.iterations or timed < args.seconds:
            phase = "run" if iterations < wl.iterations else "extra"
            ops = run_iteration(rec, wl, phase, iterations)
            timed += ops[-1].end - ops[0].start
            iterations += 1
        scored = rec.measured()
        scored_s = sum(o.wall for o in scored)

        # a check that cannot read an output fails; the run still reports
        try:
            problems = wl.check()
        except Exception as err:  # noqa: BLE001
            problems = [("check", f"{type(err).__name__}: {err}"[:500])]
        peak_rss_mb = vmhwm_mb(jvm_pid) + vmhwm_mb()
        sizes = {k: dir_stats(p) for k, p in wl.outputs().items()}
        if traced and wl.registry_pass:
            import registry

            problems += registry.run_pass(dms, spark, rec, work, args.seed)
    finally:
        rec.unwrap()
        stop_spark(spark)

    walls = [o.wall for o in scored]
    tail, tail_pct, tail_n = tail_percentile(walls)
    attempted, failed = account(rec.ops, problems)
    items_per_s = wl.items_per_iteration * wl.iterations / scored_s

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "iterations": wl.iterations, "extra_iterations":
            iterations - wl.iterations, "timed_s": timed,
        "op_tail": {"percentile": tail_pct, "n": tail_n},
        "fail_frac": failed / attempted, "problems": problems,
        "session_s": session_s, "gen_s": gen_s,
        "ops": [o.as_dict() for o in rec.ops],
    }
    if not traced:
        metrics = {
            "setup_s": setup_s,
            "items_per_s": items_per_s,
            "op_p50_s": median(walls),
            "op_tail_s": tail,
            "read_p50_s": median(o.wall for o in scored
                                 if o.kind == "read"),
            "write_p50_s": median(o.wall for o in scored
                                  if o.kind == "write"),
            "bytes_per_input_byte": (sum(b for b, _ in sizes.values())
                                     / wl.input_bytes),
            "peak_rss_mb": peak_rss_mb,
        }
    else:
        import layers

        metrics = layers.per_layer(rec, wl, work, session_s=session_s,
                                   sizes=sizes, items_per_s=items_per_s)
    if set(metrics) != set(units):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }
    return result, record


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".msbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    if args.trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher and the driver) keeps its temp files in
    # the checkout and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    sys.path.insert(0, ROOT)
    try:
        result, record = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "runs", name), "w") as f:
        json.dump({"result": result, **record}, f, indent=1)
    for k, m in result["metrics"].items():
        print(f"{k:48s} {m['value']:.6g} {m['unit']}")
    print(f"{'fail_frac':48s} {record['fail_frac']:.6g} ratio")
    print(f"op_tail_s is p{record['op_tail']['percentile']:.1f} of "
          f"n={record['op_tail']['n']} ops; {record['iterations']} scored "
          f"+ {record['extra_iterations']} extra iterations in "
          f"{record['timed_s']:.2f} s")
    for op_name, problem in record["problems"]:
        print(f"WRONG {op_name}: {problem}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
