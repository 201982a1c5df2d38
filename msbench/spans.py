"""Measurement plumbing: operation spans, library wrappers, job-group
job counts, Spark event-log aggregation, the tail-percentile rule and
peak resident memory.

Everything here observes the library from outside: spans are timed
around public calls, wrappers replace module attributes for the length
of a traced run and put the originals back, and executor metrics come
from Spark's own uncompressed event log.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

TAIL_BEYOND = 10      # samples that must lie above the reported tail


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    above it: ``(value, percentile, n)``.

    Sorted ascending, that is the sample at index ``n - 11``; its
    percentile is ``100 * (n - 10) / n``.  With ``n <= 10`` no sample
    has ten beyond it, so the maximum is reported as percentile 100;
    the caller records ``n`` so such a tail is read for what it is.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def vmhwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``.  Every file counts toward
    bytes; names starting with ``.`` or ``_`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers, zarr's ``.zarray``/``.zattrs`` metadata) are
    not data files."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
            if not name.startswith((".", "_")):
                files += 1
    return total, files


# -- operation spans ---------------------------------------------------------

@dataclass
class Op:
    """One operation: a public call plus its action.  ``construct`` is
    the time until :meth:`Recorder.constructed` was called (the lazy
    result exists), ``execute`` the time from the start of the action
    to the end.  In a traced run the job-count lookup between the two
    belongs to neither, so ``construct + execute`` falls short of
    ``wall`` by the tracer's own cost."""
    name: str
    kind: str                 # "read" | "write"
    phase: str                # "warm" | "run" | "extra" | "registry"
    index: int
    group: str
    start: float = 0.0
    mark: float | None = None   # lazy result built
    act: float | None = None    # action started
    end: float = 0.0
    jobs_before_action: int = 0
    error: str | None = None
    wrong: bool = False
    calls: list = field(default_factory=list)   # (layer, seconds, extra)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def construct(self) -> float:
        return (self.mark if self.mark is not None else self.start) \
            - self.start

    @property
    def execute(self) -> float:
        return self.end - (self.act if self.act is not None
                           else self.start)

    def as_dict(self) -> dict:
        return {"name": self.name, "kind": self.kind, "phase": self.phase,
                "index": self.index, "group": self.group,
                "wall_s": self.wall, "construct_s": self.construct,
                "execute_s": self.execute,
                "jobs_before_action": self.jobs_before_action,
                "error": self.error, "wrong": self.wrong,
                "calls": self.calls}


class Recorder:
    """Keeps every operation span in memory for the life of a run.

    Untraced, an op costs two clock reads.  Traced, each op also gets
    its own Spark job group, the job count at :meth:`Op.constructed`
    time is read from the status tracker, and wrapped library calls
    made during the op are attached to it.
    """

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.ops: list[Op] = []
        self.current: Op | None = None
        self._undo: list = []

    def run(self, fn, name: str, kind: str, phase: str, index: int):
        """Run ``fn(op)`` as one operation; ``fn`` calls
        ``self.constructed(op)`` between building and acting.  An
        exception is recorded on the op, not raised."""
        op = Op(name, kind, phase, index, f"msbench-{phase}-{index}-{name}")
        self.ops.append(op)
        if self.traced:
            self.sc.setJobGroup(op.group, op.group)
        self.current = op
        op.start = time.perf_counter()
        try:
            fn(op)
        except Exception as err:  # noqa: BLE001 - counted as a failed op
            op.error = f"{type(err).__name__}: {err}"[:500]
        op.end = time.perf_counter()
        self.current = None
        if self.traced:
            self.sc.setJobGroup("msbench-idle", "msbench-idle")
        return op

    def constructed(self, op: Op) -> None:
        op.mark = time.perf_counter()
        if self.traced:
            op.jobs_before_action = len(
                self.sc.statusTracker().getJobIdsForGroup(op.group))
        op.act = time.perf_counter()

    def measured(self) -> list[Op]:
        return [o for o in self.ops if o.phase == "run"]

    # -- wrappers (traced runs only) -------------------------------------

    def wrap(self, module: str, attr: str, layer: str,
             also: tuple = (), extra=None) -> None:
        """Replace ``module.attr`` (and the same function re-exported
        under each ``(module, attr)`` in ``also``) with a timing wrapper
        that appends ``(layer, seconds, extra(result))`` to the current
        op.  :meth:`unwrap` restores the originals."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        rec = self

        @functools.wraps(orig)
        def timed(*args, **kw):
            t0 = time.perf_counter()
            out = orig(*args, **kw)
            dt = time.perf_counter() - t0
            if rec.current is not None:
                rec.current.calls.append(
                    (layer, dt, extra(out) if extra else None))
            return out

        for m, a in ((module, attr),) + tuple(also):
            target = importlib.import_module(m)
            self._undo.append((target, a, getattr(target, a)))
            setattr(target, a, timed)

    def unwrap(self) -> None:
        for target, attr, orig in reversed(self._undo):
            setattr(target, attr, orig)
        self._undo.clear()

    def layer_calls(self, layer: str) -> list[tuple[float, object]]:
        return [(dt, ex) for o in self.measured() for (ly, dt, ex)
                in o.calls if ly == layer]


def account(ops: list[Op], problems) -> tuple[int, int]:
    """Fold output-check failures into the op records: every op whose
    name a failed check names is a wrong-result op.  Returns
    ``(attempted, failed)``, where failed counts ops that raised or
    returned a wrong result."""
    wrong = {name for name, _ in problems}
    for op in ops:
        if op.name in wrong:
            op.wrong = True
    return len(ops), sum(1 for op in ops if op.error or op.wrong)


# -- Spark event log ----------------------------------------------------------

EXEC_METRICS = ("executor_run_s", "executor_cpu_s", "python_gap_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "input_mb", "output_mb", "records_read", "task_skew",
                "jobs", "stages", "tasks")

MB = 1024.0 * 1024.0


def _zero() -> dict:
    return {k: 0.0 for k in EXEC_METRICS}


def read_event_log(path: str) -> dict[str, dict]:
    """Aggregate executor task metrics per job group from an
    uncompressed Spark event log (one JSON event per line).

    Returns ``{job_group: metrics}`` with the keys in
    :data:`EXEC_METRICS`.  ``python_gap_s`` is executor run time minus
    JVM CPU time: the time tasks spent waiting, mostly on Python
    workers and I/O, which JVM metrics cannot see.  ``task_skew`` is
    the largest max/median task run time over the group's stages that
    ran at least two tasks (1.0 when none did).
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                agg = groups.setdefault(group, _zero())
                agg["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid, "")
                agg = groups.setdefault(group, _zero())
                tm = ev.get("Task Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                cpu_ns = tm.get("Executor CPU Time", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                om = tm.get("Output Metrics") or {}
                agg["executor_run_s"] += run_ms / 1e3
                agg["executor_cpu_s"] += cpu_ns / 1e9
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)
                                           ) / MB
                agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written",
                                                  0) / MB
                agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                agg["input_mb"] += im.get("Bytes Read", 0) / MB
                agg["records_read"] += im.get("Records Read", 0)
                agg["output_mb"] += om.get("Bytes Written", 0) / MB
                agg["tasks"] += 1
                stage_tasks.setdefault(sid, []).append(float(run_ms))
    for sid, runs in stage_tasks.items():
        agg = groups[stage_group.get(sid, "")]
        agg["stages"] += 1
        if len(runs) >= 2:
            skew = max(runs) / max(statistics.median(runs), 1.0)
            agg["task_skew"] = max(agg["task_skew"], skew)
    for agg in groups.values():
        agg["task_skew"] = max(agg["task_skew"], 1.0)
        agg["python_gap_s"] = max(0.0, agg["executor_run_s"]
                                  - agg["executor_cpu_s"])
    return groups


def find_event_log(log_dir: str) -> str:
    """The single finished (not ``.inprogress``) log under ``log_dir``."""
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
            if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    return logs[0]


def merge(aggs) -> dict:
    out = _zero()
    for a in aggs:
        for k in EXEC_METRICS:
            if k == "task_skew":
                out[k] = max(out[k], a[k])
            else:
                out[k] += a[k]
    out["task_skew"] = max(out["task_skew"], 1.0)
    return out
