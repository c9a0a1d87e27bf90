"""Spans, call wrappers and Spark status-store readers for the traced run.

Spans are kept in memory and written out once, when the run ends.  A
span has a name, start, end, parent span and op id; a layer's self time
is its spans' durations minus the part of them that child spans cover.
Nothing here is imported by the package under test: spans are recorded
from the benchmark's side of each call into a layer.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self.enabled = True  # off: spans are not recorded

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a wrapper that records one span per
        call, with the argument and result sizes, until the block exits.
        Callers that look the function up on the module at call time
        (``snappy.decompress(...)`` inside ``seqfile.core``) see it."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(buf, *args, **kwargs):
            with self.span(name) as rec:
                out = original(buf, *args, **kwargs)
                rec["in_bytes"] = len(buf)
                rec["out_bytes"] = len(out)
                return out

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Summed duration of ``name`` spans minus their children's."""
        ids = {s["id"] for s in self.named(name)}
        child = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] in ids and s["end"] is not None
        )
        return self.total_s(name) - child

    def dump(self, path: str, layers: dict, ops: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"layers": layers, "ops": ops, "spans": self.spans}, f, indent=1)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- Spark's status store -----------------------------------------------------


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def stage_rows(spark, group: str) -> list[dict]:
    """Per-stage metrics of every job run under job group ``group``,
    read from the SparkContext's status store (works with the UI off)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    rows = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage may have no attempt
                continue
            if not sd.submissionTime().isDefined():
                continue  # skipped: its shuffle output came from an earlier job
            tasks = store.taskList(sid, sd.attemptId(), 100_000)
            durations, cpus = [], []
            for i in range(tasks.size()):
                t = tasks.apply(i)
                if t.duration().isDefined():
                    durations.append(t.duration().get() / 1e3)
                if t.taskMetrics().isDefined():
                    cpus.append(t.taskMetrics().get().executorCpuTime() / 1e9)
            rows.append(
                {
                    "job": jid,
                    "stage": sid,
                    "name": sd.name(),
                    "tasks": sd.numTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_read_mb": (
                        sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()
                    ) / 1e6,
                    "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                    "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                    "submitted_ms": float(sd.submissionTime().get().getTime()),
                    "completed_ms": _opt_ms(sd.completionTime()),
                    "task_s": durations,
                    "task_cpu_s": cpus,
                }
            )
    return rows


def spark_op_metrics(rows: list[dict], wall: tuple[float, float]) -> dict:
    """Engine totals for one op; ``wall`` is the op's (start, end) in
    epoch seconds.  ``driver_only_s`` is the op's wall time not covered
    by any running stage: planning, result collection, Python driver
    work and scheduling gaps."""
    t0, t1 = wall
    intervals = sorted(
        (max(r["submitted_ms"] / 1e3, t0), min(r["completed_ms"] / 1e3, t1))
        for r in rows
        if r["completed_ms"] is not None
    )
    covered, end = 0.0, t0
    for a, b in intervals:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return {
        "spark.jobs": len({r["job"] for r in rows}),
        "spark.stages": len(rows),
        "spark.tasks": sum(r["tasks"] for r in rows),
        "spark.executor_run_s": sum(r["run_s"] for r in rows),
        "spark.executor_cpu_s": sum(r["cpu_s"] for r in rows),
        "spark.gc_s": sum(r["gc_s"] for r in rows),
        "spark.shuffle_read_mb": sum(r["shuffle_read_mb"] for r in rows),
        "spark.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in rows),
        "spark.spill_mb": sum(r["spill_mb"] for r in rows),
        "spark.driver_only_s": max(0.0, (t1 - t0) - covered),
    }
