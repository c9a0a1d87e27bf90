"""One run of one workload, in a process of its own.

``run.py`` starts this file in a new session, samples its memory and
cleans up after it; run it directly only to debug a workload.  The run's
numbers go to the JSON file named by ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_conf(workdir: str) -> dict:
    """Keep every file Spark writes inside the run's directory and the
    console free of progress bars.  The heap is ``get_spark``'s own."""
    tmp = os.path.join(workdir, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM: the gateway JVM exits when its
    stdin closes, and takes its Python worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _crash_after(seconds: float) -> None:
    """Test hook: die by SIGKILL mid-op, leaving the JVM and Python
    workers for the supervisor to clean up."""
    threading.Timer(seconds, os.kill, (os.getpid(), signal.SIGKILL)).start()


def _op_layers(ops: list[dict]) -> dict:
    """Per-op engine numbers of the traced ops, as medians over ops."""
    from tracing import median

    traced = [o for o in ops if o.get("spark")]
    out = {k: median(o["spark"][k] for o in traced) for k in (traced[0]["spark"] if traced else {})}
    scans, writes = [], []
    for o in traced:
        reads = [s for s in o["stages"] if s["group"].endswith("-read") and s["shuffle_read_mb"] == 0]
        wrote = [s for s in o["stages"] if s["group"].endswith("-write")]
        if reads:
            scans.append(
                (
                    [t for s in reads for t in s["task_s"]],
                    sum(c for s in reads for c in s["task_cpu_s"]),
                )
            )
        if wrote:
            writes.append([t for s in wrote for t in s["task_s"]])
    if scans:
        out["datasource.scan_tasks"] = median(len(t) for t, _ in scans)
        out["datasource.scan_task_median_s"] = median(x for t, _ in scans for x in t)
        out["datasource.scan_task_max_s"] = median(max(t) for t, _ in scans)
        out["datasource.scan_task_cpu_s"] = median(c for _, c in scans)
    if writes:
        out["datasource.write_tasks"] = median(len(t) for t in writes)
        out["datasource.write_task_max_s"] = median(max(t) for t in writes)
    timed = [o for o in ops if "op_s" in o]
    if any(o.get("spark") for o in timed):
        out["trace.overhead_s"] = median(o["op_s"] for o in timed if o.get("spark")) - median(
            o["op_s"] for o in timed if not o.get("spark")
        )
    return out


def run(spark, args, tracer, get_spark_s: float) -> dict:
    from tracing import median, spark_op_metrics, stage_rows
    from workloads import CORES, WORKLOADS, log

    wl = WORKLOADS[args.workload](spark, args.seed, args.workdir, tracer)
    tracer.enabled = False
    log("session up")
    wl.setup()
    setup_s = time.time() - float(os.environ["PERFBENCH_T0"])
    log("setup done")
    if os.environ.get("PERFBENCH_CRASH_AFTER_S"):
        _crash_after(float(os.environ["PERFBENCH_CRASH_AFTER_S"]))

    ops: list[dict] = []
    start = time.perf_counter()
    while time.perf_counter() - start < args.seconds:
        # a traced run alternates traced and untraced ops, so it can
        # report its own overhead
        traced = bool(args.trace) and len(ops) % 2 == 1
        tracer.op, tracer.enabled = len(ops), traced
        wall0 = time.time()
        try:
            rec = wl.run_op(traced)
        except Exception as e:  # noqa: BLE001 - a failed op counts as not ok
            traceback.print_exc()
            rec = {"ok": False, "error": repr(e)}
        if traced:
            rows = [dict(r, group=g) for g in wl.groups for r in stage_rows(spark, g)]
            rec["spark"] = spark_op_metrics(rows, (wall0, time.time()))
            rec["stages"] = rows
        ops.append(rec)
        log(f"op {len(ops) - 1}: {rec.get('op_s', 0):.3f}s ok={rec['ok']}")
    tracer.op, tracer.enabled = None, True

    if not any("op_s" in o for o in ops):
        raise RuntimeError("no op completed")

    def med(key: str):
        xs = [o[key] for o in ops if key in o]
        return median(xs) if xs else wl.e2e[key]

    e2e = {
        "setup_s": setup_s,
        "op_s": med("op_s"),
        "write_s": med("write_s"),
        "readback_s": med("readback_s"),
        "stored_bytes_per_user_byte": wl.e2e["stored_bytes_per_user_byte"],
        "ok_frac": sum(bool(o["ok"]) for o in ops) / len(ops),
    }
    layers = {}
    if args.trace:
        layers = {"session.get_spark_s": get_spark_s, "session.slots": CORES}
        layers.update(_op_layers(ops))
        layers.update(wl.layers())
    return {
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "e2e": e2e,
        "layers": layers,
        "ops": ops,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)

    from hadoop_formats_spark.session import get_spark
    from tracing import Tracer
    from workloads import CORES

    tracer = Tracer()
    t = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=CORES, extra_conf=_spark_conf(args.workdir)
    )
    get_spark_s = time.perf_counter() - t
    try:
        result = run(spark, args, tracer, get_spark_s)
    finally:
        _stop(spark)
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            result["layers"],
            result["ops"],
        )
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
