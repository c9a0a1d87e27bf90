"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Starts ``worker.py`` for the workload in a
new session, samples (every 0.2 s) the summed RSS of every process in that session
(driver Python, JVM, Python workers), and after the worker ends, stops
and reaps every process the run started, also when the run fails or
times out.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of BENCHMARK.json when ``--trace 0`` and its per-layer metrics
when ``--trace 1``.  The exit code is 0 only when every op's output
check passed.  See README.md in this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# worker wall-clock cap: a run must end within 180 s; past the cap every
# process of the run is killed at once, which leaves them seconds to exit
DEADLINE_S = 165
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(state, session id, RSS bytes) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return rest[0], int(rest[3]), int(rest[21]) * PAGE


def _session(sid: int) -> dict[int, tuple[str, int]]:
    """Live processes of session ``sid``: pid -> (state, RSS bytes)."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None and st[1] == sid:
                out[int(pid)] = (st[0], st[2])
    return out


def _reap() -> None:
    """Collect exit statuses of children, including orphans handed to us
    as subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sid: int, sig: int) -> None:
    """Send ``sig`` to every live process of session ``sid``; a process
    may exit between the listing and the signal."""
    for p, (state, _) in _session(sid).items():
        if state != "Z":
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass


def _sweep(sid: int) -> None:
    """Wait until every process of the run's session is gone and reaped:
    a few seconds to exit by itself, then SIGTERM, then SIGKILL.  A
    zombie counts as alive until reaped, since a multi-threaded one
    (the JVM) is still exiting; orphans come to this process as
    subreaper, so it reaps them here."""
    t0 = time.monotonic()
    while True:
        _reap()
        procs = _session(sid)
        if not procs:
            return
        waited = time.monotonic() - t0
        if waited > 5:
            _signal_all(sid, signal.SIGKILL if waited > 10 else signal.SIGTERM)
        time.sleep(0.1)


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, once its Python parent dies) are
    re-parented to this process, so it can reap them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("BENCHMARK.json", "hadoop_formats_spark/session.py", "tools/check_correctness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")

    workdir = os.path.join(
        ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    _become_subreaper()
    # SIGTERM unwinds through the cleanup below instead of orphaning the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = _supervise(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if result is None:
        return 1

    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in listed:
        metrics[m["name"]] = {"value": result["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
        print(f"{m['name']:>40} {metrics[m['name']]['value']:>14.6g} {m['unit']}", file=sys.stderr)
    correct = result["attempted"] >= 1 and result["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


def _supervise(args, workdir: str) -> dict | None:
    """Run the worker, sample its session's RSS and clean up after it.
    Returns the worker's result with ``metrics`` filled in, or None when
    the worker produced no result."""
    shutil.rmtree(workdir, ignore_errors=True)
    for sub in ("cache", "tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub))
    out = os.path.join(workdir, "result.json")
    log_path = os.path.join(workdir, "worker.log")
    env = dict(
        os.environ,
        HFS_CACHE_DIR=os.path.join(workdir, "cache"),  # private per run: no shared cache hits
        TMPDIR=os.path.join(workdir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # spark-submit's launcher JVM
        PYTHONUNBUFFERED="1",
        PERFBENCH_T0=repr(time.time()),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", workdir, "--out", out,
    ]  # fmt: skip
    peak = 0
    timed_out = False
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, env=env, cwd=workdir, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )  # fmt: skip
        try:
            deadline = time.monotonic() + DEADLINE_S
            while proc.poll() is None:
                peak = max(peak, sum(rss for _, rss in _session(proc.pid).values()))
                if time.monotonic() > deadline:
                    timed_out = True
                    break
                time.sleep(0.2)
        finally:
            if proc.poll() is None:
                _signal_all(proc.pid, signal.SIGKILL)
            proc.wait()
            _sweep(proc.pid)

    with open(log_path, errors="replace") as f:
        log_text = f.read()
    sys.stderr.writelines(line + "\n" for line in log_text.splitlines() if line.startswith("[perfbench"))
    try:
        with open(out) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = None
    if result is None or proc.returncode != 0:
        sys.stderr.write(log_text[-4000:])
        why = "timed out" if timed_out else f"worker exited with {proc.returncode}"
        print(f"perfbench: {why}; no result", file=sys.stderr)
        return None
    result["metrics"] = (
        result["layers"] if args.trace else dict(result["e2e"], peak_rss_mb=peak / 1e6)
    )
    return result


if __name__ == "__main__":
    sys.exit(main())
