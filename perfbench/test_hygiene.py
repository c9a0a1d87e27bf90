"""Process hygiene of the benchmark: no process a run starts outlives it.

    python3 -m pytest perfbench/test_hygiene.py -q

Each test tags the run with a unique environment variable, which the
JVM and every Python worker inherit. After the run it looks for any
process still carrying the tag, and for any process orphaned to the
test process, which is a subreaper.
"""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


# this process becomes a subreaper, so a process the run failed to reap,
# zombie or not, ends up as its child once the run's supervisor exits
ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _tagged(tag: str) -> list[int]:
    """Processes whose environment holds ``tag``, or that were orphaned
    to this process."""
    needle = f"PERFBENCH_TEST_TAG={tag}".encode()
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # gone
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            env = []  # an exiting process has no readable environment
        if needle in env or ppid == os.getpid():
            pids.append(int(pid))
    return pids


def _run(cwd: str, extra_env: dict | None = None, seconds: int = 2):
    tag = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_TAG=tag, **(extra_env or {}))
    proc = subprocess.run(
        RUN + ["--workload", "hadoop_snappy_scan", "--seed", "3",
               "--seconds", str(seconds), "--trace", "0"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=240,
    )  # fmt: skip
    return proc, _tagged(tag)


def test_normal_run_leaves_no_process():
    proc, left = _run(ROOT)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert left == []


def test_run_killed_mid_op_leaves_no_process():
    # the worker SIGKILLs itself 0.5 s into the first timed op, leaving
    # its JVM and Python workers orphaned for the supervisor to stop
    proc, left = _run(ROOT, {"PERFBENCH_CRASH_AFTER_S": "0.5"}, seconds=20)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert left == []


def test_supervisor_terminated_mid_run_leaves_no_process():
    tag = uuid.uuid4().hex
    env = dict(os.environ, PERFBENCH_TEST_TAG=tag)
    proc = subprocess.Popen(
        RUN + ["--workload", "hadoop_snappy_scan", "--seed", "3",
               "--seconds", "20", "--trace", "0"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )  # fmt: skip
    time.sleep(25)  # mid-setup: the JVM and Python workers are up
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert out.strip() == ""
    assert _tagged(tag) == []


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc, left = _run(str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert left == []
