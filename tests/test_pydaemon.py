"""The package's Python worker daemon (``hadoop_formats_spark.pydaemon``):
``importlib.invalidate_caches()`` re-reads a zip archive on ``sys.path``
only when the archive changed, and sessions from ``get_spark`` run their
Python workers under that daemon.

The guard is exercised in a subprocess, so the patch never reaches the
interpreter running pytest."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, "tests", "data", "jvm")

# Counts zipimport._read_directory calls across repeated
# invalidate_caches() on an archive holding a package and a sub-package
# (two importers: the archive's and the package's), rewrites the
# archive with a new module, invalidates again and imports it.
_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport

archive, patch = sys.argv[1], sys.argv[2] == "1"


def build(extra):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        for name in extra:
            z.writestr(name, "X = 1\n")


build([])
sys.path.insert(0, archive)
import zpkg.sub  # noqa: E402,F401

if patch:
    from hadoop_formats_spark import pydaemon

    pydaemon.install()

reads = []
_orig = zipimport._read_directory


def counting(path):
    reads.append(path)
    return _orig(path)


zipimport._read_directory = counting
for _ in range(5):
    importlib.invalidate_caches()
unchanged = len(reads)

build(["newmod.py"])
importlib.invalidate_caches()
import newmod  # noqa: E402

print(json.dumps({"unchanged": unchanged, "after_rewrite": len(reads) - unchanged,
                  "newmod": newmod.X}))
"""


def _run(tmp_path, patch: bool) -> dict:
    import json

    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "z.zip"), "1" if patch else "0"],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_read_once(tmp_path):
    # stock zipimport re-reads the archive in every importer on every
    # call; the guard reads it once, then trusts (mtime, size)
    assert _run(tmp_path, patch=False)["unchanged"] == 2 * 5
    assert _run(tmp_path, patch=True)["unchanged"] == 1


def test_rewritten_archive_is_reread(tmp_path):
    got = _run(tmp_path, patch=True)
    assert got["after_rewrite"] >= 1
    assert got["newmod"] == 1


def test_session_workers_run_the_package_daemon(spark):
    import pyarrow as pa

    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "hadoop_formats_spark.pydaemon"
    )

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(1, numPartitions=1).mapInArrow(probe, "m string").collect()
    assert [r.m for r in got] == ["hadoop_formats_spark.pydaemon"]


def test_hadoop_seq_read_under_the_daemon_matches_jvm(spark):
    path = os.path.join(DATA, "rec_snappy.seq")
    got = sorted(
        (r.key, r.value)
        for r in spark.read.format("hadoop_seq").load(path).collect()
    )
    assert got == sorted(spark.sparkContext.sequenceFile(path).collect())
    assert len(got) == 2000
