"""The package's zip guard (``hadoop_formats_spark.pydaemon``):
``importlib.invalidate_caches()`` re-reads a zip archive on ``sys.path``
only when the archive changed, and the worker-site hook
(``hadoop_formats_spark/_worker_site``) installs it in every Python
process a ready session launches: task workers and datasource planners.

The guard is exercised in subprocesses and Spark workers, so the patch
never reaches the interpreter running pytest."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport

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


def test_worker_site_chains_to_the_next_sitecustomize(tmp_path):
    # the package root is off the path, as on a bare session's workers,
    # and a sitecustomize further down the path still runs
    from hadoop_formats_spark.session import WORKER_SITE

    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("import builtins\nbuiltins.HFS_NEXT_SITE = 1\n")
    out = subprocess.run(
        [sys.executable, "-c", "import builtins, json, sys, zipimport; print(json.dumps("
         "[zipimport.zipimporter.invalidate_caches.__module__,"
         " getattr(builtins, 'HFS_NEXT_SITE', 0), 'hadoop_formats_spark' in sys.modules]))"],
        env=dict(os.environ, PYTHONPATH=os.pathsep.join([WORKER_SITE, str(other)])),
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    assert json.loads(out.stdout) == ["hadoop_formats_spark.pydaemon", 1, False]


def test_session_workers_run_the_package_daemon(spark):
    import pyarrow as pa

    from hadoop_formats_spark.session import WORKER_SITE

    worker_path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert worker_path[0] == WORKER_SITE

    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(1, numPartitions=1).mapInArrow(probe, "m string").collect()
    assert [r.m for r in got] == ["hadoop_formats_spark.pydaemon"]


def test_datasource_planners_and_tasks_run_the_guard(spark):
    # schema() runs in the create_data_source planner, partitions() in
    # plan_data_source_read, read() in the task; each reports the
    # module its zipimport guard comes from
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
    from pyspark.sql.types import StringType, StructField, StructType

    from hadoop_formats_spark.session import WORKER_SITE

    def site():
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "hfs_guard_probe"

        def schema(self):
            return StructType([StructField("schema", StringType(), metadata={"site": site()}),
                               StructField("plan", StringType()),
                               StructField("task", StringType())])

        def reader(self, schema):
            return ProbeReader()

    class ProbeReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(site())]

        def read(self, partition):
            yield (None, partition.value, site())

    spark.dataSource.register(Probe)
    df = spark.read.format("hfs_guard_probe").load()
    [row] = df.collect()
    assert [df.schema["schema"].metadata["site"], row.plan, row.task] == [
        "hadoop_formats_spark.pydaemon"
    ] * 3
    # the driver interpreter stays unpatched, and its own path lacks the site
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert WORKER_SITE not in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_hadoop_seq_read_under_the_daemon_matches_jvm(spark):
    path = os.path.join(DATA, "rec_snappy.seq")
    got = sorted(
        (r.key, r.value)
        for r in spark.read.format("hadoop_seq").load(path).collect()
    )
    assert got == sorted(spark.sparkContext.sequenceFile(path).collect())
    assert len(got) == 2000
