"""SparkSession factory tuned for this engine.

Local defaults match the test/bench environment (``local[N]`` on one
big box) but every knob is the one you'd set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow enabled for the Python boundary, shuffle
partitions sized to cores (at 100 TB you'd raise
``spark.sql.shuffle.partitions`` and let AQE coalesce).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "hadoop_formats_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make this package importable in Python workers (executors)
    pypath = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            REPO_ROOT + (os.pathsep + pypath if pypath else "")
        )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.python.daemon.module", "hadoop_formats_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_ready(spark)
    return spark


def ensure_ready(spark: SparkSession) -> None:
    """Register this package's Python datasources (``hadoop_seq`` and
    ``hadoop_map``) on ``spark`` and turn on the filter pushdown their
    readers implement (Spark rejects ``pushFilters`` without it).
    Idempotent: registering a name again replaces it.  A registration
    error raises here, not later as DATA_SOURCE_NOT_FOUND."""
    from .seqfile.datasource import SeqFileDataSource
    from .seqfile.map_datasource import MapFileDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    for source in (SeqFileDataSource, MapFileDataSource):
        spark.dataSource.register(source)
