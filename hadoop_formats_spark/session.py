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

# both on the workers' PYTHONPATH only: the checkout the package is imported
# from, and the directory whose sitecustomize installs pydaemon's guard
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")


def get_spark(
    app_name: str = "hadoop_formats_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_ready(spark)
    return spark


def ensure_ready(spark: SparkSession) -> None:
    """Make ``spark`` ready for this package, whoever built it (``get_spark``
    or a bare driver session); the one place the package reaches Spark's
    Python workers.

    First, put ``WORKER_SITE`` then ``REPO_ROOT`` at the head of the
    workers' ``PYTHONPATH`` (``sc.environment``, never the driver's
    ``os.environ``): every planner and UDF wrapped from then on carries
    it, so their Python processes start with ``pydaemon``'s zip guard
    and import the package from this checkout.  Then register the
    Python datasources (``hadoop_seq`` and ``hadoop_map``) and turn on
    the filter pushdown their readers implement (Spark rejects
    ``pushFilters`` without it).  Idempotent: a repeat call rewrites the
    same path, and registering a name again replaces it.  A
    registration error raises here, not later as DATA_SOURCE_NOT_FOUND."""
    from .seqfile.datasource import SeqFileDataSource
    from .seqfile.map_datasource import MapFileDataSource

    env = spark.sparkContext.environment
    head = (WORKER_SITE, REPO_ROOT)
    tail = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and p not in head]
    env["PYTHONPATH"] = os.pathsep.join([*head, *tail])
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    for source in (SeqFileDataSource, MapFileDataSource):
        spark.dataSource.register(source)
