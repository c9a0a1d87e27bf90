"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 pricing summary) at
sf0.001.  ``queries()`` / ``oracle_sql()`` expose the full registry
from ``hadoop_formats_spark.queries`` — every declared capability from
SURVEY.md §2.2/§2.3 paired with its DuckDB oracle SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _ship_package(spark: SparkSession) -> None:
    """Make ``hadoop_formats_spark`` importable in Python WORKERS even
    when the session was created before this module was on any path
    (the driver may build its SparkSession first): zip the package and
    ``addPyFile`` it — sc adds it to every worker's sys.path."""
    import zipfile

    from hadoop_formats_spark.cachedir import cache_path

    zip_path = cache_path("hadoop_formats_spark_pkg.zip")
    pkg_dir = os.path.join(_REPO, "hadoop_formats_spark")
    newest = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        tmp = f"{zip_path}.{os.getpid()}.tmp"  # unique per process: no race
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, _REPO))
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context


_READY_ATTR = "_hfs_datasources_ready"


def _ensure_ready(spark: SparkSession) -> None:
    """Ready a driver-created (bare) session, idempotently: ship the
    package to its Python workers, pickle the package by value, then
    ``session.ensure_ready`` (datasources + filter pushdown).

    Readiness is a marker attribute on the session OBJECT (not an
    ``id(spark)`` set): CPython recycles addresses, so a new session
    allocated at a dead session's address must not inherit readiness
    and silently skip datasource registration (ADVICE r5 #1)."""
    if getattr(spark, _READY_ATTR, False):
        return
    _ship_package(spark)
    # the streaming-source planner is a separate Python process that
    # does NOT see addPyFile paths; registering the package for
    # by-value pickling makes every pickled reader self-contained
    from pyspark import cloudpickle

    import hadoop_formats_spark
    from hadoop_formats_spark.session import ensure_ready

    cloudpickle.register_pickle_by_value(hadoop_formats_spark)
    ensure_ready(spark)
    try:
        setattr(spark, _READY_ATTR, True)
    except Exception:
        pass  # a session proxy that rejects attrs just re-runs the idempotent setup


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_ready(spark)
    from hadoop_formats_spark.queries import QUERIES

    return QUERIES["q1_pricing_summary"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from hadoop_formats_spark.queries import query_map

    base = query_map()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_ready(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted entries → rows-only check."""
    from hadoop_formats_spark.queries import oracle_sql_map

    return oracle_sql_map()
