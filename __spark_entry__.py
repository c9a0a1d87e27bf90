"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 pricing summary) at
sf0.001.  ``queries()`` / ``oracle_sql()`` expose the full registry
from ``hadoop_formats_spark.queries`` — every declared capability from
SURVEY.md §2.2/§2.3 paired with its DuckDB oracle SQL.

The caller may build its SparkSession before this module is on any
path.  So this module puts the checkout on the driver's ``sys.path``,
and ``entry`` and every query call ``session.ensure_ready`` first: that
puts the same checkout on the session's worker ``PYTHONPATH`` and
registers the datasources.  A repeat call is cheap and changes nothing.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from hadoop_formats_spark.queries import QUERIES
    from hadoop_formats_spark.session import ensure_ready

    ensure_ready(spark)
    return QUERIES["q1_pricing_summary"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from hadoop_formats_spark.queries import query_map
    from hadoop_formats_spark.session import ensure_ready

    base = query_map()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_ready(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query; omitted entries → rows-only check."""
    from hadoop_formats_spark.queries import oracle_sql_map

    return oracle_sql_map()
