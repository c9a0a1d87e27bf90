import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Every cached fixture is built from scratch in each session: a private
# cache root, set before the package is imported (cachedir reads it
# once) and removed when the session ends.  A shared warm cache would
# let a broken build path pass on a machine that built it earlier.
_CACHE_DIR = tempfile.mkdtemp(prefix="hfs_cache_tests_")
os.environ["HFS_CACHE_DIR"] = _CACHE_DIR


def pytest_sessionfinish(session, exitstatus):
    shutil.rmtree(_CACHE_DIR, ignore_errors=True)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hadoop_formats_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    """Register all testdata tables as temp views; returns the dir."""
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)
    return sf_dir


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con
