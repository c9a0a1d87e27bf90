"""hadoop_formats_spark — a PySpark-native analytics engine with the
capabilities of jacobstanley/hadoop-formats (SequenceFile BLOCK+Snappy
format layer) plus a Spark-first relational / dedup / similarity /
text-analysis / streaming query surface.  See SURVEY.md."""

import os

__version__ = "0.1.0"

# Hadoop-written fixtures, committed with the tests
# (``tools/make_jvm_fixtures.py``): the reference's ``text-int.seq`` and
# ``long-double.seq`` recipes plus one file per layout/codec
REFERENCE_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "data", "jvm"
)
