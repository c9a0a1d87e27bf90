"""Seeded input generators for the benchmark workloads.

Every fixture is a pure function of the run's seed, so the same seed
gives the same bytes of input, and every expected answer is computed
from the generator's own arithmetic, never by reading the fixture back
through the code under test.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- Hadoop-written SequenceFiles -------------------------------------------

_GOLDEN = 0x9E3779B97F4A7C15  # Fibonacci hashing multiplier
HADOOP_CONF = {
    "mapreduce.output.fileoutputformat.compress": "true",
    "mapreduce.output.fileoutputformat.compress.type": "BLOCK",
    "mapreduce.output.fileoutputformat.compress.codec": (
        "org.apache.hadoop.io.compress.SnappyCodec"
    ),
}
PAIR_MOD = 1009  # key/value pairing checksum modulus


def hadoop_values(seed: int, lo: int, hi: int) -> np.ndarray:
    """IntWritable values of records ``lo..hi-1``: a 31-bit multiplicative
    hash of ``index + seed`` (the same formula ``_records`` evaluates in
    Python ints inside the Spark workers)."""
    i = np.arange(lo, hi, dtype=np.uint64) + np.uint64(seed)
    return (i * np.uint64(_GOLDEN)) >> np.uint64(33)


def hadoop_expected(seed: int, lo: int, hi: int) -> dict[str, int]:
    """Aggregates a full scan of records ``lo..hi-1`` must return.  Keys
    are ``F%07X`` of the record index, so ``key_sum`` is the index sum
    and ``pair_sum`` ties each value to its own key."""
    v = hadoop_values(seed, lo, hi).astype(np.int64)
    idx = np.arange(lo, hi, dtype=np.int64)
    return {
        "count": hi - lo,
        "value_sum": int(v.sum()),
        "key_sum": int(idx.sum()),
        "pair_sum": int((v * (idx % PAIR_MOD)).sum()),
    }


def _records(seed: int, per_file: int):
    """Partition function for the Spark writer job: partition ``k``
    yields records ``k*per_file .. (k+1)*per_file-1`` and becomes
    ``part-r-0000k``.  Nested so cloudpickle ships it by value."""

    def gen(k, _rows):
        mask = (1 << 64) - 1
        for i in range(k * per_file, (k + 1) * per_file):
            yield ("F%07X" % i, (((i + seed) * _GOLDEN) & mask) >> 33)

    return gen


def write_hadoop_seqfiles(sc, out_dir: str, seed: int, n_files: int, per_file: int) -> list[str]:
    """Write Text -> IntWritable SequenceFiles, BLOCK-compressed with
    Hadoop's SnappyCodec, through Hadoop's own JVM writer
    (``SequenceFileOutputFormat``).  Returns the part files in record
    order."""
    rdd = sc.parallelize(range(n_files), n_files).mapPartitionsWithIndex(
        _records(seed, per_file)
    )
    rdd.saveAsNewAPIHadoopFile(
        out_dir,
        "org.apache.hadoop.mapreduce.lib.output.SequenceFileOutputFormat",
        keyClass="org.apache.hadoop.io.Text",
        valueClass="org.apache.hadoop.io.IntWritable",
        conf=HADOOP_CONF,
    )
    parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
    if len(parts) != n_files:
        raise RuntimeError(f"expected {n_files} part files, found {parts}")
    return [os.path.join(out_dir, f) for f in parts]


# --- the query mix's tables --------------------------------------------------
#
# A seeded re-creation of the repository's sf0.1 test data, table by table,
# from its measured distributions: the same schemas, and at sf 0.1 the same
# row counts.  Keys are sequential and foreign keys uniform over the parent;
# every other column is drawn independently, uniform over the observed range
# unless a maker says otherwise.

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS, _LANG_P = ["de", "en", "es", "fr", "zh"], [0.14, 0.41, 0.15, 0.15, 0.15]
_WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the a"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _money(r, lo: float, hi: float, n: int) -> np.ndarray:
    return r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(r, lo: int, hi: int, n: int) -> pa.Array:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    return pa.array(_EPOCH_1995 + r.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _pick(r, values: list[str], n: int, p=None) -> np.ndarray:
    return np.array(values)[r.choice(len(values), n, p=p)]


def tables(seed: int, sf: float, only: tuple[str, ...] | None = None) -> dict[str, pa.Table]:
    """The tables the query mix reads; ``sf`` scales row counts like the
    test data (lineitem 6 M x sf).  Each table draws from its own random
    stream, so ``only`` selects tables without changing their contents."""
    n = {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": int(50_000 * sf),
    }
    makers = {
        "region": _region,
        "nation": _nation,
        "customer": _customer,
        "supplier": _supplier,
        "orders": _orders,
        "lineitem": _lineitem,
        "events": _events,
        "documents": _documents,
    }
    return {
        name: make(np.random.default_rng([seed, k]), n)
        for k, (name, make) in enumerate(makers.items())
        if only is None or name in only
    }


def _region(_r, _n) -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )


def _nation(_r, _n) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )


def _customer(r, n) -> pa.Table:
    k = n["customer"]
    return pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": r.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": _pick(r, _SEGMENTS, k),
        }
    )


def _supplier(r, n) -> pa.Table:
    k = n["supplier"]
    return pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": r.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )


def _orders(r, n) -> pa.Table:
    k = n["orders"]
    return pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], k),
            "o_orderstatus": _pick(r, ["F", "O", "P"], k),
            "o_totalprice": _money(r, 1000.0, 500000.0, k),
            "o_orderdate": _days(r, 0, 2404, k),
            "o_orderpriority": _pick(r, _PRIORITIES, k),
        }
    )


def _lineitem(r, n) -> pa.Table:
    """As in the test data, a line's order key is uniform over the orders
    (so lines per order are about Poisson(4)) and its line number, price
    and ship date do not depend on the order or on each other."""
    k = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], k),
            "l_partkey": r.integers(0, n["part"], k),
            "l_suppkey": r.integers(0, n["supplier"], k),
            "l_linenumber": r.integers(1, 8, k).astype(np.int32),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, k),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], k),
            "l_linestatus": _pick(r, ["F", "O"], k),
            "l_shipdate": _days(r, 1, 2499, k),
        }
    )


def _events(r, n) -> pa.Table:
    """Thirty days of events in time order; values are exponential with
    mean 50, in cents."""
    k = n["events"]
    us = np.sort(r.integers(0, 30 * _DAY_US, k))
    return pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + us, pa.timestamp("us")),
            "user_id": r.integers(0, n["users"], k),
            "event_type": _pick(r, _EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, k), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
        }
    )


def _documents(r, n) -> pa.Table:
    """10-100 words drawn uniformly from one 30-word vocabulary, for
    every language.  As in the test data, 5 % of the documents are
    another document's text plus " dup" (near-duplicates for MinHash-LSH)
    and 0.16 % are exact copies of another document."""
    k = n["documents"]
    lens = r.integers(10, 101, k)
    words = np.array(_WORDS)[r.integers(0, len(_WORDS), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    kind, other = r.random(k), r.integers(0, k, k)
    for d in np.flatnonzero(kind < 0.05):
        texts[d] = texts[other[d]] + " dup"
    for d in np.flatnonzero((kind >= 0.05) & (kind < 0.0516)):
        texts[d] = texts[other[d]]
    return pa.table(
        {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": _pick(r, _LANGS, k, _LANG_P),
            "source": [f"src{d % 20}" for d in range(k)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, tabs: dict[str, pa.Table]) -> None:
    """One parquet file per table, ``<name>.parquet`` as the query
    builders expect."""
    os.makedirs(out_dir)
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def lineitem_lines(li: pa.Table) -> pa.Table:
    """(key int64, value string) rows: one pipe-joined text line per
    lineitem row, keyed by its distinct row number."""
    cols = [pc.cast(li[c], pa.string()) for c in li.column_names]
    return pa.table(
        {
            "key": np.arange(li.num_rows, dtype=np.int64),
            "value": pc.binary_join_element_wise(*cols, "|"),
        }
    )


def lines_expected(lines: pa.Table) -> dict[str, int]:
    """The aggregates a read-back of ``lines`` must return (Spark's
    ``crc32`` is zlib's CRC-32 of the UTF-8 bytes)."""
    return {
        "count": lines.num_rows,
        "key_sum": pc.sum(lines["key"]).as_py(),
        "value_bytes": pc.sum(pc.binary_length(lines["value"])).as_py(),
        "value_crc_sum": sum(zlib.crc32(v.encode()) for v in lines["value"].to_pylist()),
    }


def write_parts(out_dir: str, table: pa.Table, parts: int) -> None:
    """``table`` as ``parts`` parquet files of consecutive rows."""
    os.makedirs(out_dir)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:02d}.parquet"))
