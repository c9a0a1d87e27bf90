"""Benchmark harness (driver contract): time the registry's bench rows at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The rows are the queries registered with ``tier="headline"`` (summed
into ``value``) and ``tier="extra"`` (written with every sample to
``BENCH_extras_local.json``), then the seqfile format-layer sections:
full scan, scaled scan, the same scaled file through Spark's JVM
reader, and the Sorter build and read-back.

``python bench.py NAME ...`` times only the named registered queries
and prints their rows, samples included, on the JSON line.

Each row is timed end-to-end (plan + execute + count, or collect for
the flagship query) and reports its best of n runs; warm-up work runs first so JVM, codegen and Python
worker start-up is not attributed to the first timed row.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _scaled_seq_file(n: int = 10_000_000) -> str:
    """Build (once, cached) the ~100× scaled Text→Int fixture analog:
    ``n`` records shaped like the reference's text-int.seq
    (``MakeSequenceFiles.java:15-27`` keys F%07X → int), written by our
    vectorized writer in BLOCK+Snappy, read back via auto-split."""
    from hadoop_formats_spark.cachedir import materialize

    def build(tmp):
        import numpy as np
        import pyarrow as pa

        from hadoop_formats_spark.seqfile import core

        with core.SeqFileWriter(
            tmp, "org.apache.hadoop.io.Text", "org.apache.hadoop.io.IntWritable"
        ) as w:
            chunk = 1_000_000
            for lo in range(0, n, chunk):
                ints = np.arange(lo, min(lo + chunk, n), dtype=np.int32)
                keys = pa.array([f"F{i:07X}" for i in ints.tolist()], pa.string())
                w.write_batch(keys, pa.array(ints, pa.int32()))

    # v3: spec-sized 65536-record blocks (byte-range splits need the
    # sync markers) and Hadoop-sized snappy chunks (the JVM reads it too)
    return materialize(("seq_cache", "scaled", "text_int_10m_v3.seq"), build)


def timed(fn, n: int) -> tuple[float, list[float], object]:
    """Run ``fn`` ``n`` times: (best seconds, every sample, last result)."""
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        out = fn()
        samples.append(round(time.perf_counter() - t0, 3))
    return min(samples), samples, out


def _warm_up(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed."""
    from hadoop_formats_spark import REFERENCE_FIXTURES

    # JVM + Arrow + the Python datasource path (the first hadoop_seq
    # read pays ~3 s of one-time setup)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.read.format("hadoop_seq").load(
        os.path.join(REFERENCE_FIXTURES, "text-int.seq")
    ).count()

    # the full Arrow Python-worker pool: 32 workers each importing
    # numpy+pandas on first use is a ~20 s import storm if it lands
    # inside a timed query
    def _noop(it):
        import numpy  # noqa: F401 — force the heavy imports in-worker
        import pandas  # noqa: F401

        yield from it

    spark.range(0, 3200, 1, 32).mapInPandas(_noop, "id long").count()

    # the write path: a session's first hadoop_seq/hadoop_map write pays
    # ~2 s of JVM write-planning and commit-protocol spin-up (measured:
    # the Sorter's 8-shard write ran 3.1 s as the first write, 0.8 s
    # after), so one tiny untimed write per format warms it
    tmp = tempfile.mkdtemp(prefix="bench_write_warm_")
    df = spark.range(0, 1000, 1, 2).selectExpr("id AS key", "CAST(id AS DOUBLE) AS value")
    df.write.format("hadoop_seq").mode("overwrite").save(os.path.join(tmp, "warm_seq"))
    df.sortWithinPartitions("key").write.format("hadoop_map").option(
        "assume_sorted", "true"
    ).mode("append").save(os.path.join(tmp, "warm_map"))
    shutil.rmtree(tmp, ignore_errors=True)


def _seqfile_sections(spark, sf_dir: str) -> tuple[dict, dict]:
    """Format-layer rows: (summary fields, every sample per row)."""
    from pyspark.sql import functions as F

    from hadoop_formats_spark.cachedir import cache_path, sf_key
    from hadoop_formats_spark.queries.registry import table
    from hadoop_formats_spark.queries.seqfile_q import (
        _roundtrip_dir,
        seqfile_sorter_merge_runs,
    )

    def scan(path):
        return lambda: spark.read.format("hadoop_seq").load(path).count()

    # decode throughput (BASELINE.md protocol §1): the seqfile copy of
    # lineitem that the round-trip query writes
    seq_dir = _roundtrip_dir(
        spark,
        sf_dir,
        "lineitem_rf",
        lambda: table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("key"), F.col("l_returnflag").alias("value")
        ),
    )
    full_s, full_samples, n_rows = timed(scan(seq_dir), 2)

    # one 10 M-record Text→Int file read multi-split; one untimed read
    # first spins up the rest of the worker pool for its 64 splits
    scaled_path = _scaled_seq_file()
    scan(scaled_path)()
    scaled_s, scaled_samples, n_scaled = timed(scan(scaled_path), 2)

    # the same file through Spark's Hadoop InputFormat reader, decoded
    # JVM-side; _jrdd.count() forces every record's Writable decode and
    # pickle without shipping a row to Python.  minSplits matches the
    # session's parallelism (the PySpark default is at most 2 tasks).
    jvm_rdd = spark.sparkContext.sequenceFile(
        scaled_path, minSplits=spark.sparkContext.defaultParallelism
    )
    jvm_rdd._jrdd.count()  # warm: input-format + codec init
    jvm_s, jvm_samples, _ = timed(jvm_rdd._jrdd.count, 2)

    # SequenceFile.Sorter parity: the cold build (evicted caches: 8
    # unsorted shard writes + range sort + validated MapFile-run write +
    # read-back) runs once by construction, then the warm read-back
    for d in ("orders_sorter_merge", "orders_unsorted_shards"):
        shutil.rmtree(cache_path("seq_cache", sf_key(sf_dir), d), ignore_errors=True)

    def sorter():
        return seqfile_sorter_merge_runs(spark, sf_dir).count()

    build_s, build_samples, _ = timed(sorter, 1)
    read_s, read_samples, _ = timed(sorter, 2)
    print(f"# seqfile_sorter_merge: build {build_s:.2f}s, read {read_s:.2f}s", file=sys.stderr)

    fields = {
        "seqfile_full_scan": full_s,
        "seqfile_decode_recs_per_sec": round(n_rows / full_s),
        "seqfile_scaled_scan": {
            "records": n_scaled,
            "sec": scaled_s,
            "recs_per_sec": round(n_scaled / scaled_s),
        },
        "seqfile_scaled_scan_jvm": {
            "sec": jvm_s,
            "recs_per_sec": round(n_scaled / jvm_s),
            "speedup_vs_python_ds": round(scaled_s / jvm_s, 2),
        },
        "seqfile_sorter_merge": {"build_sec": build_s, "read_sec": read_s},
    }
    samples = {
        "seqfile_full_scan": full_samples,
        "seqfile_scaled_scan": scaled_samples,
        "seqfile_scaled_scan_jvm": jvm_samples,
        "seqfile_sorter_build": build_samples,
        "seqfile_sorter_read": read_samples,
    }
    return fields, samples


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from hadoop_formats_spark.queries import QUERIES
    from hadoop_formats_spark.queries.parity import q1_pricing_summary as flagship

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown query name(s): {' '.join(unknown)}")
    rows = [QUERIES[n] for n in names] or [
        s for tier in ("headline", "extra") for s in QUERIES.values() if s.tier == tier
    ]

    from hadoop_formats_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    def run(spec):
        df = spec.builder(spark, sf_dir)
        # the flagship (the driver's entry query) is timed through
        # collect(), every other row through count()
        return len(df.collect()) if spec.builder is flagship else df.count()

    for spec in rows:
        # extras run best-of-3: the iterative operators among them need
        # 2-3 executions before the JIT has compiled their generated code
        headline = spec.tier == "headline"
        best, samples[spec.name], n = timed(partial(run, spec), 2 if headline else 3)
        (timings if headline else extra)[spec.name] = best
        print(f"# {spec.tier or 'row'} {spec.name}: {best:.2f}s ({n} rows)", file=sys.stderr)

    fields: dict = {}
    if not names:
        fields, scan_samples = _seqfile_sections(spark, sf_dir)
        # the full scan is a headline row; the other sections stay out
        # of the headline total
        timings["seqfile_full_scan"] = fields.pop("seqfile_full_scan")
        samples.update(scan_samples)
    summary = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        **fields,
    }
    if names:
        print(json.dumps(dict(summary, extra_queries=extra, samples=samples)), flush=True)
        return
    summary["extras_file"] = "BENCH_extras_local.json"
    with open(os.path.join(REPO, summary["extras_file"]), "w") as fh:
        json.dump(dict(summary, extra_queries=extra, samples=samples), fh, indent=1)
    print(f"# extra_queries total: {round(sum(extra.values()), 3)}s", file=sys.stderr)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
