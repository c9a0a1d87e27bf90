"""The benchmark's workloads.

Each workload owns its fixtures (generated in ``setup`` from the seed),
one repeatable ``op`` that materializes every output column and checks
it, and the in-process rungs of the traced run.  README.md says why
each workload exists and which layers it should move.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

import fixtures
from tracing import Tracer, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    """Progress line for the worker log, timed from process start."""
    print(f"[perfbench {time.time() - float(os.environ['PERFBENCH_T0']):7.2f}s] {msg}", flush=True)


CORES = 3  # local[3]: leaves one of four cores to the driver JVM and harness
LONG = "org.apache.hadoop.io.LongWritable"
TEXT = "org.apache.hadoop.io.Text"


def _files(d: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if not f.startswith(("_", "."))
    )


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(p) for p in _files(d))


class Workload:
    def __init__(self, spark, seed: int, workdir: str, tracer: Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.groups: list[str] = []  # Spark job groups of the current op
        self.traced = False
        self.e2e: dict[str, float] = {}

    def tag(self, half: str) -> None:
        """Run the next jobs under a job group, when the op is traced, so
        their stages can be read back from the status store."""
        if self.traced:
            group = f"op{self.tracer.op}-{half}"
            self.groups.append(group)
            self.sc.setJobGroup(group, "perfbench")

    def run_op(self, traced: bool) -> dict:
        self.traced, self.groups = traced, []
        try:
            return self.op()
        finally:
            if traced:
                self.sc._jsc.clearJobGroup()

    # --- datasource rungs shared by the seqfile workloads --------------------

    def datasource_rungs(self, path: str, split_size: int) -> dict:
        """Driver-side split planning and one split read in-process (no
        Spark tasks), with the split size the op passes.
        ``datasource.auto_splits`` is the split count the datasource's
        own sizing would pick for the same files."""
        from hadoop_formats_spark.seqfile.datasource import SeqFileDataSource

        auto = SeqFileDataSource({"path": path})
        auto_splits = len(auto.reader(auto.schema()).partitions())
        src = SeqFileDataSource({"path": path, "split_size": str(split_size)})
        reader = src.reader(src.schema())
        with self.tracer.span("datasource.partitions"):
            splits = reader.partitions()
        rows = 0
        with self.tracer.span("datasource.split_read"):
            for batch in reader.read(splits[0]):
                rows += batch.num_rows
        sizes = [sum(e - s for _, s, e in sp.ranges) for sp in splits]
        return {
            "datasource.partitions_s": self.tracer.total_s("datasource.partitions"),
            "datasource.splits": len(splits),
            "datasource.auto_splits": auto_splits,
            "datasource.split_mb_max": max(sizes) / 1e6,
            "datasource.split_read_s": self.tracer.total_s("datasource.split_read"),
        }

    def decode_rung(self, path: str) -> dict:
        """``core.iter_blocks`` over one file on one core, with
        ``snappy.decompress`` wrapped to time and count its calls."""
        from hadoop_formats_spark.seqfile import core, snappy

        blocks = records = 0
        with self.tracer.wrapped(snappy, "decompress", "snappy.decompress"):
            with self.tracer.span("core.iter_blocks"):
                for b in core.iter_blocks(path):
                    blocks += 1
                    records += b.count
        calls = self.tracer.named("snappy.decompress")
        return {
            "core.iter_blocks_s": self.tracer.total_s("core.iter_blocks"),
            "core.blocks": blocks,
            "core.records": records,
            "core.decode_self_s": self.tracer.self_s("core.iter_blocks"),
            "snappy.decompress_s": self.tracer.total_s("snappy.decompress"),
            "snappy.decompress_calls": len(calls),
            "snappy.decompress_in_mb": sum(c["in_bytes"] for c in calls) / 1e6,
            "snappy.decompress_out_mb": sum(c["out_bytes"] for c in calls) / 1e6,
        }


class HadoopSnappyScan(Workload):
    """Full ``hadoop_seq`` scan of SequenceFiles written by Hadoop's own
    JVM writer, BLOCK-compressed with SnappyCodec."""

    # three ~5.4 MB files, each read as four ranges: 12 tasks in four
    # waves on three slots, so one slow task delays a quarter of a wave
    # rather than the whole scan
    N_FILES = 3
    PER_FILE = 600_000
    SPLITS_PER_FILE = 4
    CHECK_RECORDS = 100_000

    def writable_classes(self):
        forname = self.sc._jvm.java.lang.Class.forName
        return forname(TEXT), forname("org.apache.hadoop.io.IntWritable")

    def setup(self) -> None:
        # a small untimed write first starts the Python workers and loads
        # Hadoop's writer classes, so write_s times a warm writer
        fixtures.write_hadoop_seqfiles(
            self.sc, os.path.join(self.workdir, "warm_up"), self.seed, 1, 50_000
        )
        # write_s: the median of three writes of the input; the first is
        # the one the ops read
        times = []
        for i in range(3):
            out = os.path.join(self.workdir, f"hadoop_seq{i}")
            t = time.perf_counter()
            files = fixtures.write_hadoop_seqfiles(
                self.sc, out, self.seed, self.N_FILES, self.PER_FILE
            )
            times.append(time.perf_counter() - t)
            if i == 0:
                self.dir, self.files = out, files
            else:
                shutil.rmtree(out)
        self.e2e["write_s"] = median(times)
        log("hadoop files written")
        n = self.N_FILES * self.PER_FILE
        self.expected = fixtures.hadoop_expected(self.seed, 0, n)
        # Hadoop's own reader agrees with the generator: record count of
        # every file, and the first records of the first file one by one
        jvm_count = self.sc._jsc.sequenceFile(self.dir, *self.writable_classes()).count()
        head = self.sc.sequenceFile(self.files[0]).take(self.CHECK_RECORDS)
        want = list(
            zip(
                ("F%07X" % i for i in range(self.CHECK_RECORDS)),
                fixtures.hadoop_values(self.seed, 0, self.CHECK_RECORDS).tolist(),
            )
        )
        if jvm_count != n or head != want:
            raise RuntimeError("Hadoop's reader disagrees with the generator")
        self.e2e["stored_bytes_per_user_byte"] = _dir_bytes(self.dir) / (n * (8 + 4))
        self.split_size = min(os.path.getsize(f) for f in self.files) // self.SPLITS_PER_FILE
        log("JVM reader cross-check done")
        if not self.op()["ok"]:  # warm-up
            raise RuntimeError("warm-up scan returned wrong aggregates")

    def op(self) -> dict:
        key_i = F.conv(F.substring("key", 2, 7), 16, 10).cast("long")
        self.tag("read")
        t = time.perf_counter()
        row = (
            self.spark.read.format("hadoop_seq")
            .option("split_size", self.split_size)
            .load(self.dir)
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.sum("value").alias("value_sum"),
                F.sum(key_i).alias("key_sum"),
                F.sum(F.col("value") * (key_i % fixtures.PAIR_MOD)).alias("pair_sum"),
            )
            .collect()[0]
        )
        dt = time.perf_counter() - t
        return {"op_s": dt, "readback_s": dt, "ok": row.asDict() == self.expected}

    def layers(self) -> dict:
        out = self.decode_rung(self.files[0])
        out.update(self.datasource_rungs(self.dir, self.split_size))
        with self.tracer.span("jvm.sequencefile_scan"):
            n = self.sc._jsc.sequenceFile(self.dir, *self.writable_classes()).count()
        if n != self.expected["count"]:
            raise RuntimeError(f"JVM reader counted {n} records")
        out["jvm.sequencefile_scan_s"] = self.tracer.total_s("jvm.sequencefile_scan")
        out.update(query_layers(self.spark, self.seed, self.workdir, self.tracer))
        return out


class SeqWriteRoundtrip(Workload):
    """Lineitem rows as LongWritable -> Text lines, written with
    ``df.write.format("hadoop_seq")`` (BLOCK+Snappy) and read back."""

    SF = 0.3  # 1.8 M lineitem rows
    SOURCE_FILES = 12  # Spark's file packing reads them as one partition per slot

    @staticmethod
    def aggs(df):
        return df.agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("key").alias("key_sum"),
            F.sum(F.octet_length("value")).alias("value_bytes"),
            F.sum(F.crc32("value")).alias("value_crc_sum"),
        )

    def setup(self) -> None:
        li = fixtures.tables(self.seed, self.SF, only=("lineitem",))["lineitem"]
        lines = fixtures.lineitem_lines(li)
        self.expected = fixtures.lines_expected(lines)
        self.user_bytes = 8 * self.expected["count"] + self.expected["value_bytes"]
        self.src_dir = os.path.join(self.workdir, "lines")
        fixtures.write_parts(self.src_dir, lines, self.SOURCE_FILES)
        self.src = self.spark.read.parquet(self.src_dir)
        log("source written")
        self.out = os.path.join(self.workdir, "roundtrip")
        if not self.op()["ok"]:  # warm-up
            raise RuntimeError("warm-up round trip returned wrong aggregates")

    def op(self) -> dict:
        self.tag("write")
        t0 = time.perf_counter()
        self.src.write.format("hadoop_seq").mode("overwrite").save(self.out)
        t1 = time.perf_counter()
        self.tag("read")
        # one split per written file: as many read tasks as write tasks
        self.read_split = max(os.path.getsize(f) for f in _files(self.out))
        reader = self.spark.read.format("hadoop_seq").option("split_size", self.read_split)
        row = self.aggs(reader.load(self.out)).collect()[0]
        t2 = time.perf_counter()
        self.e2e["stored_bytes_per_user_byte"] = _dir_bytes(self.out) / self.user_bytes
        return {
            "op_s": t2 - t0,
            "write_s": t1 - t0,
            "readback_s": t2 - t1,
            "ok": row.asDict() == self.expected,
        }

    def layers(self) -> dict:
        import pyarrow.parquet as pq

        from hadoop_formats_spark.seqfile import core, snappy

        table = pq.read_table(self.src_dir).slice(0, 200_000)
        path = os.path.join(self.workdir, "inproc.seq")
        with self.tracer.wrapped(snappy, "compress", "snappy.compress"):
            with self.tracer.span("core.write"):
                w = core.SeqFileWriter(path, LONG, TEXT)
                for b in table.to_batches(max_chunksize=65536):
                    w.write_batch(b.column(0), b.column(1))
                w.close()
        calls = self.tracer.named("snappy.compress")
        out = {
            "core.write_s": self.tracer.total_s("core.write"),
            "core.encode_self_s": self.tracer.self_s("core.write"),
            "snappy.compress_s": self.tracer.total_s("snappy.compress"),
            "snappy.compress_calls": len(calls),
            "snappy.compress_ratio": sum(c["out_bytes"] for c in calls)
            / max(1, sum(c["in_bytes"] for c in calls)),
        }
        out.update(self.decode_rung(path))
        out.update(self.datasource_rungs(self.out, self.read_split))
        out["datasource.files_written"] = len(_files(self.out))
        return out


def mix_names() -> list[str]:
    """The query list, kept once: every ``queries.<name>_s`` per-layer
    metric in BENCHMARK.json except ``queries.plan_s``, in file order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = []
    for m in spec["per_layer"]:
        n = m["name"]
        if n.startswith("queries.") and n.endswith("_s") and n != "queries.plan_s":
            names.append(n[len("queries."):-len("_s")])
    return names


QUERY_SF = 0.1  # the row counts of the repository's sf0.1 test data


def _oracle_results(sf_dir: str, names: list[str]) -> dict[str, tuple[int, str]]:
    """Row count and order-insensitive hash of each query's DuckDB
    oracle, normalized as in ``tools/check_correctness.py``."""
    import check_correctness as cc
    import duckdb

    from hadoop_formats_spark.queries import QUERIES

    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    out = {}
    for n in names:
        cols, rows = cc._pandas_rows(con.sql(QUERIES[n].oracle))
        out[n] = (len(rows), cc._hash_rows([c.lower() for c in cols], rows))
    con.close()
    return out


def query_layers(spark, seed: int, workdir: str, tracer: Tracer) -> dict:
    """The query layer, measured in the traced run: the BENCHMARK.json
    query list over seeded parquet tables at sf 0.1.  A first, untimed
    pass warms the JVM up while the DuckDB oracles run beside it.  In
    the second pass each query is planned without running
    (``queries.plan_s``, shuffle and broadcast counts of that plan), then
    its result is fetched to the driver and checked against its oracle;
    ``queries.<name>_s`` is planning plus fetching."""
    from concurrent.futures import ThreadPoolExecutor

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc

    from hadoop_formats_spark import plans
    from hadoop_formats_spark.queries import QUERIES

    names = mix_names()
    for n in names:
        if n not in QUERIES or not QUERIES[n].oracle:
            raise RuntimeError(f"{n!r} is not a registered query with an oracle")
    sf_dir = os.path.join(workdir, "sf")
    fixtures.write_tables(sf_dir, fixtures.tables(seed, QUERY_SF))
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(_oracle_results, sf_dir, names)
        for n in names:
            QUERIES[n].builder(spark, sf_dir).toPandas()
        expected = oracles.result()
    out = {"plans.shuffles": 0, "plans.broadcasts": 0}
    for n in names:
        t0 = time.perf_counter()
        with tracer.span("queries.plan", query=n):
            df = QUERIES[n].builder(spark, sf_dir)
            df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        out["plans.shuffles"] += plans.shuffle_count(df)
        out["plans.broadcasts"] += plans.broadcast_count(df)
        t2 = time.perf_counter()
        pdf = df.toPandas()
        out[f"queries.{n}_s"] = (t1 - t0) + (time.perf_counter() - t2)
        cols, rows = cc._frame_rows(pdf)
        if (len(rows), cc._hash_rows([c.lower() for c in cols], rows)) != expected[n]:
            raise RuntimeError(f"{n}: result differs from its DuckDB oracle")
    out["queries.plan_s"] = tracer.total_s("queries.plan")
    return out


WORKLOADS = {
    "hadoop_snappy_scan": HadoopSnappyScan,
    "seq_write_roundtrip": SeqWriteRoundtrip,
}
