"""Format-layer queries through the hadoop_seq DataSource, inside the
correctness gate.

Two golden queries pin the reference's own test programs
(``tests/Main.hs:19-33``) as constant-oracle checks on the committed
fixtures; the round-trip queries write testdata through our writer and
read it back, so the driver's DuckDB compare validates the whole
write→read path against the parquet original (FIXTURES.md §4)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from hadoop_formats_spark import REFERENCE_FIXTURES
from hadoop_formats_spark.cachedir import materialize, sf_key

from .registry import register, table

REFERENCE_TEXT_INT = os.path.join(REFERENCE_FIXTURES, "text-int.seq")


def _roundtrip_dir(
    spark, sf_dir: str, name: str, build, writer_options=None, fmt="hadoop_seq"
) -> str:
    """Cache the DataFrame ``build()`` written through the ``fmt``
    DataSource (``hadoop_seq`` or ``hadoop_map``).
    ``writer_options``: dict of DataSource writer options, or a
    zero-arg callable returning one — called only on an actual build,
    so options derived from Spark jobs (e.g. a count) cost nothing on
    cache hits."""

    def write(tmp):
        opts = writer_options() if callable(writer_options) else (writer_options or {})
        build().write.format(fmt).options(**opts).mode("append").save(tmp)

    return materialize(("seq_cache", sf_key(sf_dir), name), write)


@register(
    "seqfile_reference_record_count",
    oracle="SELECT CAST(100000 AS BIGINT) AS n",
    doc="The reference's recordCount test (tests/Main.hs:29-33) via "
    "spark.read.format('hadoop_seq'); golden invariant 100,000.",
)
def seqfile_reference_record_count(spark, sf_dir):
    df = spark.read.format("hadoop_seq").load(REFERENCE_TEXT_INT)
    return df.agg(F.count("*").alias("n"))


@register(
    "seqfile_reference_first_keys",
    oracle="""
    SELECT 'F' || lpad(CAST(i AS VARCHAR), 7, '0') AS key
    FROM generate_series(0, 9) AS t(i) ORDER BY key
    """,
    doc="The reference's printKeys test (tests/Main.hs:19-26): first 10 "
    "keys, column-pruned read.",
)
def seqfile_reference_first_keys(spark, sf_dir):
    return (
        spark.read.format("hadoop_seq")
        .option("columns", "key")
        .load(REFERENCE_TEXT_INT)
        .orderBy("key")
        .limit(10)
    )


@register(
    "seqfile_roundtrip_returnflag_counts",
    oracle="""
    SELECT l_returnflag AS value, count(*) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
    FROM lineitem GROUP BY l_returnflag ORDER BY value
    """,
    doc="lineitem (l_orderkey, l_returnflag) → our seqfile writer → our "
    "reader → aggregate; oracle reads the parquet original.",
)
def seqfile_roundtrip_returnflag_counts(spark, sf_dir):
    path = _roundtrip_dir(
        spark,
        sf_dir,
        "lineitem_rf",
        lambda: table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("key"), F.col("l_returnflag").alias("value")
        ),
    )
    df = spark.read.format("hadoop_seq").load(path)
    return (
        df.groupBy("value")
        .agg(F.count("*").alias("n"), F.sum("key").alias("key_sum"))
        .orderBy("value")
    )


@register(
    "seqfile_roundtrip_double_sum",
    # exact bigint-cents total (round-15 sf1 sweep: raw double folds
    # diverge between engines at the decade step)
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total,
           min(o_orderkey) AS lo,
           max(o_orderkey) AS hi
    FROM orders
    """,
    doc="orders (o_orderkey, o_totalprice) round-trip: Long→Double "
    "writables, fixed-width fast path both directions.",
)
def seqfile_roundtrip_double_sum(spark, sf_dir):
    path = _roundtrip_dir(
        spark,
        sf_dir,
        "orders_price",
        lambda: table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("value")
        ),
    )
    df = spark.read.format("hadoop_seq").load(path)
    return df.agg(
        F.count("*").alias("n"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("total"),
        F.min("key").alias("lo"),
        F.max("key").alias("hi"),
    )


@register(
    "seqfile_record_layout_roundtrip",
    oracle="""
    SELECT o_orderpriority AS value, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderpriority ORDER BY value
    """,
    doc="RECORD-compressed layout (zlib DefaultCodec) round-trip — one "
    "of the two Hadoop layouts beyond the reference's BLOCK+Snappy "
    "(Parser.hs:56-60 rejects them; we read/write all three, "
    "JVM-interop-tested).  orders → record-layout seqfile → aggregate.",
)
def seqfile_record_layout_roundtrip(spark, sf_dir):
    path = _roundtrip_dir(
        spark,
        sf_dir,
        "orders_prio_record",
        lambda: table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("key"),
            F.col("o_orderpriority").alias("value"),
        ),
        {"compression_type": "record", "codec": "default"},
    )
    df = spark.read.format("hadoop_seq").load(path)
    return (
        df.groupBy("value")
        .agg(F.count("*").alias("n"), F.sum("key").alias("key_sum"))
        .orderBy("value")
    )


@register(
    "seqfile_stream_source_counts",
    oracle="""
    SELECT l_returnflag AS value, count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY value
    """,
    doc="SequenceFile directory as a STREAMING source (tail new files; "
    "hadoop_seq streamReader) — availableNow replay must equal the "
    "batch aggregate.",
)
def seqfile_stream_source_counts(spark, sf_dir):
    from ..streaming import run_available_now

    path = _roundtrip_dir(
        spark,
        sf_dir,
        "lineitem_rf",
        lambda: table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("key"), F.col("l_returnflag").alias("value")
        ),
    )
    s = (
        spark.readStream.format("hadoop_seq")
        .schema("key bigint, value string")
        .load(path)
    )
    agg = s.groupBy("value").agg(F.count("*").alias("n"))
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    return run_available_now(
        agg, spark, final_no_data_batch=False
    ).orderBy("value")


@register(
    "seqfile_stream_sink_roundtrip",
    oracle="""
    SELECT event_type AS value, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS key_sum
    FROM events GROUP BY event_type ORDER BY value
    """,
    doc="SequenceFile as a streaming SINK (hadoop_seq streamWriter): "
    "events replayed as a stream, written per-microbatch to seqfiles "
    "(atomic per-batch commit), then batch-read and aggregated; the "
    "full pipeline is stream-in → seqfile-out → batch-read.",
)
def seqfile_stream_sink_roundtrip(spark, sf_dir):
    from .registry import events_path

    def write(tmp):
        src = events_path(sf_dir)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src)
            .select(
                F.col("event_id").alias("key"),
                F.col("event_type").alias("value"),
            )
        )
        ckpt = tmp + ".ckpt"
        q = (
            stream.writeStream.format("hadoop_seq")
            .option("path", tmp)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    path = materialize(
        ("seq_cache", sf_key(sf_dir), "events_stream_sink"), write
    )
    df = spark.read.format("hadoop_seq").load(path)
    return (
        df.groupBy("value")
        .agg(F.count("*").alias("n"), F.sum("key").alias("key_sum"))
        .orderBy("value")
    )


@register(
    "parquet_write_roundtrip",
    oracle="""
    SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty
    FROM lineitem WHERE l_discount > 0.05
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Parquet WRITE path (sources row): filtered projection written "
    "with our session's writer, read back, aggregated; oracle reads "
    "the original table.",
)
def parquet_write_roundtrip(spark, sf_dir):
    path = materialize(
        ("parquet_cache", sf_key(sf_dir), "lineitem_disc"),
        lambda tmp: table(spark, sf_dir, "lineitem")
        .filter(F.col("l_discount") > 0.05)
        .select("l_returnflag", "l_quantity")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        .orderBy("l_returnflag")
    )


@register(
    "parquet_partitioned_pruned_read",
    oracle="""
    SELECT l_linestatus, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    doc="Hive-partitioned parquet write (partitionBy l_returnflag) + "
    "pruned read of one partition — only that directory is scanned "
    "(PartitionFilters, the at-scale layout lever).",
)
def parquet_partitioned_pruned_read(spark, sf_dir):
    path = materialize(
        ("parquet_cache", sf_key(sf_dir), "lineitem_by_flag"),
        lambda tmp: table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_extendedprice")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(tmp),
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                ).cast("double")
                / 100.0
            ).alias("total"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "seqfile_permissive_corrupt_tail",
    oracle="""
    WITH clean AS (
      SELECT l_orderkey, l_returnflag FROM lineitem
      ORDER BY l_orderkey, l_linenumber LIMIT 200
    )
    SELECT l_returnflag AS value, count(*) AS n,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
    FROM clean GROUP BY value ORDER BY value
    """,
    doc="Corruption tolerance (R5/R17 as a graded query): a seqfile with "
    "a torn/garbage tail read in PERMISSIVE mode yields exactly the "
    "clean prefix (the reference's fail-stop semantics, Parser.hs:93-101, "
    "relaxed to keep-good-prefix; FAILFAST raising is pytest-covered).",
)
def seqfile_permissive_corrupt_tail(spark, sf_dir):
    import pyarrow as pa

    from ..seqfile import core

    def write(tmp):
        rows = (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_returnflag")
            .orderBy("l_orderkey", "l_linenumber")
            .limit(200)
            .collect()
        )
        t = pa.table(
            {
                "key": pa.array([r["l_orderkey"] for r in rows], pa.int64()),
                "value": pa.array([r["l_returnflag"] for r in rows], pa.string()),
            }
        )
        core.write_table(tmp, t)
        with open(tmp, "ab") as f:
            f.write(b"\xff" * 64)  # torn-write garbage after the last block

    path = materialize(
        ("seq_cache", sf_key(sf_dir), "lineitem_corrupt.seq"), write
    )
    df = (
        spark.read.format("hadoop_seq").option("mode", "PERMISSIVE").load(path)
    )
    return (
        df.groupBy("value")
        .agg(F.count("*").alias("n"), F.sum("key").alias("key_sum"))
        .orderBy("value")
    )


@register(
    "seqfile_metadata_roundtrip",
    oracle="""
    SELECT k, v FROM (
      SELECT 'rows' AS k, CAST(count(*) AS VARCHAR) AS v FROM lineitem
      UNION ALL
      SELECT 'source' AS k, 'lineitem' AS v
    ) ORDER BY k
    """,
    doc="Header metadata round-trip (R18 as a graded query): key/value "
    "pairs written through the DataSource writer's metadata.* options "
    "are read back verbatim from the file header (big-endian count, "
    "core.py:17-21; JVM Reader.getMetadata interop is pytest-covered).",
)
def seqfile_metadata_roundtrip(spark, sf_dir):
    from ..seqfile.datasource import read_metadata

    def build():
        return table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("key"),
            F.col("l_returnflag").alias("value"),
        )

    def opts():  # runs only on an actual build — no count on cache hits
        n = table(spark, sf_dir, "lineitem").count()
        return {"metadata.source": "lineitem", "metadata.rows": str(n)}

    final = _roundtrip_dir(
        spark, sf_dir, "lineitem_meta", build, writer_options=opts
    )
    part = sorted(f for f in os.listdir(final) if f.endswith(".seq"))[0]
    meta = sorted(read_metadata(os.path.join(final, part)).items())
    return spark.createDataFrame(meta, "k string, v string").orderBy("k")


@register(
    "seqfile_block_count_fast_path",
    oracle="SELECT CAST(100000 AS BIGINT) AS n",
    doc="count(*) from block headers only — no payload decompression "
    "(SURVEY §3 EP3).",
)
def seqfile_block_count_fast_path(spark, sf_dir):
    df = (
        spark.read.format("hadoop_seq")
        .option("block_counts", "true")
        .load(REFERENCE_TEXT_INT)
    )
    return df.agg(F.sum("block_records").cast("bigint").alias("n"))


def _mapfile_orders_dir(spark, sf_dir: str) -> str:
    """Idempotently materialize orders (o_orderkey → o_totalprice) as
    range-partitioned MapFile directories (the MapFileOutputFormat
    contract: disjoint sorted maps)."""
    return _roundtrip_dir(
        spark,
        sf_dir,
        "orders_mapfile",
        lambda: table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").cast("long").alias("key"),
            F.col("o_totalprice").cast("double").alias("value"),
        )
        .repartitionByRange(4, "key"),
        {"block_records": "1024"},
        fmt="hadoop_map",
    )


@register(
    "mapfile_range_scan",
    oracle="""
    SELECT count(*) AS n,
           round(sum(o_totalprice), 2) AS total,
           CAST(min(o_orderkey) AS BIGINT) AS lo,
           CAST(max(o_orderkey) AS BIGINT) AS hi
    FROM orders WHERE o_orderkey BETWEEN 500 AND 2500
    """,
    doc="MapFile (sorted data + sparse index SequenceFiles — the "
    "classic Hadoop companion format; the reference decodes single "
    "SequenceFiles only, SequenceFile.hs:45-50): orders written as "
    "range-partitioned sorted maps, read back through the hadoop_map "
    "DataSource with a pushed key range.  The index shrinks each data "
    "file's scanned byte range BEFORE partition planning (intra-file "
    "analog of partition pruning; plan-asserted in tests/"
    "test_mapfile.py), then rows are exact-filtered in Arrow.",
)
def mapfile_range_scan(spark, sf_dir):
    path = _mapfile_orders_dir(spark, sf_dir)
    df = spark.read.format("hadoop_map").load(path)
    return df.filter((F.col("key") >= 500) & (F.col("key") <= 2500)).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.min("key").alias("lo"),
        F.max("key").alias("hi"),
    )


@register(
    "mapfile_point_lookup",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS key,
           round(o_totalprice, 2) AS value
    FROM orders WHERE o_orderkey IN (1, 1000, 4000)
    ORDER BY key
    """,
    doc="MapFile point lookups (MapFile.Reader.get semantics): "
    "binary-search the driver-loaded sparse index, decode ONE block "
    "range per key.  Interop with Hadoop's own MapFile.Reader is "
    "pytest-verified both directions (tests/test_mapfile.py).",
)
def mapfile_point_lookup(spark, sf_dir):
    from ..seqfile import mapfile as M

    root = _mapfile_orders_dir(spark, sf_dir)
    rows = []
    for k in (1, 1000, 4000):
        for part in sorted(os.listdir(root)):
            d = os.path.join(root, part)
            if not part.startswith("part-") or not M._is_map_dir(d):
                continue
            v = M.map_get(d, k)
            if v is not None:
                rows.append((k, round(v, 2)))
                break
    return spark.createDataFrame(rows, "key long, value double").orderBy("key")


def _bloommap_even_orders_dir(spark, sf_dir: str) -> str:
    """Bloom-augmented MapFile of the EVEN-keyed half of orders — the
    shape of an incremental-ingest dedup corpus that a new batch
    probes for membership."""
    return _roundtrip_dir(
        spark,
        sf_dir,
        "orders_bloommap",
        lambda: table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 2 == 0)
        .select(
            F.col("o_orderkey").cast("long").alias("key"),
            F.col("o_totalprice").cast("double").alias("value"),
        )
        .repartitionByRange(4, "key"),
        {"bloom": "true", "block_records": "1024"},
        fmt="hadoop_map",
    )


@register(
    "bloommap_probe_batch",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_found,
           round(sum(o_totalprice), 2) AS sum_found,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(max(o_orderkey) AS BIGINT) AS last_key
    FROM orders
    WHERE o_orderkey % 2 = 0 AND o_orderkey BETWEEN 1 AND 400
    """,
    doc="BloomMapFile membership probe (Hadoop BloomMapFile semantics, "
    "bit-compatible DynamicBloomFilter + Hadoop's signed-byte Murmur2 "
    "— both JVM-interop-verified in tests/test_bloom.py): the "
    "even-keyed half of orders is a bloom-augmented sorted map; a "
    "probe batch (keys 1..400, half certainly absent) is pushed as an "
    "IN filter, so part files whose bloom rejects every probe prune "
    "to zero bytes before planning and the rest shrink to the index "
    "range — the incremental-ingest dedup probe shape at 100 TB.",
)
def bloommap_probe_batch(spark, sf_dir):
    path = _bloommap_even_orders_dir(spark, sf_dir)
    df = spark.read.format("hadoop_map").load(path)
    return df.filter(F.col("key").isin(list(range(1, 401)))).agg(
        F.count("*").alias("n_found"),
        F.round(F.sum("value"), 2).alias("sum_found"),
        F.min("key").alias("first_key"),
        F.max("key").alias("last_key"),
    )


def _setfile_ledger_dir(spark, sf_dir: str) -> str:
    """SetFile-shaped dedup ledger: the distinct fingerprints of the
    already-ingested corpus slice (doc_id % 3 != 0) as sorted
    NullWritable-valued maps — what an incremental pipeline keeps
    between batches."""
    from ..functions.text import fingerprint

    return _roundtrip_dir(
        spark,
        sf_dir,
        "fingerprint_setfile",
        lambda: table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 0)
        .select(fingerprint(F.col("text")).alias("key"))
        .distinct()
        .select("key", F.lit(None).alias("value"))
        .repartitionByRange(2, "key"),
        {"block_records": "512"},
        fmt="hadoop_map",
    )


@register(
    "setfile_dedup_ledger",
    oracle="""
    WITH fps AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    ledger AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0)
    SELECT CAST(count(*) AS BIGINT) AS n_batch,
           CAST(sum(CASE WHEN l.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_known,
           CAST(sum(CASE WHEN l.fp IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new
    FROM fps b LEFT JOIN ledger l ON b.fp = l.fp
    """,
    doc="SetFile dedup ledger (the incremental-ingest shape): the "
    "already-ingested slice's document fingerprints live as sorted "
    "NullWritable-valued maps (Hadoop SetFile semantics; JVM SetFile."
    "Reader interop in tests/test_setfile.py); a new batch joins "
    "against the ledger keys to split known vs new.  At 100 TB the "
    "ledger stays sorted on disk, the probe is a key join — or, for "
    "point probes, set_contains/bloom with zero block decodes.",
)
def setfile_dedup_ledger(spark, sf_dir):
    from ..functions.text import fingerprint

    path = _setfile_ledger_dir(spark, sf_dir)
    ledger = (
        spark.read.format("hadoop_map")
        .option("columns", "key")
        .load(path)
        .select(F.col("key").alias("fp"), F.lit(1).alias("known"))
    )
    batch = table(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    j = batch.join(ledger, "fp", "left")
    return j.agg(
        F.count("*").alias("n_batch"),
        F.coalesce(F.sum("known"), F.lit(0)).cast("long").alias("n_known"),
        F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
    )


def _tombstone_dir(spark, sf_dir: str) -> str:
    """GDPR tombstone ledger: the forgotten user ids (deterministic
    request set: user_id % 37 == 0) as a SetFile — sorted
    NullWritable-valued keys, the durable record a deletion pipeline
    keeps so every future batch can re-apply the erasure."""
    return _roundtrip_dir(
        spark,
        sf_dir,
        "gdpr_tombstones",
        lambda: table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 37 == 0)
        .select(F.format_string("%012d", F.col("user_id")).alias("key"))
        .distinct()
        .select("key", F.lit(None).alias("value"))
        .repartitionByRange(2, "key"),
        {"block_records": "512"},
        fmt="hadoop_map",
    )


@register(
    "gdpr_forget_users",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(sum(CASE WHEN user_id % 37 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="GDPR deletion propagation: the forget-set lives as a SetFile "
    "tombstone ledger (sorted NullWritable keys — the format layer's "
    "own machinery, JVM-interop-tested), and the fact table is split "
    "kept-vs-deleted by joining against the LEDGER, not by "
    "re-deriving the request predicate — exactly how a nightly "
    "erasure job re-applies accumulated requests to every new "
    "partition.  The ledger side broadcasts (forget-sets are small); "
    "the fact side never shuffles.  At 100 TB the same ledger also "
    "answers point probes via set_contains/bloom with zero block "
    "decodes.",
)
def gdpr_forget_users(spark, sf_dir):
    path = _tombstone_dir(spark, sf_dir)
    tomb = (
        spark.read.format("hadoop_map")
        .option("columns", "key")
        .load(path)
        .select(F.col("key").alias("uk"), F.lit(1).alias("tomb"))
    )
    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.format_string("%012d", F.col("user_id")).alias("uk"),
    )
    j = e.join(F.broadcast(tomb), "uk", "left")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.coalesce(F.sum("tomb"), F.lit(0))
            .cast("long")
            .alias("n_deleted"),
            F.sum(F.when(F.col("tomb").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("event_type")
    )


def _mapfile_sparse_orders_dir(spark, sf_dir: str) -> str:
    """Sparse (o_orderkey % 7 == 0) keyed MapFile parts — the keyspace
    GAPS are the point: floor/ceiling probes between stored keys are
    what getClosest exists for (the dense orders fixture always
    exact-hits)."""
    return _roundtrip_dir(
        spark,
        sf_dir,
        "orders_mapfile_sparse7",
        lambda: table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").cast("long").alias("key"),
            F.col("o_totalprice").cast("double").alias("value"),
        )
        .repartitionByRange(4, "key"),
        {"block_records": "256"},
        fmt="hadoop_map",
    )


@register(
    "mapfile_get_closest_lookup",
    oracle="""
    WITH stored AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS v
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    probes AS (SELECT unnest([-5, 0, 3, 699, 1000, 1000000000]) AS probe),
    fl AS (
      SELECT p.probe, max(s.k) AS bk
      FROM probes p LEFT JOIN stored s ON s.k <= p.probe
      GROUP BY p.probe
    ),
    ce AS (
      SELECT p.probe, min(s.k) AS ak
      FROM probes p LEFT JOIN stored s ON s.k >= p.probe
      GROUP BY p.probe
    )
    SELECT CAST(fl.probe AS BIGINT) AS probe,
           CAST(coalesce(fl.bk, -1) AS BIGINT) AS floor_key,
           round(coalesce(sb.v, 0.0), 2) AS floor_value,
           CAST(coalesce(ce.ak, -1) AS BIGINT) AS ceil_key,
           round(coalesce(sa.v, 0.0), 2) AS ceil_value
    FROM fl JOIN ce USING (probe)
    LEFT JOIN stored sb ON sb.k = fl.bk
    LEFT JOIN stored sa ON sa.k = ce.ak
    ORDER BY probe
    """,
    doc="MapFile.Reader.getClosest parity (R-family floor/ceiling point "
    "lookup, hadoop MapFile.java getClosest(key, val, before)): probe "
    "keys between, below, and above the stored sparse keyspace; each "
    "probe binary-searches the driver-loaded index of each "
    "range-partitioned part and decodes at most one short block range "
    "per direction, then parts combine by max(floor)/min(ceiling) — "
    "the as-of/snapshot point-read against a sorted keyed store.  "
    "Beyond-parity note pinned in tests/test_mapfile.py: upstream "
    "Hadoop's own getClosest(before=true) throws 'File is corrupt!' "
    "for between-keys probes on ANY block-compressed MapFile "
    "(including Hadoop-written ones); this reader answers them on "
    "every layout.  Missing sides use -1/0.0 sentinels so the graded "
    "schema stays integer-stable.",
)
def mapfile_get_closest_lookup(spark, sf_dir):
    from ..seqfile import mapfile as M

    root = _mapfile_sparse_orders_dir(spark, sf_dir)
    parts = [
        os.path.join(root, p)
        for p in sorted(os.listdir(root))
        if p.startswith("part-") and M._is_map_dir(os.path.join(root, p))
    ]
    rows = []
    for probe in (-5, 0, 3, 699, 1000, 10**9):
        floors = [
            r
            for d in parts
            if (r := M.map_get_closest(d, probe, before=True)) is not None
        ]
        ceils = [
            r
            for d in parts
            if (r := M.map_get_closest(d, probe, before=False)) is not None
        ]
        fk, fv = max(floors) if floors else (-1, 0.0)
        ak, av = min(ceils) if ceils else (-1, 0.0)
        rows.append((probe, fk, round(fv, 2), ak, round(av, 2)))
    return spark.createDataFrame(
        rows,
        "probe long, floor_key long, floor_value double, "
        "ceil_key long, ceil_value double",
    ).orderBy("probe")


def _sorter_merged_dir(spark, sf_dir: str) -> str:
    """Hadoop ``SequenceFile.Sorter.sort``/``merge`` re-expressed
    Spark-first (upstream API at
    hadoop/io/SequenceFile.java ``Sorter`` — absent from the reference
    library, which is read-only: SequenceFile.hs:45-50).

    Stage 1 materializes orders as 8 UNSORTED hash-interleaved seqfile
    shards — the Sorter's input shape (each shard spans the whole key
    range).  Stage 2 is the sorter itself: ONE range shuffle +
    in-task sort (Spark's TimSort spill path stands in for the
    Sorter's on-disk merge passes — both are external sorts; ours is
    distributed), written as MapFile parts with ``assume_sorted=true``
    so the WRITER validates ascending key order per part and throws on
    any disorder — a successful write is the order certificate.  The
    output is what ``Sorter.merge`` + ``MapFileOutputFormat`` produce:
    disjoint sorted runs, binary-searchable.  4 range partitions here;
    at 100 TB the same two lines with a higher partition count — each
    task sorts only its slice, nothing global materializes."""
    shards = _roundtrip_dir(
        spark,
        sf_dir,
        "orders_unsorted_shards",
        lambda: table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").cast("long").alias("key"),
            F.col("o_totalprice").cast("double").alias("value"),
        )
        .repartition(8),
    )
    return _roundtrip_dir(
        spark,
        sf_dir,
        "orders_sorter_merge",
        lambda: spark.read.format("hadoop_seq")
        .load(shards)
        .repartitionByRange(4, "key")
        .sortWithinPartitions("key"),
        {"assume_sorted": "true", "block_records": "1024"},
        fmt="hadoop_map",
    )


@register(
    "seqfile_sorter_merge_runs",
    oracle="""
    WITH b AS (
      SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders
    )
    SELECT CAST(least(3, floor(
             4.0 * (o_orderkey - lo) / (hi - lo + 1))) AS INT) AS bucket,
           count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS lo_key,
           CAST(max(o_orderkey) AS BIGINT) AS hi_key,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           round(sum(o_totalprice), 2) AS total
    FROM orders, b
    GROUP BY bucket ORDER BY bucket
    """,
    doc="SequenceFile.Sorter parity (hadoop SequenceFile.java Sorter "
    "sort/merge — the upstream API the read-only reference never had): "
    "8 UNSORTED hash-interleaved seqfile shards -> one range shuffle + "
    "in-task sort -> MapFile runs written with assume_sorted=true, so "
    "the writer VALIDATES ascending order per part and a successful "
    "write is the order certificate (tests/test_mapfile.py pins the "
    "negative: an unsorted frame under assume_sorted=true fails the "
    "write, plus index-range disjointness across the merged runs). "
    "The graded surface reads the merged runs back through hadoop_map "
    "and proves CONTENT: per deterministic key-range bucket, count / "
    "key extremes / exact key sum / money total must equal the parquet "
    "original — sort+merge lost and duplicated nothing.  Scale shape: "
    "stage 2 is one repartitionByRange (sampled boundaries, the "
    "standard distributed external sort) + per-task TimSort; no "
    "global collect, no single-file bottleneck — the output is "
    "disjoint sorted runs exactly like MapFileOutputFormat's.",
)
def seqfile_sorter_merge_runs(spark, sf_dir):
    path = _sorter_merged_dir(spark, sf_dir)
    df = spark.read.format("hadoop_map").load(path)
    b = df.agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
    return (
        df.crossJoin(F.broadcast(b))
        .groupBy(
            F.least(
                F.lit(3),
                F.floor(
                    F.lit(4.0)
                    * (F.col("key") - F.col("lo"))
                    / (F.col("hi") - F.col("lo") + 1)
                ),
            )
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.min("key").alias("lo_key"),
            F.max("key").alias("hi_key"),
            F.sum("key").alias("key_sum"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "seqfile_binary_payload_roundtrip",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS lo_key,
           CAST(max(doc_id) AS BIGINT) AS hi_key,
           CAST(bit_xor(('0x' || substr(md5(text), 1, 8))::BIGINT
                        * (doc_id + 1)) AS BIGINT) AS xor_fingerprint,
           CAST(sum(('0x' || substr(md5(text), 1, 8))::BIGINT)
                AS BIGINT) AS digest_sum
    FROM documents
    """,
    doc="Opaque binary payloads through the format layer — the classic "
    "'millions of small images packed into one SequenceFile' HDFS "
    "pattern (BytesWritable values: 4-byte BE length prefix, "
    "core.py WRITABLES): every document's UTF-8 bytes become a "
    "BytesWritable keyed by doc_id, written by our writer and read "
    "back through the hadoop_seq DataSource as BinaryType.  Content "
    "is proven per-BYTE, key-bound: each record's md5 digest prefix "
    "x (key+1) folds into a bit_xor fingerprint (order-insensitive, "
    "so shuffle order is irrelevant and any byte flip, loss, dup, or "
    "key swap changes it), and DuckDB recomputes the same fingerprint "
    "from the source text (DuckDB strings are UTF-8, so md5(text) IS "
    "the byte digest Spark computes over the read-back binary).  "
    "Scale shape: map-side pack + write, one partial-agg reduce on "
    "read-back; the payload bytes never shuffle.",
)
def seqfile_binary_payload_roundtrip(spark, sf_dir):
    path = _roundtrip_dir(
        spark,
        sf_dir,
        "docs_binary_payload",
        lambda: table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("key"),
            F.encode("text", "UTF-8").alias("value"),
        ),
    )
    df = spark.read.format("hadoop_seq").load(path)
    h = F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
    return df.agg(
        F.count("*").alias("n"),
        F.sum(F.length("value")).alias("total_bytes"),
        F.min("key").alias("lo_key"),
        F.max("key").alias("hi_key"),
        F.bit_xor(h * (F.col("key") + 1)).alias("xor_fingerprint"),
        F.sum(h).alias("digest_sum"),
    )
