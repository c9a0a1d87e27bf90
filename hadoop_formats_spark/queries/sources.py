"""Additional source/sink formats beyond parquet + SequenceFile:
CSV, JSON-lines, and ORC write→read round-trips (SURVEY §2.2 sources
row).  Each query writes a projection of testdata through the Spark
sink, reads it back through the matching source, and aggregates; the
DuckDB oracle reads the parquet original, so the round-trip itself is
what's being checked.

Scale notes: all three sinks shard by partition (one file per task) and
all three sources split by file — at 100 TB the write parallelism and
the read parallelism both come from partition counts, not file counts.
CSV/JSON are row-oriented text: fine for interchange, 5-20x worse than
parquet/ORC for scans (no column pruning, no predicate pushdown, full
parse cost per row) — which is exactly what the at-scale guidance in
SCALE.md says: land data in a columnar format before heavy querying.
ORC gets the same pushdown/pruning treatment as parquet from Spark's
native reader.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_formats_spark.cachedir import cache_path, materialize, sf_key

from .registry import register, table


@register(
    "csv_write_read_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS bal
    FROM customer WHERE c_acctbal > 0
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="CSV sink + source round-trip: customer projection written with "
    "header + explicit quoting, read back with an explicit schema (no "
    "inference scan — at scale schema inference is a full extra pass), "
    "aggregated by segment.",
)
def csv_write_read_roundtrip(spark, sf_dir):
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "customer_csv"),
        lambda tmp: (
            table(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal")
            .write.mode("overwrite")
            .option("header", "true")
            .csv(tmp)
        ),
    )
    df = (
        spark.read.schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .option("header", "true")
        .csv(path)
    )
    return (
        df.filter(F.col("c_acctbal") > 0)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.sum("c_acctbal").alias("bal"))
        .orderBy("c_mktsegment")
    )


@register(
    "json_lines_roundtrip",
    oracle="""
    SELECT split_part(p_type, ' ', 1) AS type_head, count(*) AS n,
           round(avg(p_retailprice), 4) AS avg_price
    FROM part
    GROUP BY type_head ORDER BY type_head
    """,
    doc="JSON-lines sink + source round-trip: part projection written as "
    "newline-delimited JSON, read back with an explicit schema, grouped "
    "by the head word of p_type.",
)
def json_lines_roundtrip(spark, sf_dir):
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "part_json"),
        lambda tmp: (
            table(spark, sf_dir, "part")
            .select("p_partkey", "p_type", "p_retailprice")
            .write.mode("overwrite")
            .json(tmp)
        ),
    )
    df = spark.read.schema(
        "p_partkey bigint, p_type string, p_retailprice double"
    ).json(path)
    return (
        df.withColumn("type_head", F.split("p_type", " ").getItem(0))
        .groupBy("type_head")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("type_head")
    )


@register(
    "orc_write_roundtrip",
    oracle="""
    SELECT s_nationkey, count(*) AS n, sum(s_acctbal) AS bal
    FROM supplier
    GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    doc="ORC sink + source round-trip: supplier written as ORC, read "
    "back, aggregated by nation.  ORC is Spark's other native columnar "
    "format — same pushdown/pruning as parquet.",
)
def orc_write_roundtrip(spark, sf_dir):
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "supplier_orc"),
        lambda tmp: (
            table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey", "s_acctbal")
            .write.mode("overwrite")
            .orc(tmp)
        ),
    )
    return (
        spark.read.orc(path)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n"), F.sum("s_acctbal").alias("bal"))
        .orderBy("s_nationkey")
    )


@register(
    "xml_write_read_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n,
           min(n_name) AS first_nation
    FROM nation
    GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    doc="XML sink + source round-trip (Spark 4 built-in spark-xml): "
    "nation written as <row> elements, read back with an EXPLICIT "
    "schema (inference is a second full pass and type-unstable — same "
    "discipline as the JSON row), aggregated per region.  XML is the "
    "interchange format enterprise feeds still arrive in; the "
    "row-tag reader streams records without materializing the "
    "document, so it splits like any text source at scale.",
)
def xml_write_read_roundtrip(spark, sf_dir):
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "nation_xml"),
        lambda tmp: (
            table(spark, sf_dir, "nation")
            .select("n_nationkey", "n_name", "n_regionkey")
            .write.mode("overwrite")
            .option("rootTag", "nations")
            .option("rowTag", "nation")
            .format("xml")
            .save(tmp)
        ),
    )
    df = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint"
        )
        .option("rowTag", "nation")
        .format("xml")
        .load(path)
    )
    return (
        df.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n"),
            F.min("n_name").alias("first_nation"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "partition_overwrite_dynamic",
    oracle="""
    WITH yrs AS (
      SELECT CAST(extract(year FROM o_orderdate) AS INT) AS yr,
             o_totalprice
      FROM orders
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CASE WHEN yr = 1996 THEN o_totalprice * 1.1
                          ELSE o_totalprice END), 2) AS revenue
    FROM yrs GROUP BY yr ORDER BY yr
    """,
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic) — "
    "the incremental-backfill write pattern: the full orders table is "
    "laid out partitioned by year, then ONE year (1996) is re-written "
    "with corrected prices via INSERT OVERWRITE semantics that "
    "replaces ONLY the partitions present in the incoming frame; "
    "every other year's files are untouched (static mode would wipe "
    "the whole table).  The read-back per-year totals prove exactly "
    "the 1996 partition changed.  At 100 TB this is how a daily "
    "restatement lands without rewriting the table, and partition "
    "pruning keeps the backfill read-side O(restated partitions).",
)
def partition_overwrite_dynamic(spark, sf_dir):
    yr = F.year("o_orderdate").cast("int").alias("yr")
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "orders_by_year_backfilled"),
        lambda tmp: _dynamic_backfill(spark, sf_dir, tmp),
    )
    return (
        spark.read.parquet(path)
        .groupBy("yr")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("yr")
    )


def _dynamic_backfill(spark, sf_dir: str, tmp: str) -> None:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    o.write.mode("overwrite").partitionBy("yr").parquet(tmp)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # the restatement frame holds ONLY the 1996 partition; dynamic
        # mode replaces just that partition's files
        (
            o.filter(F.col("yr") == 1996)
            .withColumn(
                "o_totalprice", F.col("o_totalprice") * F.lit(1.1)
            )
            .write.mode("overwrite")
            .partitionBy("yr")
            .parquet(tmp)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev
        )


@register(
    "compact_small_files",
    oracle="""
    SELECT CAST(16 AS BIGINT) AS n_files_before,
           CAST(ceil(count(*) / 20000.0) AS BIGINT) AS n_files_after,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_orderkey) AS BIGINT) AS key_sum
    FROM lineitem
    """,
    doc="Small-files compaction — the table-maintenance job every "
    "long-lived 100 TB dataset needs: a 16-part fragmented copy of "
    "lineitem keys is rewritten into ceil(rows/20k) right-sized files "
    "(explicit repartition: balanced output even when input files are "
    "skewed; coalesce would avoid the shuffle but cannot split or "
    "balance).  Output: file counts before/after plus a row-count and "
    "key-checksum proof that compaction lost nothing.  File counts "
    "come from distinct input_file_name() — measured, not assumed.  "
    "The driver-side row count that sizes the rewrite is the "
    "maintenance job's planning step, not a hot-path collect; at "
    "scale, spark.sql.files.maxRecordsPerFile is the streaming-write "
    "alternative.",
)
def compact_small_files(spark, sf_dir):
    import math

    target_rows = 20_000
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    small = materialize(
        ("fmt_cache", sf_key(sf_dir), "li_small16"),
        lambda p: li.repartition(16).write.parquet(p),
    )
    before = spark.read.parquet(small)
    n = before.count()
    n_after = max(1, math.ceil(n / target_rows))
    compacted = materialize(
        ("fmt_cache", sf_key(sf_dir), "li_compacted"),
        lambda p: spark.read.parquet(small).repartition(n_after).write.parquet(p),
    )
    after = spark.read.parquet(compacted)
    files_b = (
        before.select(F.input_file_name().alias("f"))
        .agg(F.countDistinct("f").alias("n_files_before"))
    )
    files_a = (
        after.select(F.input_file_name().alias("f"))
        .agg(F.countDistinct("f").alias("n_files_after"))
    )
    stats = after.agg(
        F.count("*").alias("n_rows"), F.sum("l_orderkey").alias("key_sum")
    )
    return files_b.crossJoin(files_a).crossJoin(stats)


@register(
    "parquet_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey < 1000 THEN 'MISSING'
                ELSE o_orderstatus END AS status,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1 ORDER BY status
    """,
    doc="Schema evolution across parquet file generations: generation 1 "
    "lacks the o_orderstatus column, generation 2 adds it; "
    "mergeSchema=true reads both with the union schema (gen-1 rows "
    "surface NULL status → 'MISSING').  The long-lived-dataset concern "
    "every 100 TB lake hits — columns arrive mid-history and old files "
    "must stay readable without rewrite.  mergeSchema costs a footer "
    "read per file, so production pins the merged schema in a "
    "catalog; the capability under test is mixed-schema scan "
    "correctness.",
)
def parquet_schema_evolution(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    path = materialize(
        ("fmt_cache", sf_key(sf_dir), "orders_evolved"),
        lambda p: (
            o.filter(F.col("o_orderkey") < 1000)
            .select("o_orderkey", "o_totalprice")
            .write.parquet(f"{p}/gen=1"),
            o.filter((F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000))
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.parquet(f"{p}/gen=2"),
        )[-1],
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return (
        merged.select(
            F.coalesce(F.col("o_orderstatus"), F.lit("MISSING")).alias("status"),
            "o_totalprice",
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("status")
    )


@register(
    "layout_bucketed_join_no_shuffle",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="Bucketed-layout co-located join: orders and lineitem are "
    "written ONCE as parquet tables bucketed AND sorted by the join "
    "key (8 buckets each), so the fact-fact join runs as a "
    "SortMergeJoin with NO exchange on either side — the bucket "
    "files are the shuffle, paid at write time (a partition-local "
    "sort remains: Spark >= 3.0 only trusts bucket sort order under "
    "spark.sql.legacy.bucketedTableScan.outputOrdering).  At 100 TB "
    "this is the single biggest join optimization available: a "
    "lineitem x orders join over bucketed tables moves zero bytes at "
    "query time, and every downstream join on the same key reuses "
    "the layout for free.  Plan-asserted in pytest: the only "
    "exchange in this query is the final groupBy's.  The oracle "
    "joins the plain parquet originals — physical layout must not "
    "change results.",
)
def layout_bucketed_join_no_shuffle(spark, sf_dir):
    key = sf_key(sf_dir).replace(".", "_")
    ot, lt = f"bkt_orders_{key}", f"bkt_lineitem_{key}"
    if not spark.catalog.tableExists(ot):
        (
            table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            # ONE file per bucket (repartition by the bucket key uses
            # the same murmur3 hash as bucketBy): Spark only elides the
            # read-side sort when every bucket is a single sorted file
            .repartition(8, "o_orderkey")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", cache_path("fmt_cache", key, "bkt_orders"))
            .saveAsTable(ot)
        )
    if not spark.catalog.tableExists(lt):
        (
            table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .repartition(8, "l_orderkey")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", cache_path("fmt_cache", key, "bkt_lineitem"))
            .saveAsTable(lt)
        )
    o = spark.table(ot)
    li = spark.table(lt)
    # hint("merge") pins SortMergeJoin so the bucketed layout is what
    # gets exercised (a broadcast join at toy scale would also be
    # shuffle-free, but for the wrong reason)
    joined = li.join(
        o.hint("merge"), li.l_orderkey == o.o_orderkey
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


_Z_BITS = 16  # 65,536 cells/dim: custkey and day-number both fit at 100 TB SFs


def zorder_orders_path(spark, sf_dir: str, nfiles: int = 8) -> str:
    """Materialize orders Z-ordered on (o_custkey, order-day): morton
    code -> repartitionByRange(nfiles) -> sortWithinPartitions, so each
    output file covers one contiguous Z range = a bounded RECTANGLE
    union in (custkey, date) space, and its parquet min/max stats on
    BOTH columns are tight.  That's what makes a 2-D box predicate
    prune files/row-groups on either dimension — a single-column sort
    layout only ever prunes on its leading column."""
    from hadoop_formats_spark.operators.layout import zorder_key

    # custkey and day-number are already small non-negative ints, so
    # they feed the interleave raw (no rank coding pass needed)
    return materialize(
        ("fmt_cache", sf_key(sf_dir), f"orders_zorder_{nfiles}"),
        lambda tmp: (
            table(spark, sf_dir, "orders")
            .withColumn(
                "z",
                zorder_key(
                    [
                        F.col("o_custkey").cast("bigint"),
                        F.datediff(
                            F.col("o_orderdate").cast("date"),
                            F.lit("1995-01-01").cast("date"),
                        ).cast("bigint"),
                    ],
                    bits=_Z_BITS,
                ),
            )
            .repartitionByRange(nfiles, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.mode("overwrite")
            .parquet(tmp)
        ),
    )


@register(
    "layout_zorder_pruned_scan",
    oracle="""
    SELECT count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 260
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    """,
    doc="Z-order (Morton-interleaved) data layout + 2-D box scan: "
    "orders are rewritten clustered by the bit-interleaved "
    "(custkey, order-day) code via repartitionByRange + "
    "sortWithinPartitions, then a rectangle predicate on BOTH "
    "dimensions reads the copy back.  The graded values check the "
    "rewrite is lossless; the LAYOUT effect — every file carries "
    "tight min/max on both columns, so the box prunes files no "
    "matter which dimension dominates — is asserted in pytest from "
    "the parquet footers (tests/test_queries.py).  This is the "
    "100 TB story for multi-dimensional scan locality (the same "
    "technique Delta/Iceberg OPTIMIZE ZORDER applies); the morton "
    "expression is 32 shift/or terms of pure Catalyst, no UDF.",
)
def layout_zorder_pruned_scan(spark, sf_dir):
    path = zorder_orders_path(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(
            (F.col("o_custkey").between(100, 260))
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("total_cents"),
        )
    )


def _quarantine_dirs(spark, sf_dir: str) -> tuple[str, str]:
    """Write the events table through the DQ gate ONCE per sf dir:
    rows failing any rule land in the quarantine dir, the rest in the
    clean dir — the standard ETL split-sink (atomic-rename cached,
    like every other sink fixture here)."""
    from .registry import table as t

    def write(which):
        def _w(tmp):
            e = t(spark, sf_dir, "events")
            # NULL-safe routing: coalesce folds a NULL predicate (NULL
            # event_type/value) to false so the row lands on exactly one
            # side (clean), matching the oracle's CASE ... ELSE 'clean';
            # raw filter(bad)/filter(~bad) would drop it from both.
            bad = F.coalesce(
                (F.col("event_type") == "error") | (F.col("value") > 400),
                F.lit(False),
            )
            df = e.filter(bad) if which == "q" else e.filter(~bad)
            df.write.mode("overwrite").parquet(tmp)

        return _w

    key = sf_key(sf_dir)
    qdir = materialize(("fmt_cache", key, "events_dq_quarantine"), write("q"))
    cdir = materialize(("fmt_cache", key, "events_dq_clean"), write("c"))
    return cdir, qdir


@register(
    "dq_quarantine_split_sink",
    oracle="""
    WITH flagged AS (
      SELECT CASE WHEN event_type = 'error' OR value > 400
                  THEN 'quarantine' ELSE 'clean' END AS side,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS r_err,
             CASE WHEN value > 400 THEN 1 ELSE 0 END AS r_val,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT side,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(r_err) AS BIGINT) AS n_error_type,
           CAST(sum(r_val) AS BIGINT) AS n_value_outlier,
           CAST(sum(cents) AS BIGINT) AS value_cents
    FROM flagged GROUP BY side ORDER BY side
    """,
    doc="DQ quarantine split-sink — the ETL pattern dq_constraint_suite "
    "only REPORTS on: rows failing any rule (error-typed events, "
    "value outliers) are WRITTEN to a quarantine directory, the rest "
    "to the clean directory, and the graded surface reads BOTH sinks "
    "back and reconciles per-rule counts and an exact cents control "
    "total against the source — certifying the split is lossless and "
    "disjoint (clean + quarantine = source, rule counts land on the "
    "right side).  At 100 TB both writes shard by partition and the "
    "quarantine feeds a repair/replay pipeline instead of poisoning "
    "downstream aggregates.",
)
def dq_quarantine_split_sink(spark, sf_dir):
    cdir, qdir = _quarantine_dirs(spark, sf_dir)
    clean = spark.read.parquet(cdir).withColumn("side", F.lit("clean"))
    quar = spark.read.parquet(qdir).withColumn("side", F.lit("quarantine"))
    both = clean.unionByName(quar)
    return (
        both.select(
            "side",
            F.when(F.col("event_type") == "error", 1)
            .otherwise(0)
            .alias("r_err"),
            F.when(F.col("value") > 400, 1).otherwise(0).alias("r_val"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("side")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("r_err").cast("long").alias("n_error_type"),
            F.sum("r_val").cast("long").alias("n_value_outlier"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("side")
    )
