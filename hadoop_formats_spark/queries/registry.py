"""Query registry: every declared capability from SURVEY.md §2.2/§2.3 is
one named entry pairing a Spark DataFrame builder with (when
SQL-expressible) an equivalent DuckDB oracle SQL string.  The driver
runs both at sf0.01 and compares row count + schema + order-insensitive
value hash, so builders and oracles must alias every computed column to
the same name."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QuerySpec(name, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


from hadoop_formats_spark.cachedir import materialize, sf_key


def events_path(sf_dir: str) -> str:
    """The testdata ``events.parquet`` carries TIMESTAMP(NANOS), which
    Spark's parquet scan rejects (PARQUET_TYPE_ILLEGAL).  Materialize a
    timestamp[us] copy once per sf dir (values in the testdata are
    second-granularity so the cast is lossless)."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/events.parquet")
        fields = [
            pa.field(f.name, pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type)
            for f in t.schema
        ]
        # safe=False: testdata ts has sub-µs noise; truncation matches how both
        # Spark and the DuckDB Python client surface values (µs datetimes), and
        # min/bucketing commute with monotonic truncation.
        t = t.cast(pa.schema(fields), safe=False)
        os.makedirs(tmp)
        pq.write_table(t, os.path.join(tmp, "part-0.parquet"))

    return materialize(("events_us", sf_key(sf_dir)), build)


def docs_stream_dir(sf_dir: str, *, nfiles: int = 32) -> str:
    """File-stream sources need a DIRECTORY; the testdata tables are
    single ONE-ROW-GROUP parquet files, which Spark cannot split — so a
    single-file copy serializes every map-side stage of a streaming
    replay onto one task (measured r10: the minhash band registry ran
    10.4 s at sf0.1 single-file vs 2.25 s over the same rows in 8
    files — the cost was never the data, it was the missing splits
    that real 100 TB inputs have by construction).  Materialize the
    documents table as ``nfiles`` row-sliced parquet files once per sf
    dir.  Consumers that need single-microbatch semantics pass
    ``files_per_trigger=nfiles`` so all slices land in ONE batch —
    identical state trajectory to the old one-file copy, 8-way
    parallel scan."""

    # nfiles is part of the cache key: consumers hardcode
    # files_per_trigger=DOCS_STREAM_FILES, so a caller asking for a
    # different slice count must NOT silently receive whichever layout
    # was materialized first — drift there would change microbatch
    # count and hence watermark/TTL state trajectories (ADVICE r10).
    def build(tmp):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{sf_dir}/documents.parquet")
        os.makedirs(tmp)
        step = max(1, (t.num_rows + nfiles - 1) // nfiles)
        for i in range(0, nfiles):
            sl = t.slice(i * step, step)
            if sl.num_rows == 0:
                break
            pq.write_table(sl, os.path.join(tmp, f"part-{i}.parquet"))

    return materialize(("docs_streamdir_v2", f"{sf_key(sf_dir)}_n{nfiles}"), build)

DOCS_STREAM_FILES = 32  # files_per_trigger partner for docs_stream_dir (r16: 8 -> 32; all slices still land in ONE microbatch, the map-side banding just gets the full core count instead of 8-way parallelism)


def docs_seq_dir(sf_dir: str, *, nfiles: int = 32) -> str:
    """The documents table as ``nfiles`` SequenceFiles (key = doc_id
    LongWritable, value = text Text) — the r17 parallel-scan canary
    fixture (VERDICT r16 #7).  A BATCH parquet scan of the 32-file
    docs_stream_dir copy packs the tiny files into ~2 splits
    (openCostInBytes charging), so it cannot exercise scan
    parallelism; the hadoop_seq datasource plans one input partition
    per file/byte-range, so this layout scans 32-way.  Like
    docs_stream_dir the cache key carries the slice count, and the
    fixture is a row-sliced COPY of the testdata (data, never derived
    results)."""

    def build(tmp):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hadoop_formats_spark.seqfile import core

        t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        os.makedirs(tmp)
        for i in range(nfiles):
            # round-robin row slicing, not contiguous ranges: document
            # lengths cluster, and a contiguous slice hands one task all
            # the long documents (measured: the canary's 8→32-core ratio
            # collapsed to ~1.5 from straggler tasks)
            sl = t.take(list(range(i, t.num_rows, nfiles)))
            if sl.num_rows == 0:
                break
            core.write_table(
                os.path.join(tmp, f"part-{i:05d}.seq"),
                pa.table(
                    {
                        "key": sl.column("doc_id").cast(pa.int64()),
                        "value": sl.column("text").cast(pa.string()),
                    }
                ),
            )

    return materialize(("docs_seqdir", f"{sf_key(sf_dir)}_n{nfiles}"), build)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return spark.read.parquet(events_path(sf_dir))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The driver's correctness gate checks the FIRST 50 entries of
# ``queries()`` (dict insertion order).  PRIORITY_ORDER picks that
# window: never-graded queries first, then post-fix non-green ones,
# then changed-code-first, then oldest-green round-robin across
# families.  ``tools/next_window.py`` computes it from git history and
# the CORRECTNESS_r*.json archive; every query not listed follows in
# registration order.
PRIORITY_ORDER = [
    "scan_shingle_checksum_canary",  # never-graded (new in r17)
    "multimodal_png_real_decode",  # never-graded (new in r15)
    "dedup_winnow_chunked_pairs",  # never-graded (new in r15)
    "stream_ohlc_candles",  # never-graded (new in r15)
    "multimodal_tiff_real_decode",  # never-graded (new in r15)
    "q1_pricing_summary",  # r15: exact bigint-unit money folds
    "join_5way_region_rollup_revenue",  # r15: exact revenue fold
    "sort_topk_revenue_parts",  # r15: exact fold + integer ordering
    "udf_pandas_scalar_charge",  # r15: UDF emits exact 1e-6 units
    "window_range_frame_spend",  # r15: exact cents frame sum
    "seqfile_roundtrip_double_sum",  # r15: exact cents total
    "parquet_partitioned_pruned_read",  # r15: exact cents total
    "agg_having",  # r15: exact cents avg (proactive)
    "mv_incremental_maintenance",  # r15: exact IVM folds + exact certificate
    "text_quality_score",  # r15: floor-form quality quantize
    "pareto_frontier_quality_length",  # r15: floor-form quality
    "sample_weighted_quality",  # r15: floor-form quality
    "timeseries_downsample_ohlc",  # r15: sign-safe okey (same values)
    "dedup_winnow_fingerprint_pairs",  # r15: shared pair-tail refactor
    "session_entry_exit_flows",  # changed since r08: span hadoop_formats_spark/queries/ext.py:4525-4616
    "stream_ttl_band_registry",  # changed since r11: module hadoop_formats_spark/streaming/__init__.py
    "stream_attribution_last_touch",  # changed since r09: module hadoop_formats_spark/streaming/__init__.py
    "stream_tws_running_stats",  # changed since r10: module hadoop_formats_spark/streaming/__init__.py
    "stream_foreach_batch_upsert",  # changed since r10: module hadoop_formats_spark/streaming/__init__.py
    "seqfile_stream_source_counts",  # changed since r06: module hadoop_formats_spark/streaming/__init__.py
    "contamination_ngram_overlap",  # changed since r10: module hadoop_formats_spark/operators/dedup.py
    "dedup_incremental_batch",  # changed since r12: module hadoop_formats_spark/operators/dedup.py
    "dedup_chunk_boilerplate",  # changed since r10: module hadoop_formats_spark/operators/dedup.py
    "dedup_substring_spans",  # changed since r08: module hadoop_formats_spark/operators/dedup.py
    "dedup_containment_excerpts",  # changed since r08: module hadoop_formats_spark/operators/dedup.py
    "seqfile_record_layout_roundtrip",  # oldest-green r04 [seqfile]
    "stream_tumbling_hourly_counts",  # oldest-green r05 [stream]
    "join_asof_purchase_last_click",  # oldest-green r06 [join]
    "text_bigram_lm_score",  # oldest-green r06 [text]
    "q18_large_volume_customer",  # oldest-green r06 [tpch]
    "abtest_cuped_adjusted",  # oldest-green r08 [abtest]
    "intervals_merge_coverage",  # oldest-green r08 [intervals]
    "link_fuzzy_customer_names",  # oldest-green r08 [link]
    "map_constructor_lookup",  # oldest-green r08 [map]
    "null_handling_fill_nullsafe",  # oldest-green r08 [null]
    "projection_compute",  # oldest-green r08 [projection]
    "rollup_region_nation",  # oldest-green r08 [rollup]
    "scd2_point_in_time_join",  # oldest-green r08 [scd2]
    "set_union_distinct",  # oldest-green r08 [set]
    "sketch_kmv_jaccard_intersect",  # oldest-green r08 [sketch]
    "sort_multikey_nulls",  # oldest-green r08 [sort]
    "stats_decayed_engagement",  # oldest-green r08 [stats]
    "struct_map_collect",  # oldest-green r08 [struct]
    "subquery_scalar_near_max",  # oldest-green r08 [subquery]
    "timeseries_ewma_anomaly",  # oldest-green r08 [timeseries]
    "unpivot_price_measures",  # oldest-green r08 [unpivot]
    "window_lag_lead_order_gaps",  # oldest-green r08 [window]
    "agg_exact_percentiles",  # oldest-green r09 [agg]
    "attribution_last_touch",  # oldest-green r09 [attribution]
    "embedding_covariance_pca",  # oldest-green r09 [embedding]
    "feature_target_encoding_oof",  # oldest-green r09 [feature]
    "funnel_conversion",  # oldest-green r09 [funnel]
    "graph_bfs_distances",  # oldest-green r09 [graph]
    "json_from_json_struct",  # oldest-green r09 [json]
    "layout_zorder_clustering",  # oldest-green r09 [layout]
    "math_conditional",  # oldest-green r09 [math]
    "orc_write_roundtrip",  # oldest-green r09 [orc]
    "pack_sequences_stats",  # oldest-green r09 [pack]
    "parquet_schema_evolution",  # oldest-green r09 [parquet]
    "privacy_l_diversity",  # oldest-green r09 [privacy]
    "sample_domain_quota",  # oldest-green r09 [sample]
    "array_higher_order_funcs",  # oldest-green r10 [array]
    "bpe_apply_compression",  # oldest-green r10 [bpe]
]


def _ordered() -> list[str]:
    rank = {name: i for i, name in enumerate(PRIORITY_ORDER)}
    rest = [n for n in QUERIES if n not in rank]
    # dict.fromkeys: defensive dedupe so an accidental PRIORITY_ORDER
    # double-entry can never yield a duplicate name (ADVICE r15)
    return [
        n for n in dict.fromkeys(PRIORITY_ORDER) if n in QUERIES
    ] + rest


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].builder for name in _ordered()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _ordered()
        if QUERIES[name].oracle is not None
    }
