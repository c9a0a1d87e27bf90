"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect); a warmup
query runs first so JVM/codegen startup isn't attributed to q1.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: the flagship aggregation, the heaviest shuffle join, a
# window, a seqfile round-trip (format layer), dedup + ANN (ext layer),
# and a streaming window — one per major subsystem.
HEADLINE = [
    "q1_pricing_summary",
    "join_5way_region_rollup_revenue",
    "join_6way_supplier_nation_revenue",
    "join_asof_purchase_last_click",
    "grouping_sets_time_rollup",
    "window_topk_orders_per_customer",
    "sort_topk_revenue_parts",
    "seqfile_roundtrip_returnflag_counts",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_brute_force_topk",
    "text_quality_score",
    "stream_tumbling_hourly_counts",
    "stream_stream_join_click_to_purchase",
    # r17 ADDITION (appended — nothing renamed or removed): the
    # parallel-scan scaling canary (VERDICT r16 #7).  Every other row's
    # scan stage is single-task by input layout (one-row-group testdata
    # parquet), so the 8-vs-32-core scaling block reads ≈1 for all of
    # them and cannot see a parallelism regression; this row reads the
    # 32-file seqfile documents fixture at one split per file, so its
    # low/high-core ratio tracks the core ratio.
    "scan_shingle_checksum_canary",
]


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


def _steal_counters() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — the hypervisor's
    own account of CPU taken from this VM by co-tenants."""
    try:
        parts = open("/proc/stat").readline().split()
        vals = [int(x) for x in parts[1:9]]
        return vals[7], sum(vals)
    except Exception:
        return 0, 1


STEAL_LIMIT = 0.03  # >3% of the interval stolen → sample is polluted
CAL_LIMIT = 1.30  # calibration probe >30% over its session-best → polluted
RECORD_LIMIT = 1.35  # best-of-run >35% over the rolling clean record → flag
RECORD_PATH = os.path.join(REPO, ".bench_record.json")


def _calibrate() -> float:
    """~40 ms single-thread CPU probe (pure-python arithmetic): its
    runtime tracks effective per-core throughput.  Measured on this
    box: during ambient-noise windows where every Spark query runs
    uniformly ~1.4-2× slower while the hypervisor steal counter stays
    at 0 (memory-bandwidth / scheduler contention the steal metric
    cannot see), the probe slows by the same factor — so it flags the
    pollution the steal check misses."""
    t0 = time.perf_counter()
    x = 0
    for i in range(400_000):
        x += i * i & 1023
    return time.perf_counter() - t0


def timed_best(fn, n: int = 2, max_extra: int = 2) -> tuple[float, bool]:
    """min wall-clock over ``n`` runs of ``fn``, with two-detector
    noise rejection: a sample is polluted if (a) the hypervisor steal
    counter rose by >3% of the interval, OR (b) the single-thread
    calibration probe ran >30% slower than its session-best right
    before/after the sample (ambient contention invisible to steal —
    observed on this box as uniform ~1.4-2× inflation with steal at 0).
    Up to ``max_extra`` replacement samples are taken.  Returns
    (best_seconds, flagged) — flagged=True iff no clean sample was
    obtained, i.e. the number is an upper bound."""
    best = None
    clean = 0
    runs = 0
    while runs < n + max_extra and clean < n:
        c0 = _calibrate()
        s0, t0 = _steal_counters()
        w0 = time.time()
        timed_best.last = fn()  # row count of the final sample
        dt = time.time() - w0
        s1, t1 = _steal_counters()
        c1 = _calibrate()
        # compare against the best of PRIOR probes only (seeded by
        # main()'s warm-up probes), then fold this sample in — folding
        # first made the first sample of a session un-flaggable, so a
        # uniformly slow session reported clean timings (ADVICE r4)
        cal_prior = getattr(timed_best, "cal_best", float("inf"))
        runs += 1
        steal_ok = (s1 - s0) / max(1, t1 - t0) < STEAL_LIMIT
        cal_ok = min(c0, c1) < cal_prior * CAL_LIMIT
        timed_best.cal_best = min(cal_prior, c0, c1)
        if steal_ok and cal_ok:
            clean += 1
        best = dt if best is None else min(best, dt)
    return best, clean == 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")

    from hadoop_formats_spark import REFERENCE_FIXTURES
    from hadoop_formats_spark.queries import QUERIES
    from hadoop_formats_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM + Arrow + python worker spin-up, incl. the Python
    # datasource path (first hadoop_seq query pays ~3s of one-time setup)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.read.format("hadoop_seq").load(
        os.path.join(REFERENCE_FIXTURES, "text-int.seq")
    ).count()

    # spin up the full Arrow python-worker pool before timing anything:
    # 32 workers each importing numpy+pandas on first use is a ~20s
    # import storm if it lands inside a measured query (measured: the
    # first mapInPandas query in a fresh session pays 15-18s of worker
    # startup that no later query sees).  One noop over 32 partitions
    # pays it here, untimed — steady-state throughput is what the
    # number is for.
    def _noop(it):
        import numpy  # noqa: F401 — force the heavy imports in-worker
        import pandas  # noqa: F401

        yield from it

    spark.range(0, 3200, 1, 32).mapInPandas(_noop, "id long").count()

    # write-path warmup (r17, measurement fix — same one-time-setup
    # class as the read/worker warmups above): the sorter COLD build
    # was this session's FIRST hadoop_seq/hadoop_map write, so its
    # timed number carried ~2.3 s of one-shot JVM write-path spin-up
    # (V2 write planning, commit-protocol classes, codegen) that no
    # steady-state write pays — measured r17: the 8-shard stage-1
    # write ran 3.1 s on the session's first write vs 0.8 s on every
    # later one.  One tiny untimed write per format warms it here.
    # The r16 sorter numbers (5.2 s r15 driver / 7.8 s r16 driver /
    # 6.5 s r17 builder baseline) include that spin-up; post-fix
    # numbers measure the build itself (OPTIMIZATION_r17.md keeps
    # both series).
    import shutil as _sh0
    import tempfile as _tf

    _wtmp = _tf.mkdtemp(prefix="bench_write_warm_")
    _wdf = spark.range(0, 1000, 1, 2).selectExpr(
        "id AS key", "CAST(id AS DOUBLE) AS value"
    )
    _wdf.write.format("hadoop_seq").mode("overwrite").save(
        os.path.join(_wtmp, "warm_seq")
    )
    _wdf.sortWithinPartitions("key").write.format("hadoop_map").option(
        "assume_sorted", "true"
    ).mode("append").save(os.path.join(_wtmp, "warm_map"))
    _sh0.rmtree(_wtmp, ignore_errors=True)

    # parallel calibration: a fixed 32-way JVM reduction.  The
    # single-thread probe (_calibrate) stays flat during ambient
    # windows that only throttle PARALLEL work (shared L3 / memory
    # bandwidth under co-tenant load) — this one inflates with the
    # queries, so its min over (start, end) normalizes runs against
    # each other.  ~1s nominal on a quiet box.
    def _par_cal() -> float:
        t0 = time.perf_counter()
        spark.range(0, 1_500_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s"
        ).collect()
        return time.perf_counter() - t0

    _par_cal()  # JIT warm
    par_cal_start = _par_cal()

    # seed the calibration session-best from warm-up probes so the very
    # first timed sample can be cal-flagged too (ADVICE r4: comparing a
    # sample against a best that already includes it never flags)
    timed_best.cal_best = min(_calibrate() for _ in range(5))

    # rolling clean record: per-sf per-query recent CLEAN bests on this
    # box.  A run whose best exceeds the MEDIAN of the last few clean
    # runs by >35% is flagged even when steal + calibration look clean
    # (VERDICT r4: a ~35%-inflated run passed both detectors).  The bar
    # is a median over a bounded window, not an all-time min: one
    # unusually lucky sample ages out after a few runs instead of
    # permanently lowering the bar and flagging every honest run within
    # normal variance above it (ADVICE r5 #4).  Old-format float
    # entries are migrated to single-item histories.
    try:
        with open(RECORD_PATH) as fh:
            record_all = json.load(fh)
    except Exception:
        record_all = {}
    sf_key = str(sf)
    record: dict = record_all.setdefault(sf_key, {})
    record_flagged: list[str] = []
    RECORD_WINDOW = 7  # clean runs retained per query

    def check_record(name: str, best: float, clean: bool) -> None:
        prior = record.get(name)
        hist = (
            prior
            if isinstance(prior, list)
            else ([prior] if isinstance(prior, (int, float)) else [])
        )
        if hist:
            bar = sorted(hist)[len(hist) // 2]  # median of recent clean bests
            if best > bar * RECORD_LIMIT:
                record_flagged.append(name)
        if clean:
            # every steal/cal-clean sample enters the history (even if
            # record-flagged): a genuinely slower box then raises the
            # median as flagged-but-clean runs age in, so the detector
            # self-heals instead of deadlocking on a stale low bar
            record[name] = (hist + [round(best, 3)])[-RECORD_WINDOW:]

    timings: dict[str, float] = {}
    flagged: list[str] = []
    headline_runs: dict = {}  # kept for the self-healing re-measure pass
    for name in HEADLINE:
        spec = QUERIES[name]

        def run(spec=spec, name=name):
            df = spec.builder(spark, sf_dir)
            return df.count() if name != "q1_pricing_summary" else len(df.collect())

        headline_runs[name] = run
        best, bad = timed_best(run, n=2)
        timings[name] = round(best, 3)
        if bad:
            flagged.append(name)
        check_record(name, best, not bad)
        print(
            f"# {name}: {timings[name]:.2f}s ({timed_best.last} rows)"
            + (" [steal-flagged]" if bad else ""),
            file=sys.stderr,
        )

    # round-2 operator timings — separate section so the 15-entry
    # headline total stays comparable across rounds
    EXTRA = [
        "dedup_group_assignment",
        "kmeans_cluster_profile",
        "ann_ivf_recall_at_3",
        "text_tfidf_top_terms",
        "join_interval_binned_price_band",
        "embedding_quantize_int8_error",
        "curation_pipeline_docs",
        "sample_mixture_balanced",
        # round-3 operators
        "text_repetition_metrics",
        "contamination_ngram_overlap",
        "pack_sequences_stats",
        "pii_scrub_stats",
        "corpus_build_pipeline",
        # round-4 operators
        "sample_domain_quota",
        "dedup_keeper_by_quality",
        "dedup_chunk_boilerplate",
        "mapfile_range_scan",
        "bloommap_probe_batch",
        "setfile_dedup_ledger",
        "pq_encode_stats",
        "split_train_holdout",
        "ann_pq_adc_recall_at_3",
        "text_unigram_surprisal",
        "stats_join_key_skew",
        "dedup_semantic_semdedup",
        "ann_filtered_topk",
        "url_canonical_dedup",
        "text_pmi_collocations",
        "compact_small_files",
        "filter_length_percentile",
        "stream_minhash_band_dedup",
        "sample_weighted_quality",
        "sketch_count_min_heavy_hitters",
        "sketch_kmv_distinct_union",
        "scd2_dimension_merge",
        "layout_zorder_clustering",
        "chunk_sliding_windows",
        "bpe_train_merges",
        "graph_pagerank_suppliers",
        "dq_constraint_suite",
        "snapshot_diff_orders",
        "sketch_histogram_quantiles",
        "mv_incremental_maintenance",
        "sample_negatives_contrastive",
        "ann_ivf_index_persisted",
        "privacy_k_anonymity",
        "stats_correlation_matrix",
        "bpe_apply_compression",
        "dedup_minhash_band_pr",
        "funnel_conversion",
        "ann_matryoshka_recall_at_3",
        "curation_drop_waterfall",
        "timeseries_resample_ffill",
        "stream_chained_windowed_aggs",
        # round-5 operators
        "sketch_hll_distinct_merge",
        "text_bm25_search",
        "stats_outlier_zscore",
        "search_hybrid_rrf",
        "stream_hll_distinct_users",
        "text_bigram_lm_score",
        "text_char_entropy",
        "graph_copurchase_pairs",
        "graph_triangle_count",
        "pareto_frontier_quality_length",
        "stats_quantile_normalize",
        "graph_label_propagation",
        # round-6 operators
        "dedup_substring_spans",
        "stream_ttl_band_registry",
        "sketch_kmv_jaccard_intersect",
        "stats_outlier_mad",
        "join_bloom_prefiltered",
        "dedup_containment_excerpts",
        # round-6 operators (remainder — landed after the r6 bench froze)
        "link_fuzzy_customer_names",
        "scd2_point_in_time_join",
        "dedup_prefix_filter_join",
        "stats_psi_drift",
        "cohort_retention_weekly",
        "intervals_merge_coverage",
        "stats_markov_transitions",
        "stats_decayed_engagement",
        "events_trigram_mining",
        "timeseries_ewma_anomaly",
        "session_entry_exit_flows",
        # round-7 operators
        "abtest_cuped_adjusted",
        "embedding_centroid_drift",
        "abtest_bootstrap_ci",
        "dedup_cross_source_matrix",
        # round-8 operators
        "embedding_covariance_pca",
        "attribution_last_touch",
        "stream_attribution_last_touch",
        "feature_target_encoding_oof",
        "feature_woe_iv",
        "customer_rfm_segments",
        "abtest_srm_chisquare",
        "stats_winsorized_segment_spend",
        "stats_hhi_concentration",
        "stats_gini_brand_revenue",
        "timeseries_seasonal_dow_anomaly",
        "timeseries_autocorrelation",
        "text_zipf_fit",
        "stats_benford_first_digit",
        "sample_mixture_temperature",
        "ml_logreg_quality_train",
        "stats_ks_two_sample",
        "privacy_l_diversity",
        "graph_bfs_distances",
        "timeseries_cusum_changepoint",
        # round-10 operators
        "join_asof_forward_tolerance",
        "stream_stream_left_outer_unconverted",
        "stream_dedup_within_watermark",
        "sql_recursive_cte_calendar_gaps",
        "sql_lateral_topk_nations_per_region",
        "xml_write_read_roundtrip",
        "partition_overwrite_dynamic",
        "gdpr_forget_users",
        "ml_naive_bayes_lang_train",
        "feature_hashing_trick",
        # round-11 operators
        "text_gopher_quality_rules",
        "curation_ccnet_ppl_buckets",
        "layout_zorder_pruned_scan",
        "set_bag_ops_shipyear",
        "join_null_safe_priority",
        "map_higher_order_funcs",
        "sql_group_order_by_all",
        "ml_naive_bayes_score_confusion",
        "abtest_mann_whitney_u",
        "ml_logreg_calibration_bins",
        "agg_listagg_within_group",
        "scalar_try_functions",
        "ann_ivfpq_adc_recall_at_3",
        "udf_arrow_scalar_margin",
        "transform_fim_split",
        "pack_length_bucketing_waste",
        "corpus_build_pipeline_v2",
        "sample_hard_negatives_band",
        "multimodal_resize_checksum",
        "dq_quarantine_split_sink",
        "mapfile_get_closest_lookup",
        "stream_dq_quarantine_split",
        # round-12 operators
        "abtest_sequential_obf",
        "abtest_msprt_always_valid",
        "abtest_welch_ttest",
        "seqfile_sorter_merge_runs",
        "seqfile_binary_payload_roundtrip",
        "sample_dsir_importance",
        "agg_bitwise_checksum_bitmap",
        "sketch_kmv_jaccard_pair",
        "ml_conformal_interval_coverage",
        "privacy_dp_laplace_counts",
        "stats_chi_square_independence",
        "sample_neyman_allocation",
        "dq_volume_anomaly_daily",
        "abtest_experiment_readout_capstone",
        # round-13 operators
        "multimodal_pnm_real_decode",
        "abtest_bh_fdr_segments",
        "dedup_winnow_fingerprint_pairs",
        "search_mmr_rerank",
        # round-14 operators
        "multimodal_bmp_real_decode",
        "multimodal_wav_real_decode",
        "timeseries_downsample_ohlc",
        "timeseries_interpolate_linear",
    ]
    # local-iteration knob: the ~150-query extras section takes several
    # minutes at sf0.1; skip it when only the headline + format-layer
    # sections are being validated.  The driver never sets this, so
    # driver-recorded BENCH_r{N} runs always carry the full extras.
    if os.environ.get("SPARK_GRAFT_SKIP_EXTRAS"):
        EXTRA = []
    extra: dict[str, float] = {}
    for name in EXTRA:
        spec = QUERIES[name]
        # best-of-3 (r3+; r2 extras were single-run): the iterative
        # operators here (connected components, k-means training) run
        # dozens of distinct tiny stages per execution, so the JVM
        # needs 2-3 executions before C2 has compiled the hot generated
        # code — measured warmup curve 23s -> 8.7s -> 4s -> 2.7s
        # steady.  Per-round fixed cost like that is irrelevant at
        # 100 TB; steady state is the honest number.
        best, bad = timed_best(
            lambda spec=spec: spec.builder(spark, sf_dir).count(), n=3
        )
        extra[name] = round(best, 3)
        if bad:
            flagged.append(name)
        check_record(name, best, not bad)
        print(
            f"# extra {name}: {extra[name]:.2f}s ({timed_best.last} rows)"
            + (" [steal-flagged]" if bad else ""),
            file=sys.stderr,
        )

    # format-layer decode throughput (BASELINE.md protocol §1): scan the
    # seqfile copy of lineitem written by the roundtrip query above
    from pyspark.sql import functions as F

    from hadoop_formats_spark.queries.seqfile_q import _roundtrip_dir
    from hadoop_formats_spark.queries.registry import table

    seq_dir = _roundtrip_dir(
        spark,
        sf_dir,
        "lineitem_rf",
        lambda: table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("key"), F.col("l_returnflag").alias("value")
        ),
    )
    # best-of-2, consistent with the headline loop (r3+)
    decode_s, bad = timed_best(
        lambda: spark.read.format("hadoop_seq").load(seq_dir).count(), n=2
    )
    n_rows = timed_best.last
    if bad:
        flagged.append("seqfile_full_scan")
    timings["seqfile_full_scan"] = round(decode_s, 3)
    check_record("seqfile_full_scan", decode_s, not bad)

    # scaled format-layer scan (BASELINE.md §1 protocol: fixtures
    # rewritten at ~100×): one 10M-record Text→Int file, multi-split
    # parallel read through the datasource.  Built once, cached across
    # runs; NOT part of the headline total (kept comparable to r1/r2).
    scaled_path = _scaled_seq_file()
    # one untimed warm read first: the 64-split scan spins up the rest
    # of the python-worker pool (the headline warmup only touched a
    # 2-split file), a ~20 s one-time cost that is session setup, not
    # format-layer throughput.  NOT part of the headline total, so
    # cross-round comparability is unaffected.
    spark.read.format("hadoop_seq").load(scaled_path).count()
    scaled_s, bad = timed_best(
        lambda: spark.read.format("hadoop_seq").load(scaled_path).count(), n=2
    )
    n_scaled = timed_best.last
    if bad:
        flagged.append("seqfile_scaled_scan")
    check_record("seqfile_scaled_scan", scaled_s, not bad)

    # JVM ingest path on the SAME file (VERDICT r5 #4): Spark's Hadoop
    # InputFormat reader (sc.sequenceFile) decoding entirely JVM-side,
    # counted via the JavaRDD so no row crosses into Python.  The
    # writer's JVM interop makes this a drop-in bulk-ingest alternative
    # to the Python datasource; the recs/s ratio quantifies the
    # Arrow-ship + Python-worker tax for unpruned full scans and is
    # recorded in SCALE.md §ingest.
    # minSplits must match the session's parallelism: the PySpark
    # default is min(defaultParallelism, 2) — a 2-task scan would
    # measure 2 cores against the datasource's 17-32 splits (measured
    # sweep: 2 splits 4.1s, 8 → 2.8s, 32 → 2.0s, 64 → 2.5s).
    jvm_rdd = spark.sparkContext.sequenceFile(
        scaled_path, minSplits=spark.sparkContext.defaultParallelism
    )
    # _jrdd.count() counts pickle BATCHES, but it forces the full scan:
    # every record is Writable-deserialized and pyrolite-pickled JVM-
    # side, none ships to Python — the JVM-side ingest cost, isolated.
    jvm_rdd._jrdd.count()  # warm (input-format + codec init)
    jvm_s, bad = timed_best(lambda: jvm_rdd._jrdd.count(), n=2)
    if bad:
        flagged.append("seqfile_scaled_scan_jvm")
    check_record("seqfile_scaled_scan_jvm", jvm_s, not bad)

    # round-12 WRITE/SORT path (VERDICT r12 #5): SequenceFile.Sorter
    # parity, perf-tracked round-over-round like the read paths.  COLD
    # = evict the sorter's two cache dirs and run the graded query once
    # end-to-end (8 unsorted seqfile shard writes + range-shuffle sort
    # + order-validated MapFile-run write + read-back aggregation);
    # WARM = the steady-state read-back.  Its own summary field — NOT
    # in the headline total, which stays comparable to r1/r2.
    import shutil as _sh

    from hadoop_formats_spark.cachedir import cache_path, sf_key

    for d in ("orders_sorter_merge", "orders_unsorted_shards"):
        _sh.rmtree(cache_path("seq_cache", sf_key(sf_dir), d), ignore_errors=True)
    _sorter = QUERIES["seqfile_sorter_merge_runs"]
    sorter_build_s, bad_build = timed_best(
        lambda: _sorter.builder(spark, sf_dir).count(), n=1, max_extra=0
    )  # n=1: the cold build is one-shot by construction (cache publish)
    sorter_read_s, bad_read = timed_best(
        lambda: _sorter.builder(spark, sf_dir).count(), n=2
    )
    # flag names match heal_runs keys (ADVICE r14): the warm read-back
    # flags under "seqfile_sorter_read" so the heal pass can re-sample
    # and clear it; the one-shot cold build flags under its own name
    # and is deliberately absent from heal_runs (re-building is a
    # different measurement, not a re-sample).
    if bad_build:
        flagged.append("seqfile_sorter_build")
    if bad_read:
        flagged.append("seqfile_sorter_read")
    check_record("seqfile_sorter_build", sorter_build_s, not bad_build)
    check_record("seqfile_sorter_read", sorter_read_s, not bad_read)
    print(
        f"# seqfile_sorter_merge: build {sorter_build_s:.2f}s, "
        f"read {sorter_read_s:.2f}s",
        file=sys.stderr,
    )

    # ---- self-healing re-measure (VERDICT r13 #2) ----
    # A steal/record-flagged timing is an upper bound taken inside a
    # polluted host window (r13's driver artifact recorded 21.3s while
    # the same head ran 12.8s clean); by the END of the battery that
    # window has usually passed.  Re-measure every flagged query (up to
    # 2 passes, one clean sample each) and keep the best clean sample,
    # so the official artifact records the code, not the co-tenant.
    # The JSON carries BOTH: value/queries self-healed, value_raw +
    # steal_flagged_raw the untouched first pass.  The one-shot sorter
    # COLD build is excluded (healing it would evict + rebuild the
    # cache — a different measurement, not a re-sample).
    raw_timings = dict(timings)
    raw_flagged = list(dict.fromkeys(flagged))
    heal_runs: dict = dict(headline_runs)
    for _n in EXTRA:
        heal_runs[_n] = lambda spec=QUERIES[_n]: spec.builder(
            spark, sf_dir
        ).count()
    heal_runs["seqfile_full_scan"] = (
        lambda: spark.read.format("hadoop_seq").load(seq_dir).count()
    )
    heal_runs["seqfile_scaled_scan"] = (
        lambda: spark.read.format("hadoop_seq").load(scaled_path).count()
    )
    heal_runs["seqfile_scaled_scan_jvm"] = lambda: jvm_rdd._jrdd.count()
    # the sorter WARM read-back is re-sampleable (the cached runs are
    # already built); only the one-shot COLD build stays excluded
    heal_runs["seqfile_sorter_read"] = lambda: _sorter.builder(
        spark, sf_dir
    ).count()
    healed: dict[str, float] = {}
    for _pass in range(2):
        # "n not in healed" caps each query at ONE clean heal sample
        # per run (ADVICE r14): a genuinely-regressed query (clean
        # sample still over the bar) stays record_flagged but must not
        # be re-measured on pass 2 — a second same-run append would
        # accelerate the rolling median toward the regressed value and
        # weaken the detector.  Pass 2 only retries names whose pass-1
        # sample was itself steal-polluted.
        todo = [
            n
            for n in dict.fromkeys(flagged + record_flagged)
            if n in heal_runs and n not in healed
        ]
        if not todo:
            break
        for name in todo:
            best, bad = timed_best(heal_runs[name], n=1)
            if bad:
                continue  # window still polluted — next pass
            healed[name] = round(best, 3)
            if name == "seqfile_full_scan":
                decode_s = min(decode_s, best)  # feeds decode recs/s
            if name in timings:
                timings[name] = round(min(timings[name], best), 3)
            elif name in extra:
                extra[name] = round(min(extra[name], best), 3)
            elif name == "seqfile_scaled_scan":
                scaled_s = min(scaled_s, best)
            elif name == "seqfile_scaled_scan_jvm":
                jvm_s = min(jvm_s, best)
            elif name == "seqfile_sorter_read":
                sorter_read_s = min(sorter_read_s, best)
            while name in flagged:
                flagged.remove(name)
            # the clean sample enters the rolling record; the record
            # flag drops unless the clean value STILL exceeds the bar
            # (then it is a genuine regression, not noise)
            hist = record.get(name) or []
            hist = hist if isinstance(hist, list) else [hist]
            bar = sorted(hist)[len(hist) // 2] if hist else None
            record[name] = (hist + [round(best, 3)])[-RECORD_WINDOW:]
            if name in record_flagged and (
                bar is None or best <= bar * RECORD_LIMIT
            ):
                record_flagged.remove(name)
            print(
                f"# healed {name}: {best:.2f}s (pass {_pass + 1})",
                file=sys.stderr,
            )

    # persist the rolling clean record (best-effort; never fail a run)
    try:
        tmp = RECORD_PATH + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(record_all, fh, indent=1, sort_keys=True)
        os.replace(tmp, RECORD_PATH)
    except Exception:
        pass

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # first-pass headline before the self-healing re-measure of
        # flagged queries (value == value_raw on a quiet run); healed
        # maps each re-measured query to its clean end-of-battery
        # sample.  Flag lists below are POST-heal: a surviving flag
        # means no clean sample was obtainable in 3 windows (or, for
        # record_flagged, a clean sample still over the bar — a real
        # regression).
        "value_raw": round(sum(raw_timings.values()), 3),
        "steal_flagged_raw": raw_flagged,
        "healed": healed,
        "seqfile_decode_recs_per_sec": round(n_rows / decode_s),
        "seqfile_scaled_scan": {
            "records": n_scaled,
            "sec": round(scaled_s, 3),
            "recs_per_sec": round(n_scaled / scaled_s),
        },
        # same file through Spark's JVM Hadoop reader (no Python row
        # transfer): the bulk-ingest alternative path; ratio = Python
        # datasource tax for unpruned full scans (SCALE.md §ingest)
        "seqfile_scaled_scan_jvm": {
            "sec": round(jvm_s, 3),
            "recs_per_sec": round(n_scaled / jvm_s),
            "speedup_vs_python_ds": round(scaled_s / jvm_s, 2),
        },
        # write/sort path (Sorter parity): cold end-to-end build
        # (shard writes + range sort + validated MapFile-run write)
        # vs warm read-back; not in the headline total
        "seqfile_sorter_merge": {
            "build_sec": round(sorter_build_s, 3),
            "read_sec": round(sorter_read_s, 3),
        },
        # queries whose every timing sample was polluted — hypervisor
        # steal >3% of the interval OR the CPU calibration probe >30%
        # over its session-best (ambient contention steal can't see):
        # values are upper bounds
        "steal_flagged": flagged,
        # queries whose best-of-run exceeds the rolling clean record on
        # this box by >35% — slow-but-steady ambient noise the other two
        # detectors miss (VERDICT r4 let a ~35%-inflated run through)
        "record_flagged": record_flagged,
        # session-best runtime of the ~40ms single-thread CPU probe:
        # compare across runs to normalize for ambient slowdown
        "cal_ms": round(getattr(timed_best, "cal_best", 0.0) * 1000, 1),
        # fixed 32-way JVM reduction, min of start/end runs: inflates
        # with ambient parallel-throughput loss that neither steal nor
        # the single-thread probe sees — divide headline values by
        # (par_cal_s / quiet-box par_cal_s) to compare runs fairly
        "par_cal_s": round(min(par_cal_start, _par_cal()), 3),
        # full payload incl. the ~55-query extras section — kept OUT of
        # this line: the grading driver retains only the last 2000
        # chars of stdout, and r4's extras pushed the line past that,
        # truncating its head and making it unparseable (parsed: null)
        "extras_file": "BENCH_extras_local.json",
    }
    full = dict(summary)
    full["extra_queries"] = extra
    full["queries_raw"] = raw_timings
    try:
        with open(os.path.join(REPO, "BENCH_extras_local.json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except Exception:
        pass
    print(f"# extra_queries total: {round(sum(extra.values()), 3)}s", file=sys.stderr)
    line = json.dumps(summary)
    if len(line) > 1900:  # stay inside the driver's 2000-char tail
        for k in ("record_flagged", "steal_flagged", "steal_flagged_raw", "healed"):
            if len(line) > 1900:
                summary[k] = f"{len(summary[k])} entries (see extras_file)"
                line = json.dumps(summary)
    print(line, flush=True)


if __name__ == "__main__":
    main()
