"""Strict DuckDB-oracle sweep at the sf1 decade step (round-15 protocol).

Runs ``tools/check_correctness.py`` (strict hash) over the scale-sensitive
query set against the builder-side sf1 data (``tools/gen_sf1.py`` →
``.scale/sf1``), in FRESH subprocess batches: one 8 GB local[32] JVM
accumulating ~20 sf1 queries OOMs, so each batch gets its own process
with ``SPARK_GRAFT_DRIVER_MEM`` (default 32g).  This is the evidence
class VERDICT r14 asked for — correctness, not just timing, one decade
above the graded SFs — and its first run caught 7 real cross-engine
hazards (SCALE.md round-15).

The set = the SCALE.md >3×-step queries + the IVF/LSH/GEMM family +
both time-series rows + every row whose oracle folds money + the
round-15 real-decode additions, widened in round 16 with the next
tranche of float-fold / round-boundary oracles (all 7 r15 hazards were
in that class): the remaining money-folding TPC-H shapes, the stats
money rows, the UDF folds, and the two rows whose oracles were
rewritten to be sf1-capable (``pareto_frontier_quality_length``'s
skyline oracle is now the same O(n log n) sort-based form as the
engine; ``dedup_ngram_jaccard``'s corpus is hash-rank-capped to 5000
docs — a no-op at graded SFs).

Usage: python tools/sweep_sf1.py [--out SWEEP.txt]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(REPO, ".scale", "sf1")

# fresh-JVM batches of <= 7 (memory headroom + blast-radius isolation:
# one OOM or regression kills its batch, not the sweep)
BATCHES = [
    # format/tpch/joins/windows
    ["q1_pricing_summary", "join_5way_region_rollup_revenue",
     "join_6way_supplier_nation_revenue", "join_asof_purchase_last_click",
     "grouping_sets_time_rollup", "window_topk_orders_per_customer",
     "sort_topk_revenue_parts"],
    # dedup family (ngram_jaccard's DuckDB oracle dominates: ~20 min
    # on the tiny-vocab sf1 corpus — the engine side is seconds)
    ["dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
     "dedup_prefix_filter_join"],
    ["dedup_embedding_cosine", "dedup_embedding_lsh_gemm",
     "dedup_semantic_semdedup", "stats_selfjoin_blowup_estimate"],
    # ANN family
    ["ann_brute_force_topk", "ann_ivf_topk", "ann_ivf_nprobe2_topk"],
    # time-series + text + money-fold sentinels
    ["timeseries_downsample_ohlc", "timeseries_interpolate_linear",
     "text_quality_score", "sample_weighted_quality", "agg_having"],
    ["udf_pandas_scalar_charge", "window_range_frame_spend",
     "seqfile_roundtrip_double_sum", "parquet_partitioned_pruned_read",
     "q11_important_stock", "q14_promo_revenue", "q15_top_supplier"],
    # streaming + real decode
    ["stream_tumbling_hourly_counts", "stream_ohlc_candles",
     "stream_sliding_window_counts", "multimodal_png_real_decode",
     "multimodal_tiff_real_decode", "multimodal_bmp_real_decode",
     "multimodal_wav_real_decode"],
    # --- round-16 tranche: float-fold / round-boundary oracles ---
    # the remaining money-folding TPC-H shapes
    ["q3_shipping_priority", "q5_local_supplier_volume",
     "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
     "q9_product_type_profit", "q10_returned_items"],
    ["q17_small_quantity_revenue", "q19_discounted_revenue",
     "q22_global_sales_opportunity", "q11_important_stock",
     "join_left_outer_customer_orders", "join_interval_binned_price_band",
     "sql_entry_revenue_by_segment"],
    # window/UDF/stats folds over money or scores
    ["window_running_and_frame", "udf_pandas_grouped_weighted_avg",
     "udf_arrow_scalar_margin", "stats_winsorized_segment_spend",
     "stats_hhi_concentration", "stats_gini_brand_revenue",
     "stats_decayed_engagement"],
    ["customer_rfm_segments", "mv_incremental_maintenance",
     "curation_drop_waterfall", "sketch_kmv_jaccard_intersect",
     "sql_group_order_by_all", "seqfile_sorter_merge_runs"],
    # text folds + the two newly sf1-capable oracle rewrites
    ["text_bigram_lm_score", "text_repetition_metrics",
     "pareto_frontier_quality_length", "kmeans_cluster_profile"],
    # --- round-17 tranche (VERDICT r16 #8): rows whose code changed in
    # r16/r17 and whose oracles are sf1-tractable — the bucketed
    # stateful op, the conformal collect merge, the xxhash bloom probe,
    # the new scan canary, the r16 array-percentile sites, and the
    # r16 finalizing-batch opt-in streaming rows.  (group_assignment /
    # keeper / bfs changed too, but their oracles are the UNCAPPED
    # quadratic shingle CTE / recursive closure — intractable in DuckDB
    # at sf1; their sf1 evidence is the engine-side completion runs
    # recorded in OPTIMIZATION_r17.md.)
    ["stream_stateful_user_stats", "ml_conformal_interval_coverage",
     "join_bloom_prefiltered", "scan_shingle_checksum_canary",
     "feature_woe_iv", "filter_length_percentile",
     "agg_exact_percentiles"],
    ["stream_ttl_band_registry", "stream_attribution_last_touch",
     "stream_dedup_within_watermark",
     "stream_stream_join_click_to_purchase",
     "stream_minhash_band_dedup", "seqfile_stream_source_counts"],
    ["link_fuzzy_customer_names", "dedup_cross_source_matrix",
     "curation_ccnet_ppl_buckets"],
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="also append output here")
    ap.add_argument("--mem", default=os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "32g"))
    args = ap.parse_args()

    if not os.path.isdir(SF1):
        print(f"sf1 data missing at {SF1}; run tools/gen_sf1.py first",
              file=sys.stderr)
        return 2

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=args.mem)
    ok = fail = 0
    lines: list[str] = []
    for batch in BATCHES:
        cmd = [sys.executable, os.path.join(REPO, "tools",
                                            "check_correctness.py"),
               SF1, *batch]
        p = subprocess.run(cmd, env=env, capture_output=True, text=True)
        got = 0
        for line in p.stdout.splitlines():
            if line.startswith(("ok ", "FAIL", "rows ")):
                print(line)
                lines.append(line)
                ok += line.startswith("ok")
                fail += line.startswith("FAIL")
                got += 1
        # a crashed batch (OOM, import error) emits no per-query lines
        # and must NOT read as clean (ADVICE r15): count every query
        # the batch failed to report as a FAIL and surface stderr
        if p.returncode != 0 or got < len(batch):
            missing = len(batch) - got
            if missing > 0:
                fail += missing
                line = (
                    f"FAIL batch rc={p.returncode} reported {got}/"
                    f"{len(batch)}: {' '.join(batch)}"
                )
                print(line)
                lines.append(line)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-2000:] + "\n")
        sys.stdout.flush()
    summary = f"\n{ok} ok, {fail} FAIL at sf1"
    print(summary)
    if args.out:
        with open(args.out, "a") as fh:
            fh.write("\n".join(lines) + summary + "\n")
    return 1 if fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
