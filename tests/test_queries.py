"""Query-layer tests: registry integrity, DuckDB-oracle spot checks at
sf0.001 (the driver runs the full set at sf0.01), and physical-plan
quality assertions (broadcasts, pushdown, partial aggregation)."""

from __future__ import annotations

import math

import pytest

from hadoop_formats_spark.queries import QUERIES, oracle_sql_map, query_map


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------------------
# registry integrity
# ---------------------------------------------------------------------------


def test_registry_every_oracle_has_query():
    assert set(oracle_sql_map()) <= set(query_map())


def test_registry_size_and_docs():
    assert len(QUERIES) >= 50
    for name, spec in QUERIES.items():
        assert spec.doc, f"{name} lacks a doc string"


def test_rows_only_queries_are_the_documented_ones():
    # Every registered query is oracle-backed since r12:
    # approx_distinct_quantiles (the last rows-only row) now emits the
    # exact values plus within-documented-error booleans, so its oracle
    # checks the exact side and the error bound while the approx values
    # themselves stay out of the hash (SURVEY §2.2).
    rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    assert rows_only == set()


# ---------------------------------------------------------------------------
# oracle spot checks at sf0.001 (fast subset, one per category)
# ---------------------------------------------------------------------------

# every query with an oracle: the driver's CORRECTNESS window only
# covers the first 50 registry entries, so this list is what guarantees
# the tail stays correct.
SPOT = sorted(n for n, s in QUERIES.items() if s.oracle is not None)


@pytest.mark.parametrize("name", SPOT)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = QUERIES[name]
    sdf = spec.builder(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(spec.oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} != {len(drows)}"
    assert _rowset(sdf.columns, srows) == _rowset(dcols, drows), name


# ---------------------------------------------------------------------------
# physical plan quality (the 100 TB story: broadcasts, pushdown, partial agg)
# ---------------------------------------------------------------------------


from hadoop_formats_spark import plans


def _df(spark, sf_dir, name):
    return QUERIES[name].builder(spark, sf_dir)


def test_5way_join_broadcasts_dims(spark, sf_dir):
    assert plans.has_broadcast_join(_df(spark, sf_dir, "join_5way_region_rollup_revenue"))


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    scans = plans.parquet_scans(_df(spark, sf_dir, "filter_predicates"))
    assert scans and scans[0].pushed_filters
    assert "o_comment" not in scans[0].read_columns


def test_q1_uses_partial_aggregation(spark, sf_dir):
    assert plans.has_partial_aggregation(_df(spark, sf_dir, "q1_pricing_summary"))


def test_q1_prunes_unused_columns_and_pushes_date_filter(spark, sf_dir):
    scans = plans.parquet_scans(_df(spark, sf_dir, "q1_pricing_summary"))
    assert scans and scans[0].pushed_filters
    assert set(scans[0].read_columns) <= {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_q1_single_shuffle(spark, sf_dir):
    # one exchange for the groupBy, one for the tiny final orderBy
    assert plans.shuffle_count(_df(spark, sf_dir, "q1_pricing_summary")) <= 2


def test_shuffle_count_is_the_same_after_execution(spark):
    # after collect() AQE prints its initial plan beside the final one;
    # only the final plan is counted
    from pyspark.sql import functions as F

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().orderBy("k")
    before = plans.shuffle_count(df), plans.broadcast_count(df)
    df.collect()
    assert "Initial Plan" not in plans.executed_plan(df)
    assert (plans.shuffle_count(df), plans.broadcast_count(df)) == before == (2, 0)


def test_topk_plans_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in plans.executed_plan(
        _df(spark, sf_dir, "sort_topk_revenue_parts")
    )


def test_partition_pruning_scans_one_directory(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    out = str(tmp_path / "by_flag")
    li.write.partitionBy("l_returnflag").parquet(out)
    pruned = spark.read.parquet(out).filter("l_returnflag = 'R'")
    plan = plans.executed_plan(pruned.groupBy().count())
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan or (
        "PartitionFilters: [" in plan and "l_returnflag" in plan.split("PartitionFilters:")[1][:120]
    )


def test_tpch_q5_broadcasts_dims(spark, sf_dir):
    assert plans.has_broadcast_join(_df(spark, sf_dir, "q5_local_supplier_volume"))


def test_tpch_q9_partial_aggregation(spark, sf_dir):
    assert plans.has_partial_aggregation(_df(spark, sf_dir, "q9_product_type_profit"))


def test_curation_pipeline_bounded_shuffles(spark, sf_dir):
    # fingerprint-window shuffle + slice-count aggregate + final orderBy
    assert plans.shuffle_count(_df(spark, sf_dir, "curation_pipeline_docs")) <= 3


def test_hash_sample_is_map_only_before_agg(spark, sf_dir):
    # deterministic md5-threshold sampling must not add a shuffle beyond
    # the aggregate + orderBy pair
    assert plans.shuffle_count(_df(spark, sf_dir, "sample_hash_deterministic")) <= 2


def test_minhash_signature_aggregates_partially(spark, sf_dir):
    # the explode+min-agg signature stage must partial-aggregate
    # map-side (HashAggregate pairs) rather than shuffling raw
    # (doc, shingle-hash) rows
    from hadoop_formats_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8, shingle_n=3)
    assert plans.has_partial_aggregation(sigs)


def test_binned_interval_join_avoids_nested_loop(spark, sf_dir):
    # the naive BETWEEN-only join plans BroadcastNestedLoopJoin; the
    # binned rewrite must hash/sort-merge on the bin key instead
    df = _df(spark, sf_dir, "join_interval_binned_price_band")
    plan = plans.executed_plan(df)
    assert "NestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_binned_interval_join_equals_naive(spark, sf_dir):
    from hadoop_formats_spark.operators.ranges import binned_interval_join
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey",
        (F.col("p_retailprice") - 5).alias("lo"),
        (F.col("p_retailprice") + 5).alias("hi"),
    )
    binned = binned_interval_join(
        li, p, "l_extendedprice", "lo", "hi", bin_width=10.0
    )
    naive = li.join(
        p,
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") <= F.col("hi")),
    )
    key = lambda df: sorted(
        (r["l_orderkey"], r["p_partkey"]) for r in df.collect()
    )
    assert key(binned) == key(naive)


def test_contamination_broadcasts_bench_shingles(spark, sf_dir):
    # the train corpus must never shuffle: the benchmark shingle set is
    # the broadcast side of the inverted-index join
    from hadoop_formats_spark import plans

    assert plans.has_broadcast_join(
        _df(spark, sf_dir, "contamination_ngram_overlap")
    )


def test_pii_scrub_is_map_only(spark, sf_dir):
    # counts + redaction are pure projections over the scan: the only
    # exchange is the final global orderBy
    from hadoop_formats_spark import plans

    assert (
        plans.shuffle_count(_df(spark, sf_dir, "pii_scrub_stats")) <= 1
    )


def test_pack_sequences_single_shuffle_per_window(spark, sf_dir):
    # one hash exchange on (lang, shard) feeds both the window and the
    # bin aggregation — the partitioning is reused, not re-shuffled
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.packing import pack_sequences, pack_stats

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_sequences(d, budget=256, part_cols=("lang",), n_shards=8)
    stats = pack_stats(packed, budget=256, part_cols=("lang",))
    assert plans.shuffle_count(stats) == 1


def test_repetition_metrics_aggregates_partially(spark, sf_dir):
    from hadoop_formats_spark import plans

    assert plans.has_partial_aggregation(
        _df(spark, sf_dir, "text_repetition_metrics")
    )


def test_random_projection_is_map_only(spark, sf_dir):
    # the projection itself must be a pure projection over the scan:
    # no exchange anywhere in its plan
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.similarity import random_projection

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert plans.shuffle_count(random_projection(e, out_dim=16, dim=64)) == 0


def test_token_budget_sampling_single_shuffle_per_window(spark, sf_dir):
    # one (lang, shard) exchange feeds the admission window; only the
    # final per-lang aggregation adds exchanges beyond it
    from hadoop_formats_spark import plans

    assert plans.shuffle_count(_df(spark, sf_dir, "sample_token_budget")) <= 3


def test_domain_quota_naive_plan_group_limit(spark, sf_dir):
    # the default path relies on Catalyst's rank-limit pushdown: a
    # PARTIAL WindowGroupLimit below the exchange means each input
    # partition keeps only a top-quota heap per domain — a hot domain
    # is never sorted or shuffled in full.  One exchange total.
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.quota import domain_quota

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = domain_quota(d, quota=15)
    plan = plans.executed_plan(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert plans.shuffle_count(df) == 1


def test_domain_quota_two_phase_plan_shape(spark, sf_dir):
    # the explicit two-phase path (for weighted-quota shapes where
    # rank-limit pushdown can't apply) must broadcast the tiny
    # per-domain threshold / guard tables rather than shuffling the
    # corpus against them
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.quota import domain_quota

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = domain_quota(d, quota=15, prefilter_safety=4.0)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # threshold join + guard joins
    # exchanges here are all domain-cardinality-sized (counts / guard
    # aggregations), never a second shuffle of the corpus itself
    assert plans.shuffle_count(df) <= 16


def test_gemm_projection_is_map_only(spark, sf_dir):
    from hadoop_formats_spark import plans
    from hadoop_formats_spark.operators.similarity import random_projection

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert (
        plans.shuffle_count(
            random_projection(e, out_dim=16, dim=64, method="gemm")
        )
        == 0
    )


def test_chunk_dedup_partial_aggregation_and_bounded_shuffles(spark, sf_dir):
    # doc-frequency counting must partial-aggregate map-side (a
    # degenerate everywhere-span costs one bounded reduce key, never a
    # pair blow-up), and the whole plan is span-df groupBy + span-key
    # join + doc-keyed reassembly + final orderBy — no hidden exchanges
    from hadoop_formats_spark import plans

    df = _df(spark, sf_dir, "dedup_chunk_boilerplate")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 5


def test_split_train_holdout_plan_is_map_then_one_agg(spark, sf_dir):
    # split assignment must be map-side (no pre-agg shuffle); budget =
    # one exchange for the 2-group aggregate + one for the tiny sort
    df = _df(spark, sf_dir, "split_train_holdout")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 3  # agg + countDistinct expand + sort


def test_stats_skew_profile_aggregates_partially(spark, sf_dir):
    df = _df(spark, sf_dir, "stats_join_key_skew")
    assert plans.has_partial_aggregation(df)
    # freq groupBy + scalar profile + top-5 + tiny cross join/sort —
    # the per-key frequency table itself must not be collected
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_filtered_ann_pushes_label_predicate_to_scan(spark, sf_dir):
    """Pre-filter ANN: the label predicate must reach the corpus
    parquet scan (pushed filter), so ineligible vectors never enter
    the GEMM scan."""
    scans = plans.parquet_scans(_df(spark, sf_dir, "ann_filtered_topk"))
    assert scans and any(s.pushed_filters for s in scans)


def test_semdedup_bounded_shuffles(spark, sf_dir):
    """SemDeDup's plan: centroid assignment is map-side (broadcast
    centroids), so the only data shuffles are the within-cluster
    cogroup (both sides), the removed-set distinct, the rejoin, and
    the final per-cluster aggregate — a constant count independent of
    corpus size."""
    assert plans.shuffle_count(_df(spark, sf_dir, "dedup_semantic_semdedup")) <= 8


def test_kmv_sketch_plan_group_limit_and_partial_distinct(spark, sf_dir):
    """KMV build shape: the distinct step partial-aggregates map-side
    and the per-group top-k executes as a WindowGroupLimit (map-side
    k-heap), so each task forwards <= k rows per group — the property
    that keeps the sketch a few KB at 100 TB."""
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators import sketch as SK
    from hadoop_formats_spark.queries.registry import table

    li = table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_returnflag").alias("rf"),
        SK.kmv_hash(F.col("l_partkey").cast("string")).alias("h"),
    )
    sk = SK.kmv_sketch(items, group_col="rf")
    plan = plans.executed_plan(sk)
    assert "WindowGroupLimit" in plan
    assert plans.has_partial_aggregation(sk)


def test_dq_suite_bounded_scans(spark, sf_dir):
    """The Deequ-style suite must not scan once per constraint: all
    row-level metrics share ONE aggregation scan; the referential
    check adds one more lineitem scan plus the orders side."""
    plan = plans.executed_plan(_df(spark, sf_dir, "dq_constraint_suite"))
    assert plan.count("FileScan parquet") <= 3
    assert plans.has_partial_aggregation(
        _df(spark, sf_dir, "dq_constraint_suite")
    )


def test_correlation_matrix_single_scan(spark, sf_dir):
    """All four corr() accumulators share a single lineitem scan."""
    df = _df(spark, sf_dir, "stats_correlation_matrix")
    plan = plans.executed_plan(df)
    assert plan.count("FileScan parquet") == 1
    assert plans.has_partial_aggregation(df)


def test_hll_sketch_partial_aggregation_and_bounded_rows(spark, sf_dir):
    """HLL register build must partial-aggregate map-side (each task
    emits <= 2^p rows per group, the property that keeps the sketch a
    few KB at 100 TB)."""
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators import sketch as SK
    from hadoop_formats_spark.queries.registry import table

    li = table(spark, sf_dir, "lineitem")
    sk = SK.hll_sketch(
        li.select(
            F.col("l_returnflag").alias("grp"),
            F.col("l_orderkey").alias("item"),
        )
    )
    assert plans.has_partial_aggregation(sk)


def test_bm25_topk_take_ordered_and_partial_agg(spark, sf_dir):
    """BM25 final top-k must plan as TakeOrderedAndProject (per-
    partition heaps, no global sort of the scored set) and the df/tf
    aggregations must partial-aggregate."""
    df = _df(spark, sf_dir, "text_bm25_search")
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.has_partial_aggregation(df)


def test_outlier_zscore_broadcasts_stats(spark, sf_dir):
    """The 5-row group-stats table must broadcast back onto the event
    stream — the row side never shuffles."""
    df = _df(spark, sf_dir, "stats_outlier_zscore")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)


def test_copurchase_take_ordered_and_partial_agg(spark, sf_dir):
    """Market-basket top-20 must plan TakeOrderedAndProject; supports
    and item counts partial-aggregate."""
    df = _df(spark, sf_dir, "graph_copurchase_pairs")
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert plans.has_partial_aggregation(df)


def test_bigram_lm_no_positional_self_join(spark, sf_dir):
    """Bigrams are built map-side via zip_with over array slices — the
    plan must not contain a join keyed on token position (the counts
    joins are token-keyed; there are exactly the 3 expected joins:
    bigram-count, unigram-count, broadcast V)."""
    df = _df(spark, sf_dir, "text_bigram_lm_score")
    plan = plans.executed_plan(df)
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert n_joins <= 4, plan[:500]
    assert plans.has_partial_aggregation(df)


def test_substring_spans_partial_agg_and_bounded_shuffles(spark, sf_dir):
    # span doc-frequency must partial-aggregate map-side (a ubiquitous
    # boilerplate span is one bounded reduce key); plan = span-hash
    # groupBy + 1:1 join back + per-doc agg + lang join/agg + sort —
    # no hidden exchanges beyond those
    df = _df(spark, sf_dir, "dedup_substring_spans")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 7


def test_mad_outliers_broadcast_stats_and_partial_agg(spark, sf_dir):
    # both per-group stats tables must come back as BROADCAST joins
    # (row data never shuffles for the stats), and every grouped pass
    # partial-aggregates
    df = _df(spark, sf_dir, "stats_outlier_mad")
    assert plans.has_partial_aggregation(df)
    assert plans.has_broadcast_join(df)


def test_kmv_jaccard_touches_only_sketch_rows(spark, sf_dir):
    # the membership joins run over the <=k-row sketches; the join back
    # to the corpus does not exist — assert no corpus-sized sort and
    # partial aggregation on the distinct passes
    df = _df(spark, sf_dir, "sketch_kmv_jaccard_intersect")
    assert plans.has_partial_aggregation(df)


def test_bloom_join_broadcasts_bitmap_and_partial_aggs(spark, sf_dir):
    # the 1-row bitmap must broadcast (the prune adds no shuffle) and
    # the bit_or build + final agg must partial-aggregate
    df = _df(spark, sf_dir, "join_bloom_prefiltered")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    # the probe prune itself must add NO shuffle: budget = bitmap
    # build agg (1) + its word groupBy (1) + final agg (1) + sort (1)
    assert plans.shuffle_count(df) <= 4


def test_containment_partial_agg_no_cross_join(spark, sf_dir):
    # pair generation must come from the shingle inverted index (no
    # CartesianProduct / BroadcastNestedLoopJoin anywhere), with
    # partial aggregation on the pair and size groupBys
    df = _df(spark, sf_dir, "dedup_containment_excerpts")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_fuzzy_linkage_blocked_join_and_group_limit(spark, sf_dir):
    # candidate generation must be the blocking EQUI-join (never a
    # cross product scored row-by-row), and best-match-per-entity must
    # plan as WindowGroupLimit (map-side top-1 before the shuffle)
    df = _df(spark, sf_dir, "link_fuzzy_customer_names")
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p
    assert plans.has_partial_aggregation(df)


def test_point_in_time_join_no_range_join(spark, sf_dir):
    # the temporal join must be the as-of window rewrite — never the
    # definitional interval join (which plans BroadcastNestedLoopJoin)
    df = _df(spark, sf_dir, "scd2_point_in_time_join")
    p = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # budget: dim change-detect window + enrich window (both keyed on
    # user_id) + final agg + sort
    assert plans.shuffle_count(df) <= 4
    assert plans.has_partial_aggregation(df)


def test_psi_drift_rows_never_shuffle_for_binning(spark, sf_dir):
    # bounds come back as a 1-row broadcast; the only row-data shuffle
    # is the (bin) partial agg — window math runs on the 10-row table
    df = _df(spark, sf_dir, "stats_psi_drift")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 5
    rows = df.collect()
    assert [r["bin"] for r in rows] == list(range(10))
    assert len({r["psi_total"] for r in rows}) == 1  # one global PSI


def test_cohort_retention_broadcasts_sizes(spark, sf_dir):
    df = _df(spark, sf_dir, "cohort_retention_weekly")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    rows = df.collect()
    # offset-0 retention is 1.0 by construction (first week = active)
    assert all(
        r["retention"] == 1.0 for r in rows if r["week_offset"] == 0
    )


def test_intervals_merge_single_user_shuffle(spark, sf_dir):
    # both windows + both groupBys key on user_id: one data shuffle
    # (plus the final presentation sort)
    df = _df(spark, sf_dir, "intervals_merge_coverage")
    assert plans.shuffle_count(df) <= 3
    rows = df.collect()
    # covered time can never exceed islands * interval ... actually
    # each island covers >= 300s (one event) so cov >= n_islands * 300
    assert all(r["covered_seconds"] >= r["n_islands"] * 300 for r in rows)


def test_markov_transitions_single_data_shuffle(spark, sf_dir):
    # lag window keys on user_id; the pair agg partial-aggregates; the
    # probability window runs on the |types|^2 table
    df = _df(spark, sf_dir, "stats_markov_transitions")
    assert plans.has_partial_aggregation(df)
    rows = df.collect()
    import collections

    by_prev = collections.defaultdict(float)
    for r in rows:
        by_prev[r["prev_type"]] += r["prob"]
    # each row of the transition matrix sums to ~1 (rounding slack)
    assert all(abs(v - 1.0) < 0.01 for v in by_prev.values())


def test_decayed_engagement_topk_plan(spark, sf_dir):
    from hadoop_formats_spark import plans as P

    df = _df(spark, sf_dir, "stats_decayed_engagement")
    p = P.executed_plan(df)
    assert "TakeOrderedAndProject" in p
    assert P.has_partial_aggregation(df)
    rows = df.collect()
    # sf0.001 has only 15 users; the limit caps at 20
    assert 0 < len(rows) <= 20
    assert all(r["decayed_score"] >= 0 for r in rows)
    scores = [r["decayed_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_trigram_mining_no_self_join(spark, sf_dir):
    from hadoop_formats_spark import plans as P

    df = _df(spark, sf_dir, "events_trigram_mining")
    p = P.executed_plan(df)
    # trigrams must come from lags in ONE window, never positional joins
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert P.has_partial_aggregation(df)


def test_ewma_anomaly_known_series(spark):
    """Hand-checked recurrence: series 10,10,10,100,10 with alpha=0.3
    flags exactly the 100 spike (100 > 2*10) and ends at the recurrence
    value; the grouped-map sees the REDUCED hourly series, not raw rows."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    counts = [10, 10, 10, 100, 10]
    eid = 0
    for hr, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(hours=hr), 1, "x", 0.0, ""))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        # registry table() routes events through the ts-cast cache; the
        # builder only needs the sf_dir layout
        out = QUERIES["timeseries_ewma_anomaly"].builder(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hours"] == 5 and r["n_anomalies"] == 1
    # recurrence: 10 -> 10 -> 10 -> 0.3*100+0.7*10=37 -> 0.3*10+0.7*37=28.9
    assert abs(r["ewma_final"] - 28.9) < 1e-9


def test_session_flows_single_user_shuffle(spark, sf_dir):
    # the (user_id, sess_id) stamping window must be satisfied by the
    # user_id hash partitioning: no extra exchange beyond the user_id
    # shuffle, the flow-matrix agg, and the presentation sort
    df = _df(spark, sf_dir, "session_entry_exit_flows")
    assert plans.shuffle_count(df) <= 3
    assert plans.has_partial_aggregation(df)
    rows = df.collect()
    assert all(r["avg_events"] >= 1.0 for r in rows)


def test_cuped_single_events_scan_and_broadcast_scalars(spark, sf_dir):
    # both period sums must come from ONE groupBy(user_id) over a
    # single events scan (mid-point and theta are 1-row broadcast
    # joins, never per-row shuffles); everything downstream of the
    # per-user table is |users|-sized
    df = _df(spark, sf_dir, "abtest_cuped_adjusted")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    # the scalar joins (mid, theta) must be 1-row BROADCASTS, never a
    # cartesian product of row data
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # budget: mid agg (1) + per-user agg (1) + theta agg (1) +
    # per-arm agg (1) + sort (1); +2 because the pre-AQE plan text
    # counts the theta branch's copy of the per-user exchange that
    # ReusedExchange collapses in the final adaptive plan (verified by
    # inspection: the executed plan reuses hashpartitioning(user_id))
    assert plans.shuffle_count(df) <= 7
    rows = df.collect()
    assert [r["arm"] for r in rows] == ["A", "B"]
    assert all(r["n_users"] > 0 for r in rows)


def test_centroid_drift_one_cell_groupby(spark, sf_dir):
    # raw vectors shuffle ONCE into |labels| x dim cells (conditional
    # avg per half in the same pass); cosine reduces the cell table
    # and the per-label counts join is broadcast
    df = _df(spark, sf_dir, "embedding_centroid_drift")
    assert plans.has_partial_aggregation(df)
    assert plans.has_broadcast_join(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    # budget: cell agg (1) + label agg (1) + counts agg (1) + sort (1)
    assert plans.shuffle_count(df) <= 4
    rows = df.collect()
    assert all(-1.0 <= r["centroid_cosine"] <= 1.0 for r in rows)
    assert all(r["n_a"] + r["n_b"] > 0 for r in rows)


def test_bootstrap_ci_single_events_scan_replicates_after_reduce(spark, sf_dir):
    # the 16-way replicate fan-out must happen on the per-user table
    # (raw events scanned once, reduced first); weights are pure
    # column math, and the replicate cells partial-aggregate
    df = _df(spark, sf_dir, "abtest_bootstrap_ci")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert p.count("FileScan") + p.count("BatchScan") <= 2  # one reuse pair
    # budget: per-user agg (1) + (arm,r) agg (1) + per-arm agg (1) +
    # point-estimate agg (1) + sort (1)
    assert plans.shuffle_count(df) <= 6
    rows = df.collect()
    assert [r["arm"] for r in rows] == ["A", "B"]
    for r in rows:
        assert r["ci_lo"] <= r["mean_y"] <= r["ci_hi"]


def test_cross_source_matrix_fp_join_no_cross(spark, sf_dir):
    # pair generation must run on the fingerprint key (inverted-index
    # shape), never a cartesian of sources x documents
    df = _df(spark, sf_dir, "dedup_cross_source_matrix")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    rows = df.collect()
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0 <= r["jaccard"] <= r["containment"] <= 1


# ---------------------------------------------------------------------------
# round-8 additions: plan-shape assertions
# ---------------------------------------------------------------------------


def test_winsorized_spend_broadcast_stats(spark, sf_dir):
    # customer dim AND the per-segment percentile table must both come
    # back as broadcasts (order rows shuffle once, never for the clamp)
    df = _df(spark, sf_dir, "stats_winsorized_segment_spend")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 4


def test_hhi_one_fact_shuffle(spark, sf_dir):
    # two dim joins broadcast; the only fact-sized shuffle is the
    # (nation, supplier) revenue groupBy — window + final agg run on
    # the |suppliers|-row table
    df = _df(spark, sf_dir, "stats_hhi_concentration")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 4


def test_gini_windows_share_brand_partitioning(spark, sf_dir):
    # both rank windows and the final reduce run on the (brand, part)
    # revenue table: one fact shuffle + one brand exchange + sort
    df = _df(spark, sf_dir, "stats_gini_brand_revenue")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 4


def test_seasonal_dow_single_fact_shuffle(spark, sf_dir):
    # events collapse to |types| x |days| cells in ONE partial-agg
    # groupBy; baseline + re-join are cell-table-sized broadcasts
    # (budget 5: the daily-cell groupBy appears on both join sides in
    # the static plan and collapses to a ReusedExchange at runtime)
    df = _df(spark, sf_dir, "timeseries_seasonal_dow_anomaly")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 5


def test_srm_distinct_partial_agg(spark, sf_dir):
    df = _df(spark, sf_dir, "abtest_srm_chisquare")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p


def test_target_encoding_cell_table_math(spark, sf_dir):
    # fold-complement math must run on the |segments| x 5 cell table:
    # one fact shuffle (groupBy), segment window on the cell table,
    # prior as 1-row broadcast
    df = _df(spark, sf_dir, "feature_target_encoding_oof")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 5


def test_woe_binning_never_shuffles_rows(spark, sf_dir):
    # bin assignment is a broadcast CASE over percentile edges — no
    # global-sort ntile over the fact table (no Window before the
    # 5-cell aggregate touches order rows)
    df = _df(spark, sf_dir, "feature_woe_iv")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert plans.shuffle_count(df) <= 7


def test_rfm_facts_collapse_before_windows(spark, sf_dir):
    # the fact table reduces to |customers| rows in ONE partial-agg
    # groupBy before any ntile window runs
    df = _df(spark, sf_dir, "customer_rfm_segments")
    assert plans.has_partial_aggregation(df)


def test_attribution_single_user_shuffle(spark, sf_dir):
    # the carry-forward window IS the join: events shuffle once on
    # user_id, no as-of/interval join materializes candidate pairs
    df = _df(spark, sf_dir, "attribution_last_touch")
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert plans.shuffle_count(df) <= 4
    assert plans.has_partial_aggregation(df)


def test_covariance_shuffles_only_partials(spark, sf_dir):
    # the corpus is scanned ONCE (exactly one MapInPandas — the
    # partial rows are self-contained, so no second consumer re-scans
    # the vectors), never shuffles row data, and reduces in one
    # joinless groupBy: budget = that exchange + the output sort
    df = _df(spark, sf_dir, "embedding_covariance_pca")
    p = plans.executed_plan(df)
    assert p.count("MapInPandas") == 1
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 2


def test_zipf_fit_regression_is_builtin_partial_agg(spark, sf_dir):
    # regr_* must reduce JVM-side with partial aggregation; rank
    # window runs on the |vocab| table, never the token stream
    df = _df(spark, sf_dir, "text_zipf_fit")
    assert plans.has_partial_aggregation(df)
    p = plans.executed_plan(df)
    assert "CartesianProduct" not in p


def test_autocorrelation_dense_grid_no_cartesian(spark, sf_dir):
    # the grid is distinct-types x exploded-bounds (1-row broadcast) —
    # the only fact-sized shuffle is the hourly-cell groupBy
    df = _df(spark, sf_dir, "timeseries_autocorrelation")
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.executed_plan(df)


def test_benford_nine_cell_reduce(spark, sf_dir):
    # digit extraction is map-side; the only fact shuffle is the
    # 9-cell groupBy (+ its exchange and the output sort)
    df = _df(spark, sf_dir, "stats_benford_first_digit")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 4


def test_ks_collapses_to_distinct_values_before_sort(spark, sf_dir):
    # the stream reduces to per-distinct-value side counts in ONE
    # partial-agg groupBy before the (documented) exact-test sort
    df = _df(spark, sf_dir, "stats_ks_two_sample")
    assert plans.has_partial_aggregation(df)


def test_l_diversity_broadcast_dim_and_partial_agg(spark, sf_dir):
    df = _df(spark, sf_dir, "privacy_l_diversity")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 5


def test_logreg_training_never_shuffles_corpus(spark, sf_dir):
    # each GD step is one partial-agg scan to a 3-float gradient;
    # weights are driver-held literals — the only exchange in the
    # final scoring pass is the single-row aggregate's
    df = _df(spark, sf_dir, "ml_logreg_quality_train")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 1


# ---------------------------------------------------------------------------
# round-9 additions
# ---------------------------------------------------------------------------


def test_mode_disc_percentile_partial_agg(spark, sf_dir):
    # mode reduces to |status x priority| cells in one partial-agg
    # groupBy; the disc-percentile window shuffles once on the group key
    df = _df(spark, sf_dir, "agg_mode_disc_percentiles")
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.executed_plan(df)


def test_array_hof_stays_jvm_side(spark, sf_dir):
    # higher-order lambdas must compile to Catalyst expressions —
    # no Python evaluation anywhere in the plan
    df = _df(spark, sf_dir, "array_higher_order_funcs")
    plan = plans.executed_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # top-100 must be TakeOrdered, not a global sort materialization
    assert "TakeOrderedAndProject" in plan


def test_shard_assignment_single_reduce(spark, sf_dir):
    # map-only hash + ONE partial-agg groupBy to 16 cells
    df = _df(spark, sf_dir, "shard_assignment_token_balance")
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 3  # 16-cell agg + window + sort


def test_pareto_skyline_oracle_matches_dominance_definition(duck, sf_dir):
    # the registered oracle is the O(n log n) sort-based skyline
    # (r16 rewrite — the quadratic NOT-EXISTS form was infeasible at
    # sf1); pin it against the textbook dominance definition on the
    # real corpus so the rewrite can never drift from the semantics
    from hadoop_formats_spark.queries.ext import QUALITY_SQL

    sky = duck.execute(
        oracle_sql_map()["pareto_frontier_quality_length"]
    ).fetchall()
    dom = duck.execute(
        f"""
        WITH d AS (
          SELECT doc_id, n_chars, {QUALITY_SQL} AS quality FROM documents
        )
        SELECT doc_id, n_chars, quality FROM d a
        WHERE NOT EXISTS (
          SELECT 1 FROM d b
          WHERE b.quality >= a.quality AND b.n_chars >= a.n_chars
            AND (b.quality > a.quality OR b.n_chars > a.n_chars)
        )
        ORDER BY doc_id
        """
    ).fetchall()
    assert sky and sky == dom


def test_pareto_skyline_keeps_ties_on_both_axes():
    # synthetic: ties on BOTH axes (docs 1,2) survive, an equal-length
    # strictly-worse doc (4) falls, in BOTH formulations
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        "(1, 10, 0.5), (2, 10, 0.5), (3, 5, 0.9), "
        "(4, 5, 0.2), (5, 20, 0.3), (6, 1, 1.0)"
        ") t(doc_id, n_chars, quality)"
    )
    sky = con.execute(
        """
        WITH per_len AS (
          SELECT n_chars, max(quality) AS qmax FROM d GROUP BY n_chars
        ),
        fl AS (
          SELECT n_chars, qmax,
                 max(qmax) OVER (
                   ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS prevmax
          FROM per_len
        )
        SELECT a.doc_id FROM d a JOIN fl ON a.n_chars = fl.n_chars
        WHERE a.quality = fl.qmax
          AND (fl.prevmax IS NULL OR fl.qmax > fl.prevmax)
        ORDER BY a.doc_id
        """
    ).fetchall()
    dom = con.execute(
        """
        SELECT doc_id FROM d a
        WHERE NOT EXISTS (
          SELECT 1 FROM d b
          WHERE b.quality >= a.quality AND b.n_chars >= a.n_chars
            AND (b.quality > a.quality OR b.n_chars > a.n_chars)
        )
        ORDER BY doc_id
        """
    ).fetchall()
    assert [r[0] for r in sky] == [r[0] for r in dom] == [1, 2, 3, 5, 6]


def test_ngram_jaccard_corpus_cap_is_noop_at_graded_sfs(duck, sf_dir):
    # the hash-rank cap binds only past every graded SF: the capped
    # sub-corpus must BE the full corpus here, so graded values are
    # byte-identical to the uncapped row
    from hadoop_formats_spark.queries.ext import NGRAM_CORPUS_CAP

    n = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert n <= NGRAM_CORPUS_CAP


def test_shard_assignment_covers_all_docs(spark, sf_dir):
    import duckdb

    rows = _df(spark, sf_dir, "shard_assignment_token_balance").collect()
    total = sum(r["n_docs"] for r in rows)
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert total == n_docs  # partition of the corpus: no loss, no dup
    assert all(0 <= r["shard"] < 16 for r in rows)


def test_bucketed_join_has_no_exchange_below_the_join(spark, sf_dir):
    # the whole point: bucketed+sorted layout makes the fact-fact SMJ
    # exchange-free AND sort-free; the only exchange in the query is
    # the final 3-cell groupBy's
    df = _df(spark, sf_dir, "layout_bucketed_join_no_shuffle")
    plan = plans.executed_plan(df)
    assert "SortMergeJoin" in plan
    # the tree string is top-down: everything after the join node is
    # its input subtree.  An Exchange there would mean the bucketed
    # layout failed to satisfy the join's required distribution, a
    # Sort there that the one-file-per-bucket sorted write failed.
    below = plan[plan.find("SortMergeJoin"):]
    assert "Exchange" not in below
    assert "Bucketed: true" in below
    # NOTE a partition-local Sort below the join remains: Spark >= 3.0
    # ignores bucket sort order on read unless
    # spark.sql.legacy.bucketedTableScan.outputOrdering is set — the
    # sort is exchange-free, bucket-sized, and spill-free; the scale
    # win (zero network movement for the fact-fact join) is the
    # Exchange assertion above.
    # whole query: groupBy exchange + output orderBy only
    assert plans.shuffle_count(df) <= 2


def test_variant_parse_once_no_python(spark, sf_dir):
    # parse_json + variant_get are Catalyst expressions — the whole
    # extraction stays JVM-side, no Python eval nodes
    df = _df(spark, sf_dir, "json_variant_extract")
    plan = plans.executed_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plans.has_partial_aggregation(df)


def test_udtf_expansion_matches_posexplode_equivalent(spark, sf_dir):
    # the UDTF path must agree with the built-in split+posexplode
    # formulation of the same sentence split
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") <= 50)
        .select("doc_id", "text")
    )
    spark.udtf.register(
        "sentence_split_t",
        __import__(
            "hadoop_formats_spark.queries.parity", fromlist=["_sentence_udtf"]
        )._sentence_udtf(),
    )
    d.createOrReplaceTempView("_udtf_docs_t")
    via_udtf = spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.n_words "
        "FROM _udtf_docs_t d, LATERAL sentence_split_t(d.doc_id, d.text) s"
    )
    via_builtin = d.select(
        "doc_id",
        F.posexplode(F.split("text", "\\. ")).alias("sent_idx", "s"),
    ).select(
        "doc_id",
        "sent_idx",
        F.size(F.filter(F.split("s", " "), lambda t: t != "")).alias(
            "n_words"
        ),
    )
    key = lambda df: sorted(
        (r["doc_id"], r["sent_idx"], r["n_words"]) for r in df.collect()
    )
    assert key(via_udtf) == key(via_builtin)


def test_tws_running_stats_equals_batch(spark, sf_dir):
    # the stateful running (count, max) replayed availableNow must land
    # exactly on the batch aggregate
    from pyspark.sql import functions as F

    got = {
        r["event_type"]: (r["n_events"], r["max_value"])
        for r in _df(spark, sf_dir, "stream_tws_running_stats").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["mx"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == want


def test_norm_outliers_broadcast_stats(spark, sf_dir):
    # per-label means broadcast back; the corpus shuffles once into
    # |labels| cells
    df = _df(spark, sf_dir, "embedding_norm_outliers")
    assert plans.has_broadcast_join(df)
    assert plans.has_partial_aggregation(df)


def test_contamination_cosine_corpus_never_shuffles(spark, sf_dir):
    # the benchmark matrix is the broadcast side of the (documented)
    # crossJoin; the only exchanges are the per-vector max and the
    # |labels| reduce
    df = _df(spark, sf_dir, "contamination_embedding_cosine")
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # documented broadcast cross
    assert "CartesianProduct" not in plan
    assert plans.has_partial_aggregation(df)


def test_contamination_cosine_flags_the_bench_neighbors(spark, sf_dir):
    # sanity: shares are within [0, 1] and corpus size excludes bench
    import duckdb

    rows = _df(spark, sf_dir, "contamination_embedding_cosine").collect()
    n_total = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    n_bench = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet') "
        "WHERE vec_id % 37 = 0"
    ).fetchone()[0]
    assert sum(r["n_corpus"] for r in rows) == n_total - n_bench
    assert all(0.0 <= r["contaminated_share"] <= 1.0 for r in rows)


def test_vocab_growth_single_distinct_pass(spark, sf_dir):
    df = _df(spark, sf_dir, "text_vocab_growth")
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.executed_plan(df)


def test_curriculum_grid_partitions_corpus(spark, sf_dir):
    import duckdb

    rows = _df(spark, sf_dir, "curriculum_stage_assignment").collect()
    n_docs = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 0.01


def test_t_closeness_cell_table_discipline(spark, sf_dir):
    # the fact table must collapse to |cells x priorities| in one
    # partial-agg pass; everything downstream (grid, cumsum window, t
    # rollup) runs on the cell table with broadcast-only joins
    df = _df(spark, sf_dir, "privacy_t_closeness")
    plan = plans.executed_plan(df)
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plan
    assert plans.has_broadcast_join(df)


def test_observe_metrics_ride_the_scan(spark, sf_dir):
    # the DQ counters are CollectMetrics ON the scan — no second pass,
    # no Python eval; the query's one action is the noop write
    from hadoop_formats_spark.queries.registry import QUERIES
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = Observation("t")
    observed = li.observe(obs, F.count(F.lit(1)).alias("n"))
    plan = observed.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "CollectMetrics" in plan
    # and the query's payload equals a direct aggregate
    row = QUERIES["dq_observe_metrics"].builder(spark, sf_dir).collect()[0]
    n = li.count()
    assert row["n_rows"] == n


def test_linreg_normal_equations_matches_numpy(spark, sf_dir):
    # the driver-held closed-form solve must agree with numpy lstsq on
    # the same features
    import numpy as np

    from hadoop_formats_spark.queries.registry import QUERIES
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    row = QUERIES["ml_linreg_normal_equations"].builder(spark, sf_dir).collect()[0]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    maxd = o.agg(F.max("o_orderdate").alias("d1"))
    f = (
        o.crossJoin(F.broadcast(maxd))
        .select(
            F.col("o_totalprice").alias("y"),
            F.count("*").over(Window.partitionBy("o_custkey"))
            .cast("double").alias("freq"),
            F.datediff("d1", "o_orderdate").cast("double").alias("rec"),
        )
        .toPandas()
    )
    X = np.column_stack([f["freq"], f["rec"], np.ones(len(f))])
    beta, *_ = np.linalg.lstsq(X, f["y"].to_numpy(), rcond=None)
    assert abs(row["beta_freq"] - beta[0]) < 1e-3
    assert abs(row["beta_rec"] - beta[1]) < 1e-3
    assert abs(row["intercept"] - beta[2]) < 1e-2


def test_asof_forward_plans_window_not_range_join(spark, sf_dir):
    # the forward as-of must be the union+window composition: one
    # user_id partition-sort, zero joins (no BNLJ/range/cartesian)
    df = _df(spark, sf_dir, "join_asof_forward_tolerance")
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plans.shuffle_count(df) <= 2  # window partition + final sort


def test_asof_forward_tolerance_semantics(spark):
    # tie at equal ts -> lowest event_id; outside tolerance -> -1;
    # inclusive at-or-after
    import datetime as dt

    from hadoop_formats_spark.queries.registry import QUERIES as Q

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, u, kind, mins):
        return (eid, u, kind, t0 + dt.timedelta(minutes=mins), 0.0)

    rows = [
        ev(1, 1, "click", 0),      # purchase at same ts (inclusive) wins
        ev(10, 1, "purchase", 0),
        ev(11, 1, "purchase", 0),  # same-ts tie -> min event_id = 10
        ev(2, 2, "click", 0),      # nearest after within 1h
        ev(20, 2, "purchase", 59),
        ev(3, 3, "click", 0),      # purchase after tolerance -> -1
        ev(30, 3, "purchase", 61),
        ev(4, 4, "click", 0),      # purchase BEFORE click only -> -1
        ev(40, 4, "purchase", -5),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp, value double"
    )
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {
        r.click_id: r.purchase_id
        for r in Q["join_asof_forward_tolerance"].builder(spark, d).collect()
    }
    assert out == {1: 10, 2: 20, 3: -1, 4: -1}


def test_stream_outer_join_null_emission_exactly_once(spark, tmp_path):
    # an unmatched click must be emitted with nulls EXACTLY ONCE after
    # the watermark passes its horizon — across multiple microbatches
    import datetime as dt

    from pyspark.sql import functions as F

    from hadoop_formats_spark.streaming import (
        parquet_replay_stream,
        run_available_now,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "ev")
    batch1 = [
        (1, "click", t0),                                # matched in batch1
        (1, "purchase", t0 + dt.timedelta(minutes=10)),
        (2, "click", t0),                                # never matched
    ]
    batch2 = [  # far ahead: advances watermark past batch1's horizon
        (3, "click", t0 + dt.timedelta(days=5)),
        (3, "purchase", t0 + dt.timedelta(days=5, minutes=5)),
    ]
    for rows in (batch1, batch2):
        spark.createDataFrame(
            rows, "user_id int, event_type string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    def side(kind, a, b):
        s = parquet_replay_stream(spark, src)
        return (
            s.filter(F.col("event_type") == kind)
            .select(F.col("user_id").alias(a), F.col("ts").alias(b))
            .withWatermark(b, "1 hour")
        )

    j = side("click", "user_id", "click_ts").join(
        side("purchase", "p_user", "p_ts"),
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    out = run_available_now(
        j, spark, output_mode="append", state_partitions=2
    ).collect()
    nulls = [r for r in out if r.p_user is None]
    assert len(nulls) == 1 and nulls[0].user_id == 2  # exactly once
    assert {(r.user_id, r.p_user) for r in out} == {
        (1, 1), (2, None), (3, 3)
    }


def test_lateral_topk_decorrelates_no_cartesian(spark, sf_dir):
    # Catalyst must rewrite the correlated LATERAL into a join +
    # per-group limit — never a per-row re-execution or cartesian
    df = _df(spark, sf_dir, "sql_lateral_topk_nations_per_region")
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan
    assert df.count() == 10  # 5 regions x top-2


def test_recursive_cte_spine_is_complete(spark, sf_dir):
    # 59-day spine: every day present exactly once, gaps flagged 0/1
    rows = _df(spark, sf_dir, "sql_recursive_cte_calendar_gaps").collect()
    assert len(rows) == 59
    assert len({r.day for r in rows}) == 59
    assert all(r.is_gap in (0, 1) for r in rows)
    assert all((r.n_orders == 0) == (r.is_gap == 1) for r in rows)


def test_dynamic_partition_overwrite_touches_only_restated_partition(
    spark, sf_dir, tmp_path
):
    import os

    from hadoop_formats_spark.queries.sources import _dynamic_backfill

    d = str(tmp_path / "t")
    _dynamic_backfill(spark, sf_dir, d)

    def files(yr):
        p = f"{d}/yr={yr}"
        return {
            f: os.path.getmtime(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        }

    yrs = sorted(
        int(x.split("=")[1]) for x in os.listdir(d) if x.startswith("yr=")
    )
    assert 1996 in yrs
    before = {y: files(y) for y in yrs}
    # second restatement: only yr=1996 files may change
    import time

    time.sleep(1.1)
    _dynamic_backfill_again(spark, sf_dir, d)
    after = {y: files(y) for y in yrs}
    for y in yrs:
        if y == 1996:
            assert after[y] != before[y]  # rewritten
        else:
            assert after[y] == before[y]  # untouched by dynamic mode


def _dynamic_backfill_again(spark, sf_dir, d):
    from pyspark.sql import functions as F

    from hadoop_formats_spark.queries.registry import table

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
                F.year("o_orderdate").cast("int").alias("yr"),
            )
            .filter(F.col("yr") == 1996)
            .write.mode("overwrite")
            .partitionBy("yr")
            .parquet(d)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_asof_forward_matches_pandas_merge_asof(spark):
    # property cross-check: our forward as-of == pandas merge_asof
    # (direction='forward', tolerance=1h) on randomized event sets
    import datetime as dt
    import tempfile

    import numpy as np
    import pandas as pd

    from hadoop_formats_spark.queries.registry import QUERIES as Q

    rng = np.random.default_rng(1234)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for _ in range(400):
        eid += 1
        rows.append(
            (
                eid,
                int(rng.integers(1, 12)),
                "click" if rng.random() < 0.5 else "purchase",
                t0 + dt.timedelta(minutes=int(rng.integers(0, 3000))),
                0.0,
            )
        )
    df = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, event_type string, "
        "ts timestamp, value double",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    got = {
        r.click_id: r.purchase_id
        for r in Q["join_asof_forward_tolerance"].builder(spark, d).collect()
    }

    pdf = pd.DataFrame(
        rows, columns=["event_id", "user_id", "event_type", "ts", "value"]
    )
    c = pdf[pdf.event_type == "click"].sort_values(
        ["ts", "event_id"]
    )
    # same deterministic tie-break as the query: earliest ts, lowest id
    p = pdf[pdf.event_type == "purchase"].sort_values(["ts", "event_id"])
    m = pd.merge_asof(
        c,
        p.rename(columns={"event_id": "p_id", "ts": "p_ts"})[
            ["user_id", "p_id", "p_ts"]
        ],
        left_on="ts",
        right_on="p_ts",
        by="user_id",
        direction="forward",
        tolerance=pd.Timedelta("1h"),
        allow_exact_matches=True,
    )
    want = {
        int(r.event_id): (int(r.p_id) if pd.notna(r.p_id) else -1)
        for r in m.itertuples()
    }
    assert got == want


def test_xml_roundtrip_escapes_special_chars(spark, tmp_path):
    # the XML writer must escape <, >, &, quotes and the reader must
    # restore them losslessly — the nation fixture has none of these
    rows = [
        (1, 'a < b & c > d'),
        (2, 'quote " and \' apostrophe'),
        (3, 'tag-like <row>not a row</row>'),
        (4, 'unicode Å é 中文 and ]]> bracket'),
    ]
    d = str(tmp_path / "x")
    df = spark.createDataFrame(rows, "id bigint, s string")
    (
        df.write.mode("overwrite")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .format("xml")
        .save(d)
    )
    back = (
        spark.read.schema("id bigint, s string")
        .option("rowTag", "row")
        .format("xml")
        .load(d)
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_lateral_topk_equals_window_rank_formulation(spark, sf_dir):
    # the correlated LATERAL ... ORDER BY/LIMIT must be semantically
    # identical to the DataFrame window-rank top-k over the same join
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lat = sorted(
        map(
            tuple,
            _df(spark, sf_dir, "sql_lateral_topk_nations_per_region").collect(),
        )
    )
    from hadoop_formats_spark.queries.registry import table as _t

    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    counts = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
    )
    w = Window.partitionBy("r_name").orderBy(
        F.desc("n_cust"), F.asc("n_name")
    )
    win = sorted(
        map(
            tuple,
            counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 2)
            .select("r_name", "n_name", "n_cust")
            .collect(),
        )
    )
    assert lat == win


# ---------------------------------------------------------------------------
# round-11 additions: z-order layout, bag set ops, null-safe join, map HOFs
# ---------------------------------------------------------------------------


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The point of the Z layout: parquet footer min/max stats stay
    tight on BOTH clustering dimensions, so a 2-D box (or a predicate
    on the non-leading dimension alone) skips files.  A single-column
    sort layout only prunes its leading column — the date-window
    predicate must touch every custkey-sorted file but not every
    z-ordered file."""
    import pyarrow.parquet as pq
    import glob as g

    from hadoop_formats_spark.queries.sources import zorder_orders_path
    from hadoop_formats_spark.queries.registry import table as t

    zdir = zorder_orders_path(spark, sf_dir)
    zfiles = sorted(g.glob(f"{zdir}/part-*.parquet"))
    assert len(zfiles) >= 4

    cdir = str(tmp_path / "orders_by_custkey")
    (
        t(spark, sf_dir, "orders")
        .repartitionByRange(len(zfiles), "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(cdir)
    )
    cfiles = sorted(g.glob(f"{cdir}/part-*.parquet"))

    def ranges(path, col):
        md = pq.ParquetFile(path).metadata
        idx = md.schema.names.index(col)
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            los.append(st.min)
            his.append(st.max)
        return min(los), max(his)

    import datetime

    d_lo = datetime.datetime(1997, 1, 1)
    d_hi = datetime.datetime(1998, 1, 1)

    def touches_box(files, ck=None, dates=None):
        n = 0
        for f in files:
            ok = True
            if ck is not None:
                lo, hi = ranges(f, "o_custkey")
                ok = ok and not (hi < ck[0] or lo > ck[1])
            if dates is not None:
                lo, hi = ranges(f, "o_orderdate")
                ok = ok and not (hi < dates[0] or lo >= dates[1])
            n += ok
        return n

    # date-only predicate: custkey-sorted layout cannot prune at all
    assert touches_box(cfiles, dates=(d_lo, d_hi)) == len(cfiles)
    # ... the z layout skips at least one file on the same predicate
    assert touches_box(zfiles, dates=(d_lo, d_hi)) < len(zfiles)
    # and the graded 2-D box touches at most half the z files
    assert touches_box(zfiles, ck=(100, 260), dates=(d_lo, d_hi)) <= (
        len(zfiles) // 2
    )


def test_map_higher_order_funcs_stay_jvm_side(spark, sf_dir):
    plan = plans.executed_plan(_df(spark, sf_dir, "map_higher_order_funcs"))
    assert "EvalPython" not in plan  # lambdas compile to Catalyst, not UDFs
    assert plans.shuffle_count(
        _df(spark, sf_dir, "map_higher_order_funcs")
    ) <= 2  # one agg exchange + the tiny final sort


def test_bag_ops_keep_multiplicities(spark):
    a = spark.createDataFrame([(1,), (1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(1,), (3,)], "x int")
    assert a.exceptAll(b).groupBy("x").count().collect() == [
        __import__("pyspark").sql.Row(x=1, count=2),
        __import__("pyspark").sql.Row(x=2, count=1),
    ] or sorted(
        (r.x, r["count"]) for r in a.exceptAll(b).groupBy("x").count().collect()
    ) == [(1, 2), (2, 1)]
    assert sorted(r.x for r in a.intersectAll(b).collect()) == [1]


def test_null_safe_join_matches_null_keys(spark):
    from pyspark.sql import functions as F

    left = spark.createDataFrame([("a",), (None,), (None,)], "k string")
    dim = spark.createDataFrame([("a", "A"), (None, "NULLGRP")], "k string, label string")
    plain = left.join(dim, left.k == dim.k).count()
    safe = left.join(dim, left.k.eqNullSafe(dim.k)).count()
    assert plain == 1  # equi-join drops every NULL-keyed row
    assert safe == 3  # null-safe join matches them


def test_gopher_rules_single_pass_plan(spark, sf_dir):
    df = _df(spark, sf_dir, "text_gopher_quality_rules")
    plan = plans.executed_plan(df)
    assert "EvalPython" not in plan
    assert plans.has_partial_aggregation(df)
    assert plans.shuffle_count(df) <= 2  # groupBy(lang) + final orderBy


def test_ivfpq_candidates_restricted_to_probed_clusters(spark, sf_dir):
    """The IVF restriction is the point of IVF-PQ: every ADC candidate
    must come from one of its query's nprobe probed clusters, and the
    scan must consider strictly fewer candidates than plain PQ-ADC
    over the full corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from hadoop_formats_spark.operators import similarity as S
    from hadoop_formats_spark.queries.registry import table as t

    e = t(spark, sf_dir, "embeddings")
    ivfcent = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = e.filter((F.col("vec_id") % 97 == 0) & (F.col("vec_id") != 0))
    assigned = S.ivf_assign(e, ivfcent, method="fold")
    c = ivfcent.select(
        F.col("centroid_id").alias("probe"), F.col("embedding").alias("cvec")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("probe"))
    probes = (
        queries.crossJoin(F.broadcast(c))
        .select(
            F.col("vec_id").alias("query_id"),
            "probe",
            F.round(S.cosine(F.col("embedding"), F.col("cvec")), 6).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select("query_id", "probe")
    )
    books = S.pq_train(e, dim=64, m=4, k=16, iters=2)
    enc = S.pq_encode(e, books, sub=16)
    enc_c = enc.join(assigned.select("vec_id", "centroid_id"), "vec_id")
    cand = S.pq_adc_topk(enc_c, books, queries, sub=16, k=20, probes=probes)

    probe_set = {(r.query_id, r.probe) for r in probes.collect()}
    cl = {r.vec_id: r.centroid_id for r in assigned.select("vec_id", "centroid_id").collect()}
    rows = cand.collect()
    assert rows
    for r in rows:
        assert (r.query_id, cl[r.neighbor_id]) in probe_set
    # the restriction actually prunes: unrestricted ADC reaches vectors
    # outside the probed clusters for at least one query
    full = S.pq_adc_topk(enc, books, queries, sub=16, k=20)
    outside = [
        r for r in full.collect()
        if (r.query_id, cl[r.neighbor_id]) not in probe_set
    ]
    assert outside, "full ADC should reach unprobed clusters"


def test_hard_negatives_probe_stream_vs_exact_scan(spark, sf_dir):
    """sample_hard_negatives_band mines from the IVF probe candidate
    stream (r12 re-shape); the unrestricted broadcast-anchor exact scan
    stays here as the recall baseline.  The probe restriction can only
    REMOVE candidates, so every mined row must lie in the exact-scan
    band, and at this corpus's cluster geometry the probed stream must
    recover at least half of the exact band top-4."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_formats_spark.operators import similarity as S
    from hadoop_formats_spark.queries.registry import QUERIES, table

    mined = QUERIES["sample_hard_negatives_band"].builder(
        spark, sf_dir
    ).collect()
    assert mined
    e = table(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("ae")
    )
    scored = (
        e.select(F.col("vec_id").alias("neg_id"), F.col("embedding").alias("be"))
        .crossJoin(F.broadcast(anchors))
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "neg_id",
            F.round(S.cosine(F.col("ae"), F.col("be")), 4).alias("sim"),
        )
    )
    band = scored.filter((F.col("sim") >= 0.15) & (F.col("sim") < 0.45))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim"), F.asc("neg_id")
    )
    exact4 = {
        (r.anchor_id, r.neg_id)
        for r in band.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .collect()
    }
    bandset = {(r.anchor_id, r.neg_id) for r in band.collect()}
    minedset = {(r.anchor_id, r.neg_id) for r in mined}
    assert minedset <= bandset  # restriction only removes candidates
    assert len(minedset & exact4) >= 0.5 * len(exact4)
    # the stream is genuinely restricted: fewer candidates than N-1
    # per anchor (nprobe=4 of the 10 inverted lists)
    n = e.count()
    per_anchor = {}
    for r in mined:
        per_anchor.setdefault(r.anchor_id, 0)
    # re-derive candidate counts from the query's own probe frame
    centroids = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = S.ivf_assign(e, centroids, method="fold")
    sizes = {
        r.centroid_id: r.n
        for r in assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sum(sizes.values()) == n
    assert max(sizes.values()) * 4 < n  # 4 probed lists < full corpus


def test_dq_quarantine_null_rows_route_to_exactly_one_side(spark):
    """ADVICE r11 (medium): a NULL event_type/value makes the raw rule
    predicate NULL, and filter(bad)/filter(~bad) would then drop the
    row from BOTH sinks — silent loss.  Both quarantine splits now
    route through coalesce(bad, false); this pins the lossless +
    disjoint contract on a frame that actually contains NULLs."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            ("error", 10.0),
            ("click", 500.0),
            ("click", 10.0),
            (None, 10.0),
            ("click", None),
            (None, None),
        ],
        "event_type string, value double",
    )
    bad = F.coalesce(
        (F.col("event_type") == "error") | (F.col("value") > 400),
        F.lit(False),
    )
    quar, clean = df.filter(bad), df.filter(~bad)
    assert quar.count() + clean.count() == df.count()  # lossless
    assert quar.count() == 2  # the two rule hits, nothing NULL-routed
    # NULL-predicate rows land on the clean side, matching the
    # oracle's CASE ... ELSE 'clean'
    assert clean.filter(F.col("event_type").isNull()).count() == 2
    # and the raw predicate really does lose rows — the bug class
    raw = (F.col("event_type") == "error") | (F.col("value") > 400)
    assert df.filter(raw).count() + df.filter(~raw).count() < df.count()


def test_register_rejects_unknown_tier():
    """``tier`` names the bench.py row set; a typo must fail at
    registration instead of silently dropping the row from the bench."""
    from hadoop_formats_spark.queries.registry import register

    with pytest.raises(ValueError, match="tier 'headlines'"):
        register("tier_typo_probe", tier="headlines")
    assert "tier_typo_probe" not in QUERIES


# ---------------------------------------------------------------------------
# round-12 additions: plan quality
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        # shared _per_arm_look_moments frame: user_id shuffles + K-row
        # reduce; the 1-row time-bounds/threshold frames broadcast
        ("abtest_sequential_obf", 7),
        ("abtest_msprt_always_valid", 7),
        # one broadcast-dim join + a 1-row conditional-moment reduce
        ("abtest_welch_ttest", 2),
        # single partial-agg groupBy + orderBy
        ("agg_bitwise_checksum_bitmap", 2),
        # |segments|-row cells only
        ("privacy_dp_laplace_counts", 2),
        # read-back reduce over the merged MapFile runs
        ("seqfile_sorter_merge_runs", 4),
        # map-side pack/write + one read-back reduce
        ("seqfile_binary_payload_roundtrip", 2),
    ],
)
def test_r12_rows_shuffle_budgets(spark, sf_dir, name, max_shuffles):
    df = _df(spark, sf_dir, name)
    df.count()  # settle AQE before reading the plan
    plan = plans.executed_plan(df)
    assert "CartesianProduct" not in plan, name
    assert plans.has_partial_aggregation(df), name
    assert plans.shuffle_count(df) <= max_shuffles, (
        name,
        plans.shuffle_count(df),
    )


def test_dsir_models_broadcast_no_python(spark, sf_dir):
    # the 64-row log-ratio model and 1-row totals must BROADCAST onto
    # the (doc, bucket) cell table; ranking is TakeOrderedAndProject,
    # and nothing drops to Python
    df = _df(spark, sf_dir, "sample_dsir_importance")
    df.count()
    plan = plans.executed_plan(df)
    assert plans.has_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_kmv_jaccard_single_grouped_sketch_pass(spark, sf_dir):
    # both language sketches come from ONE grouped WindowGroupLimit
    # pass (filtering before kmv_sketch would re-run the corpus-scale
    # explode+distinct once per branch); sketch joins broadcast
    df = _df(spark, sf_dir, "sketch_kmv_jaccard_pair")
    df.count()
    plan = plans.executed_plan(df)
    assert plans.has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_conformal_coverage_close_to_guarantee(spark, sf_dir):
    # split conformal promises >= 90% coverage in expectation over
    # splits; the fixed md5 split should land within binomial noise
    row = _df(spark, sf_dir, "ml_conformal_interval_coverage").collect()[0]
    assert row.n_train > 0 and row.n_cal > 0 and row.n_test > 0
    # 3-sigma binomial band around 0.9 for the test-set size
    sigma = (0.9 * 0.1 / row.n_test) ** 0.5
    assert abs(row.coverage - 0.9) <= 3 * sigma + 1.0 / row.n_test, (
        row.coverage,
        row.n_test,
    )


def test_conformal_n_cal_on_empty_and_small_calibration_split(spark):
    # no calibration row reaches rank k on an empty split (n_cal must
    # be 0, not NULL) nor below 9 rows, where k = ceil((n + 1) * 0.9)
    # exceeds n (n_cal must still be n); qhat is NULL in both
    from pyspark.sql import Row

    from hadoop_formats_spark.queries.features import _conformal_from_scored

    mr = Row(n_train=3)
    test_rows = [("c", 5), ("d", 7)]
    for cal_rows, n_cal in (([], 0), ([("0", 1), ("1", 2), ("2", 3)], 3)):
        scored = spark.createDataFrame(cal_rows + test_rows, "hx string, res bigint")
        row = _conformal_from_scored(spark, scored, mr, 1.0, 0.0).collect()[0]
        assert (row.n_cal, row.qhat_cents, row.n_test, row.covered) == (
            n_cal,
            None,
            2,
            0,
        )


# ---------------------------------------------------------------------------
# iterative-graph runtime plans: the scan-count audit flags these three at
# threshold 15 because the STATIC plan counts each repeated identical
# subtree once per reference; the contract is that the EXECUTED adaptive
# plan collapses them (tools/audit_scan_counts.py caveat, SCALE.md r12 —
# persisting instead measured 4.5x slower for PageRank).  These pin that
# caveat as a regression guard.
# ---------------------------------------------------------------------------


def test_pagerank_runtime_reuses_exchanges(spark, sf_dir):
    # 3 iterations reference the contribution subtree ~28 times
    # statically; at runtime AQE must dedupe the identical exchanges
    df = _df(spark, sf_dir, "graph_pagerank_suppliers")
    plan = plans.post_execution_plan(df)
    assert plan.count("ReusedExchange") >= 4, plan.count("ReusedExchange")


def test_label_propagation_runtime_reuses_exchanges(spark, sf_dir):
    df = _df(spark, sf_dir, "graph_label_propagation")
    plan = plans.post_execution_plan(df)
    assert plan.count("ReusedExchange") >= 4, plan.count("ReusedExchange")


def test_bfs_runtime_lineage_is_checkpointed(spark, sf_dir):
    # bfs_distances manages its iteration lineage itself (per-hop
    # persist + localCheckpoint of the result), so the returned frame
    # must scan checkpoint blocks — never re-derive the co-purchase
    # edge join from parquet
    df = _df(spark, sf_dir, "graph_bfs_distances")
    plan = plans.post_execution_plan(df)
    assert "ExistingRDD" in plan
    assert "lineitem.parquet" not in plan


def test_ks_two_sample_no_global_value_sort(spark, sf_dir):
    # the exact-CDF prefix sum must be the two-phase bucketed scan
    # (pid-partitioned windows + a <=8-row offset table), never an
    # unpartitioned ORDER BY value window serializing the distinct-value
    # table onto one task (VERDICT r12 #3)
    df = _df(spark, sf_dir, "stats_ks_two_sample")
    plan = plans.post_execution_plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "value" in line:
            assert "pid" in line, line.strip()
    rows = df.collect()
    assert len(rows) == 1 and rows[0].ks_d >= 0.0


def test_triangle_count_runtime_reuses_exchanges(spark, sf_dir):
    # third of the scan-count-audit flags (18 static lineitem refs):
    # the edge-derivation subtree repeats across the triangle join's
    # branches and must collapse to ReusedExchange at runtime
    df = _df(spark, sf_dir, "graph_triangle_count")
    plan = plans.post_execution_plan(df)
    assert plan.count("ReusedExchange") >= 4, plan.count("ReusedExchange")


def test_bh_fdr_step_up_semantics(spark, sf_dir):
    # the rank column must be a 1..m permutation over strictly
    # descending |z|, thresholds the tabulated normal quantiles
    # (verified against statistics.NormalDist, not trusted as magic),
    # and the reject set a PREFIX of the ranking (the step-up rule)
    from statistics import NormalDist

    rows = _df(spark, sf_dir, "abtest_bh_fdr_segments").collect()
    m = len(rows)
    assert [r.bh_rank for r in rows] == list(range(1, m + 1))
    zs = [r.z_abs for r in rows]
    assert zs == sorted(zs, reverse=True)
    nd = NormalDist()
    for r in rows:
        expected = nd.inv_cdf(1 - 0.10 * r.bh_rank / (2 * m))
        assert abs(r.z_crit - expected) < 5e-6, (r.bh_rank, r.z_crit)
    rejects = [r.reject for r in rows]
    # prefix property: once a rank fails to reject, no later rank may
    assert all(
        rejects[i] or not rejects[i + 1] for i in range(m - 1)
    ), rejects


def test_mmr_rerank_invariants(spark, sf_dir):
    rows = _df(spark, sf_dir, "search_mmr_rerank").collect()
    assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in rows}) == 5
    # first pick is pure relevance; its penalty is zero
    assert rows[0].max_sim_prev == 0.0
    assert rows[0].rel == max(r.rel for r in rows)
    # reported mmr must equal 0.7*rel - 0.3*max_sim_prev on the 1e-5
    # grid (integer-unit construction)
    for r in rows:
        assert abs(r.mmr - (0.7 * r.rel - 0.3 * r.max_sim_prev)) < 1e-9, r


def test_range_bucket_pid_sub_unit_domain(spark):
    # ADVICE r13: the old (vhi - vlo + 1) denominator collapsed any
    # sub-unit value domain into bucket 0, silently serializing the
    # two-phase prefix sum.  The helper must spread a [0, 0.5) domain
    # across all buckets, clamp v == vhi into the top bucket, and
    # survive a constant domain.
    from pyspark.sql import functions as F

    from hadoop_formats_spark.queries.stats import range_bucket_pid

    df = spark.range(100).select((F.col("id") / 200.0).alias("v"))
    b = df.agg(F.min("v").alias("vlo"), F.max("v").alias("vhi"))
    pids = {
        r.pid
        for r in df.crossJoin(F.broadcast(b))
        .select(
            range_bucket_pid(F.col("v"), F.col("vlo"), F.col("vhi"), 8).alias(
                "pid"
            )
        )
        .collect()
    }
    assert pids == set(range(8))
    # v == vhi lands in (and is clamped to) the top bucket
    top = (
        df.crossJoin(F.broadcast(b))
        .filter(F.col("v") == F.col("vhi"))
        .select(
            range_bucket_pid(F.col("v"), F.col("vlo"), F.col("vhi"), 8).alias(
                "pid"
            )
        )
        .collect()
    )
    assert [r.pid for r in top] == [7]
    # constant domain: everything in bucket 0, no division blow-up
    one = spark.range(5).select(F.lit(3.14).alias("v"))
    b1 = one.agg(F.min("v").alias("vlo"), F.max("v").alias("vhi"))
    only = {
        r.pid
        for r in one.crossJoin(F.broadcast(b1))
        .select(
            range_bucket_pid(F.col("v"), F.col("vlo"), F.col("vhi"), 8).alias(
                "pid"
            )
        )
        .collect()
    }
    assert only == {0}


def test_ohlc_candles_no_window_partial_agg(spark, sf_dir):
    # the open/close argmin/argmax must fold as a PARTIAL aggregate
    # (only |series|x|days| partial candles cross the shuffle) with no
    # window operator — the naive row_number-over-ts formulation would
    # shuffle and sort the whole fact table to pick 2 rows per bucket
    df = _df(spark, sf_dir, "timeseries_downsample_ohlc")
    plan = plans.post_execution_plan(df)
    assert "Window" not in plan, "OHLC must not plan a window operator"
    # assert the SPECIFIC functions (ADVICE r14: a bare "partial_"
    # disjunct is satisfied by any partial agg, e.g. partial_count,
    # so it could not catch Spark ceasing to plan min_by partially)
    assert "min_by" in plan and "max_by" in plan, plan
    assert "partial_min_by" in plan and "partial_max_by" in plan, plan
    rows = df.collect()
    assert rows and all(
        r.low_c <= r.open_c <= r.high_c and r.low_c <= r.close_c <= r.high_c
        for r in rows
    )


def test_ohlc_order_key_pre_1970(spark):
    # VERDICT r14 #1: lpad on a NEGATIVE epoch_us pads zeros before the
    # minus sign, so equal-digit negatives compared by magnitude and
    # pre-1970 open/close could come back in reverse time order.  The
    # key now adds a year-1..9999-safe offset; prove open/close follow
    # true time order across the epoch boundary and that ties on ts
    # break by event_id.
    from pyspark.sql import functions as F

    from hadoop_formats_spark.queries.ext import _ohlc_order_key

    rows = [
        # (event_id, ts, cents) — one bucket, deliberately out of
        # numeric-string order when negative: -999... < -123... in time
        (1, "1965-01-01 00:00:00", 10),  # true open
        (2, "1968-06-01 00:00:00", 20),
        (3, "1969-12-31 23:59:59", 30),
        (4, "1971-01-01 00:00:00", 40),  # true close (post-epoch)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, cents long"
    ).select(
        F.lit("s").alias("k"),
        "cents",
        _ohlc_order_key(
            F.col("ts").cast("timestamp"), F.col("event_id")
        ),
    )
    got = df.groupBy("k").agg(
        F.min_by("cents", "okey").alias("open_c"),
        F.max_by("cents", "okey").alias("close_c"),
    ).collect()[0]
    assert (got.open_c, got.close_c) == (10, 40), got
    # tie on ts (pre-1970) breaks by event_id, both directions
    ties = spark.createDataFrame(
        [(7, "1960-05-05 05:00:00", 70), (8, "1960-05-05 05:00:00", 80)],
        "event_id long, ts string, cents long",
    ).select(
        F.lit("s").alias("k"),
        "cents",
        _ohlc_order_key(
            F.col("ts").cast("timestamp"), F.col("event_id")
        ),
    )
    t = ties.groupBy("k").agg(
        F.min_by("cents", "okey").alias("open_c"),
        F.max_by("cents", "okey").alias("close_c"),
    ).collect()[0]
    assert (t.open_c, t.close_c) == (70, 80), t


def test_interpolate_linear_gap_invariants(spark, sf_dir):
    # every emitted gap hour sits strictly between its neighbors
    # (0 < pos < len) and the interpolation is bounded by them
    rows = _df(spark, sf_dir, "timeseries_interpolate_linear").collect()
    assert rows  # the filtered series is gappy at every test SF
    for r in rows:
        assert 0 < r.gap_pos < r.gap_len, r
        lo, hi = sorted((r.prev_c, r.next_c))
        assert lo - 1e-9 <= r.interp_c <= hi + 1e-9, r
