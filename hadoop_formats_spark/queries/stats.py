"""Profiling / ANALYZE-style queries: the operational layer a 100 TB
pipeline runs BEFORE planning joins and sampling — per-column stats
(the input to size estimates and null-handling decisions) and join-key
skew profiles (the input to the salting / AQE-skew-join decision that
``operators/skew.py`` implements).

The reference has no statistics machinery (its only whole-file
aggregate is the record count, src/Data/Hadoop/SequenceFile.hs:31-36);
these are north-star scale mandates, all Spark built-ins."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .registry import register, table

def range_bucket_pid(col, vlo, vhi, nb: int):
    """Deterministic value-range bucket id in [0, nb) for the two-phase
    distributed prefix sum (bucket-rank in parallel + broadcast
    offsets): ``least(nb-1, floor((col - vlo) * nb / max(vhi - vlo,
    eps)))``.  Scales by the ACTUAL range with an epsilon guard — the
    earlier ``range + 1`` form assumed an integer-scale domain and
    collapsed any sub-unit range into bucket 0, silently
    re-serializing the prefix sum onto one task (ADVICE r13).
    ``col == vhi`` hits floor(nb) and is clamped by the least();
    a constant domain (vhi == vlo) maps everything to bucket 0.
    Boundaries must come from a deterministic min/max aggregate, never
    a sample: the bucketed frame is typically read twice (offsets +
    ranks) and sampled pids could disagree between the subtrees."""
    return F.least(
        F.lit(nb - 1),
        F.floor(
            (col - vlo) * nb / F.greatest(vhi - vlo, F.lit(1e-12))
        ).cast("int"),
    )


# One grouped-agg pass per column, unioned: each branch is
# partial-agg friendly, and at scale the branches share the same scan
# via Spark's plan-level scan reuse (ReusedExchange on the read).  The
# alternative single-pass multi-countDistinct plans an Expand (data
# duplicated per distinct column) — strictly worse for wide profiles.
_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate"]


@register(
    "stats_column_profile",
    oracle="""
    SELECT * FROM (
      SELECT 'o_orderstatus' AS col_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count(o_orderstatus) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
             CAST(min(o_orderstatus) AS VARCHAR) AS min_val,
             CAST(max(o_orderstatus) AS VARCHAR) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderpriority) AS BIGINT),
             CAST(count(DISTINCT o_orderpriority) AS BIGINT),
             CAST(min(o_orderpriority) AS VARCHAR),
             CAST(max(o_orderpriority) AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderdate', CAST(count(*) AS BIGINT),
             CAST(count(*) - count(o_orderdate) AS BIGINT),
             CAST(count(DISTINCT o_orderdate) AS BIGINT),
             CAST(min(o_orderdate) AS VARCHAR),
             CAST(max(o_orderdate) AS VARCHAR)
      FROM orders
    ) ORDER BY col_name
    """,
    doc="ANALYZE-style exact per-column profile (rows, nulls, distinct, "
    "min/max as strings) for three orders columns -- the statistics "
    "input to join-size estimation and null-handling decisions.  Each "
    "column is one partial-agg friendly grouped pass; values are "
    "stringified so one schema profiles any column type.",
)
def stats_column_profile(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders")
    outs = []
    for c in _PROFILE_COLS:
        outs.append(
            o.agg(
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            ).select(F.lit(c).alias("col_name"), "*")
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("col_name")


@register(
    "stats_join_key_skew",
    tier="extra",
    oracle="""
    WITH freq AS (
      SELECT o_custkey AS key, count(*) AS n
      FROM orders GROUP BY o_custkey
    ),
    prof AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(n) AS BIGINT) AS max_freq,
             CAST(sum(n) AS BIGINT) AS n_rows,
             round(max(n) * count(*) / CAST(sum(n) AS DOUBLE), 4)
               AS skew_ratio
      FROM freq
    ),
    hot AS (
      SELECT key, n FROM (
        SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rnk
        FROM freq
      ) WHERE rnk <= 5
    )
    SELECT p.n_keys, p.max_freq, p.n_rows, p.skew_ratio,
           h.key AS hot_key, CAST(h.n AS BIGINT) AS hot_freq
    FROM prof p CROSS JOIN hot h
    ORDER BY hot_freq DESC, hot_key
    """,
    doc="Join-key skew profile for orders.o_custkey: key cardinality, "
    "max frequency, skew ratio (max_freq / mean_freq), and the 5 "
    "hottest keys -- exactly the evidence that decides between a plain "
    "shuffle join, AQE skew-split, and operators/skew.py's explicit "
    "salting.  One partial-agg groupBy + a top-5 TakeOrdered; the "
    "per-key frequency table never leaves the cluster.",
)
def stats_join_key_skew(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders")
    freq = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    prof = freq.agg(
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_freq"),
        F.sum("n").alias("n_rows"),
        F.round(
            F.max("n") * F.count("*") / F.sum("n").cast("double"), 4
        ).alias("skew_ratio"),
    )
    hot = (
        freq.orderBy(F.desc("n"), F.asc("key"))
        .limit(5)
        .select(F.col("key").alias("hot_key"), F.col("n").alias("hot_freq"))
    )
    return (
        prof.crossJoin(hot)
        .select(
            "n_keys", "max_freq", "n_rows", "skew_ratio",
            "hot_key", "hot_freq",
        )
        .orderBy(F.desc("hot_freq"), F.asc("hot_key"))
    )


@register(
    "dq_constraint_suite",
    tier="extra",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_rows,
             CAST(count(l_shipdate) AS DOUBLE) AS n_ship,
             CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE)
               AS n_pk,
             CAST(count(*) FILTER (WHERE l_quantity < 0) AS DOUBLE)
               AS neg_qty,
             CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                  AS DOUBLE) AS bad_disc,
             CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R'))
                  AS DOUBLE) AS bad_flag
      FROM lineitem
    ),
    ri AS (
      SELECT CAST(count(*) AS DOUBLE) AS orphans
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT c AS constraint_name, metric, passed FROM (
      SELECT 'completeness(l_shipdate)' AS c,
             round(n_ship / n_rows, 6) AS metric,
             n_ship = n_rows AS passed FROM m
      UNION ALL
      SELECT 'uniqueness(l_orderkey,l_linenumber)',
             round(n_pk / n_rows, 6), n_pk = n_rows FROM m
      UNION ALL
      SELECT 'non_negative(l_quantity)', neg_qty, neg_qty = 0 FROM m
      UNION ALL
      SELECT 'in_range(l_discount,0,1)', bad_disc, bad_disc = 0 FROM m
      UNION ALL
      SELECT 'accepted_values(l_returnflag)', bad_flag, bad_flag = 0 FROM m
      UNION ALL
      SELECT 'referential(l_orderkey->orders)', orphans, orphans = 0
      FROM ri
    ) ORDER BY constraint_name
    """,
    doc="Deequ-style declarative data-quality suite over lineitem: "
    "completeness, primary-key uniqueness, value ranges, accepted "
    "values — ALL row-level metrics computed in ONE aggregation pass "
    "(one scan, partial-agg; the count-distinct is the only metric "
    "needing a keyed shuffle) — plus referential integrity to orders "
    "as one anti-join (broadcast at dimension scale).  The suite "
    "honestly FAILS uniqueness on this synthetic data (45,832 distinct "
    "of 60,000 at sf0.01), which is the point: constraints report, "
    "they don't assume.  The long (constraint, metric, passed) shape "
    "is the stack/unpivot of the single metrics row.",
)
def dq_constraint_suite(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    m = li.agg(
        F.count("*").cast("double").alias("n_rows"),
        F.count("l_shipdate").cast("double").alias("n_ship"),
        F.countDistinct("l_orderkey", "l_linenumber")
        .cast("double")
        .alias("n_pk"),
        F.count_if(F.col("l_quantity") < 0).cast("double").alias("neg_qty"),
        F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .cast("double")
        .alias("bad_disc"),
        F.count_if(~F.col("l_returnflag").isin("A", "N", "R"))
        .cast("double")
        .alias("bad_flag"),
    )
    ri = (
        li.join(
            F.broadcast(orders.select("o_orderkey")),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("double").alias("orphans"))
    )
    row = m.crossJoin(ri)
    long = row.selectExpr(
        """stack(6,
             'completeness(l_shipdate)', round(n_ship / n_rows, 6),
                n_ship = n_rows,
             'uniqueness(l_orderkey,l_linenumber)', round(n_pk / n_rows, 6),
                n_pk = n_rows,
             'non_negative(l_quantity)', neg_qty, neg_qty = 0.0,
             'in_range(l_discount,0,1)', bad_disc, bad_disc = 0.0,
             'accepted_values(l_returnflag)', bad_flag, bad_flag = 0.0,
             'referential(l_orderkey->orders)', orphans, orphans = 0.0
           ) AS (constraint_name, metric, passed)"""
    )
    return long.orderBy("constraint_name")


@register(
    "stats_outlier_zscore",
    tier="extra",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_type, abs(e.value - s.m) / s.sd AS z, s.n
      FROM events e JOIN s USING (event_type)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_outliers,
           round(max(z), 2) AS max_abs_z,
           round(count(*) * 1.0 / max(n), 6) AS outlier_rate
    FROM z WHERE z > 3 GROUP BY event_type ORDER BY event_type
    """,
    doc="Per-group z-score outlier detection (|x-mean|/stddev > 3) over "
    "event values — the data-QC pass a training pipeline runs to catch "
    "instrumentation glitches before they skew sampling weights.  Two "
    "partial-agg passes: group moments, then a broadcast join of the "
    "5-row stats table back onto the stream; row data never shuffles.",
)
def stats_outlier_zscore(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("m"),
        F.stddev_samp("value").alias("sd"),
        F.count("*").alias("n"),
    )
    z = e.join(F.broadcast(s), "event_type").select(
        "event_type",
        (F.abs(F.col("value") - F.col("m")) / F.col("sd")).alias("z"),
        "n",
    )
    return (
        z.filter(F.col("z") > 3)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            F.round(F.max("z"), 2).alias("max_abs_z"),
            F.round(F.count("*") * F.lit(1.0) / F.max("n"), 6).alias(
                "outlier_rate"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "stats_quantile_normalize",
    tier="extra",
    oracle="""
    SELECT event_id, event_type, value,
           round(percent_rank() OVER (PARTITION BY event_type
                                      ORDER BY value), 6) AS pct_rank
    FROM events
    QUALIFY event_id % 97 = 0
    ORDER BY event_id
    """,
    doc="Per-group quantile normalization: each event value mapped to "
    "its percent-rank within its event type — the rank-to-uniform "
    "feature transform ML preprocessing uses to make heavy-tailed "
    "signals comparable across groups.  One shuffle on the group key; "
    "the deterministic event_id slice keeps the graded output small "
    "while ranks are computed over the FULL group (filter after the "
    "window, deliberately).",
)
def stats_quantile_normalize(spark, sf_dir):
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return (
        e.withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("event_id") % 97 == 0)
        .select("event_id", "event_type", "value", "pct_rank")
        .orderBy("event_id")
    )


# HLL constants shared by the Spark builder and the SQL oracle: repr()
# of the Python doubles round-trips bit-exactly into DuckDB literals.
_HLL_P = 10
_HLL_M = 1 << _HLL_P
_HLL_WIDTH = 60 - _HLL_P
_HLL_ALPHA_MM = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M
_HLL_SCALE = 2 ** (_HLL_WIDTH + 1)

_HLL_REG_SQL = f"""
      SELECT rf, half, hv % {_HLL_M} AS register,
             CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WIDTH + 1}
                  ELSE {_HLL_WIDTH + 1} - length(bin(hv // {_HLL_M})) END AS rank
      FROM (SELECT l_returnflag AS rf, l_orderkey % 2 AS half,
                   ('0x' || substr(md5('hll:' || l_orderkey), 1, 15))::BIGINT AS hv
            FROM lineitem)
"""

_HLL_EST_SQL = f"""
      SELECT grp_rf,
        CASE WHEN {_HLL_ALPHA_MM!r} / z <= {2.5 * _HLL_M!r} AND v > 0
             THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v)
             ELSE {_HLL_ALPHA_MM!r} / z END AS est
      FROM (
        SELECT grp_rf, ({_HLL_M} - count(*)) AS v,
               CAST(sum(CAST(pow(2, {_HLL_WIDTH + 1} - maxrank) AS BIGINT))
                    + ({_HLL_M} - count(*)) * {_HLL_SCALE} AS DOUBLE)
               / {float(_HLL_SCALE)!r} AS z
        FROM regs GROUP BY grp_rf
      )
"""


@register(
    "sketch_hll_distinct_merge",
    tier="extra",
    oracle=f"""
    WITH raw AS ({_HLL_REG_SQL}),
    regs AS (
      SELECT rf AS grp_rf, register, max(rank) AS maxrank
      FROM raw GROUP BY rf, register
    ),
    est_w AS ({_HLL_EST_SQL}),
    regs_a AS (
      SELECT rf AS grp_rf, register, max(rank) AS maxrank
      FROM raw WHERE half = 0 GROUP BY rf, register
    ),
    regs_b AS (
      SELECT rf AS grp_rf, register, max(rank) AS maxrank
      FROM raw WHERE half = 1 GROUP BY rf, register
    ),
    regs_m AS (
      SELECT grp_rf, register, max(maxrank) AS maxrank FROM (
        SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b
      ) GROUP BY grp_rf, register
    ),
    est_m AS (
      SELECT grp_rf, est AS est_merged FROM (
        SELECT grp_rf,
          CASE WHEN {_HLL_ALPHA_MM!r} / z <= {2.5 * _HLL_M!r} AND v > 0
               THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / v)
               ELSE {_HLL_ALPHA_MM!r} / z END AS est
        FROM (
          SELECT grp_rf, ({_HLL_M} - count(*)) AS v,
                 CAST(sum(CAST(pow(2, {_HLL_WIDTH + 1} - maxrank) AS BIGINT))
                      + ({_HLL_M} - count(*)) * {_HLL_SCALE} AS DOUBLE)
                 / {float(_HLL_SCALE)!r} AS z
          FROM regs_m GROUP BY grp_rf
        )
      )
    ),
    exact AS (
      SELECT l_returnflag AS grp_rf,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT x.grp_rf AS l_returnflag, x.n_exact,
           round(w.est, 2) AS hll_est,
           round(m.est_merged, 2) AS hll_est_merged,
           round(100 * abs(w.est / x.n_exact - 1), 2) AS pct_err
    FROM exact x JOIN est_w w USING (grp_rf) JOIN est_m m USING (grp_rf)
    ORDER BY l_returnflag
    """,
    doc="HyperLogLog distinct orders per returnflag with the sketch's "
    "two load-bearing properties proven IN the query: the estimate is "
    "compared against the exact distinct count (measured pct_err — at "
    "p=10 the standard error is ~3.2%), and the union of two "
    "half-corpus sketches re-maxed per register yields an estimate "
    "from the MERGED sketch (hll_est_merged), the cross-corpus merge a "
    "100 TB deployment relies on.  Registers are one partial-agg "
    "groupBy (≤1024 rows/group leave the map side); the harmonic-mean "
    "denominator is an exact integer sum, so the estimate is "
    "bit-reproducible under any aggregation order — which is what "
    "makes this DuckDB-oracle-checkable at all.",
)
def sketch_hll_distinct_merge(spark, sf_dir):
    from ..operators import sketch as SK

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_orderkey").alias("item"),
        (F.col("l_orderkey") % 2).alias("half"),
    )
    whole = SK.hll_sketch(base, group_col="rf", item_col="item", p=_HLL_P)
    ha = SK.hll_sketch(
        base.filter(F.col("half") == 0), group_col="rf", item_col="item", p=_HLL_P
    )
    hb = SK.hll_sketch(
        base.filter(F.col("half") == 1), group_col="rf", item_col="item", p=_HLL_P
    )
    merged = (
        ha.unionByName(hb)
        .groupBy("rf", "register")
        .agg(F.max("maxrank").alias("maxrank"))
    )
    est_w = SK.hll_estimate(whole, group_col="rf", p=_HLL_P, est_col="hll_est")
    est_m = SK.hll_estimate(
        merged, group_col="rf", p=_HLL_P, est_col="hll_est_merged"
    )
    exact = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.countDistinct("l_orderkey").alias("n_exact")
    )
    return (
        exact.join(est_w, "rf")
        .join(est_m, "rf")
        .select(
            F.col("rf").alias("l_returnflag"),
            "n_exact",
            F.round("hll_est", 2).alias("hll_est"),
            F.round("hll_est_merged", 2).alias("hll_est_merged"),
            F.round(
                100 * F.abs(F.col("hll_est") / F.col("n_exact") - 1), 2
            ).alias("pct_err"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "sketch_histogram_quantiles",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM lineitem
    ),
    h AS (
      SELECT l_returnflag AS rf,
             CAST(least(127, floor((l_extendedprice - lo) / (hi - lo) * 128))
                  AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem, b GROUP BY 1, 2
    ),
    cum AS (
      SELECT rf, bin, c,
             sum(c) OVER (PARTITION BY rf ORDER BY bin) AS cc,
             sum(c) OVER (PARTITION BY rf) AS total
      FROM h
    ),
    est AS (
      SELECT rf,
             min(CASE WHEN cc >= 0.5 * total THEN bin END) AS b50,
             min(CASE WHEN cc >= 0.95 * total THEN bin END) AS b95
      FROM cum GROUP BY rf
    ),
    exact AS (
      SELECT l_returnflag AS rf,
             median(l_extendedprice) AS exact_p50,
             quantile_cont(l_extendedprice, 0.95) AS exact_p95
      FROM lineitem GROUP BY rf
    )
    SELECT x.rf AS l_returnflag,
           floor(x.exact_p50 * 100 + 0.5) / 100.0 AS exact_p50,
           floor((lo + (e.b50 + 1) * (hi - lo) / 128) * 100 + 0.5)
             / 100.0 AS hist_p50,
           floor(x.exact_p95 * 100 + 0.5) / 100.0 AS exact_p95,
           floor((lo + (e.b95 + 1) * (hi - lo) / 128) * 100 + 0.5)
             / 100.0 AS hist_p95
    FROM exact x JOIN est e ON x.rf = e.rf, b
    ORDER BY l_returnflag
    """,
    doc="Equi-width histogram sketch (128 bins on GLOBAL bounds) with "
    "quantile estimation vs the exact answer: the sketch is one "
    "partial-agg groupBy (<= groups x 128 rows leave the map side), "
    "merges across corpora bin-wise BECAUSE the bounds are global, "
    "and p50/p95 read off the cumulative histogram without ever "
    "rescanning the corpus — the ANALYZE-statistics shape; the "
    "histogram estimate is the bin's upper edge, so its error is "
    "bounded by one bin width ((hi-lo)/128), visible against the "
    "exact interpolated percentiles in the same row.",
)
def sketch_histogram_quantiles(spark, sf_dir):
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        F.col("l_returnflag").alias("rf"),
        "lo",
        "hi",
        F.least(
            F.lit(127),
            F.floor(
                (F.col("l_extendedprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 128
            ),
        ).cast("bigint").alias("bin"),
    )
    h = binned.groupBy("rf", "bin").agg(F.count("*").alias("c"))
    wc = Window.partitionBy("rf").orderBy("bin")
    wt = Window.partitionBy("rf")
    cum = h.withColumn("cc", F.sum("c").over(wc)).withColumn(
        "total", F.sum("c").over(wt)
    )
    est = cum.groupBy("rf").agg(
        F.min(F.when(F.col("cc") >= 0.5 * F.col("total"), F.col("bin"))).alias(
            "b50"
        ),
        F.min(
            F.when(F.col("cc") >= 0.95 * F.col("total"), F.col("bin"))
        ).alias("b95"),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("rf")).agg(
        F.median("l_extendedprice").alias("exact_p50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("exact_p95"),
    )
    return (
        exact.join(est, "rf")
        .crossJoin(F.broadcast(bounds))
        .select(
            F.col("rf").alias("l_returnflag"),
            # floor(x*100+0.5)/100 instead of round(x,2): Spark rounds
            # exact-decimal, DuckDB scaled-float — identical doubles can
            # ROUND differently at a half-cent boundary (p50 flipped
            # 52724.24 vs .25 at sf0.001); floor on identical doubles
            # cannot diverge
            (F.floor(F.col("exact_p50") * 100 + 0.5) / 100.0).alias(
                "exact_p50"
            ),
            (
                F.floor(
                    (
                        F.col("lo")
                        + (F.col("b50") + 1)
                        * (F.col("hi") - F.col("lo"))
                        / 128
                    )
                    * 100
                    + 0.5
                )
                / 100.0
            ).alias("hist_p50"),
            (F.floor(F.col("exact_p95") * 100 + 0.5) / 100.0).alias(
                "exact_p95"
            ),
            (
                F.floor(
                    (
                        F.col("lo")
                        + (F.col("b95") + 1)
                        * (F.col("hi") - F.col("lo"))
                        / 128
                    )
                    * 100
                    + 0.5
                )
                / 100.0
            ).alias("hist_p95"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "privacy_k_anonymity",
    tier="extra",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             c_mktsegment,
             CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(*) FILTER (WHERE n < 5) AS BIGINT) AS cells_below_k,
           CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT)
             AS rows_to_suppress,
           round(coalesce(sum(n) FILTER (WHERE n < 5), 0)
                 / CAST(sum(n) AS DOUBLE), 6) AS suppress_frac,
           CAST(min(n) AS BIGINT) AS min_cell
    FROM cells GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    doc="k-anonymity audit (k=5) over the quasi-identifier tuple "
    "(nation, account-balance band, market segment): per nation, how "
    "many equivalence cells exist, how many fall below k, and the "
    "fraction of rows that would need suppression/generalization "
    "before release — the compliance-side complement of the PII "
    "scrubber.  Two chained partial-agg groupBys (cell sizes, then "
    "per-nation rollup); nothing row-level ever leaves the map side, "
    "which is also the privacy-friendly property.",
)
def privacy_k_anonymity(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    cells = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").alias("n"))
    below = F.col("n") < 5
    return (
        cells.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_cells"),
            F.count_if(below).alias("cells_below_k"),
            F.coalesce(F.sum(F.when(below, F.col("n"))), F.lit(0)).alias(
                "rows_to_suppress"
            ),
            F.round(
                F.coalesce(F.sum(F.when(below, F.col("n"))), F.lit(0))
                / F.sum("n").cast("double"),
                6,
            ).alias("suppress_frac"),
            F.min("n").alias("min_cell"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "stats_correlation_matrix",
    tier="extra",
    oracle="""
    SELECT 'quantity_price' AS pair,
           round(corr(l_quantity, l_extendedprice), 6) AS pearson_r
    FROM lineitem
    UNION ALL
    SELECT 'quantity_discount', round(corr(l_quantity, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'price_discount', round(corr(l_extendedprice, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'price_tax', round(corr(l_extendedprice, l_tax), 6)
    FROM lineitem
    ORDER BY pair
    """,
    doc="Pairwise Pearson correlations across lineitem's numeric "
    "columns in ONE aggregation pass (all corr() accumulators share "
    "the single scan; partial-agg merges the co-moment sufficient "
    "statistics) — the ANALYZE-layer signal behind join-reorder and "
    "predicate-selectivity estimates.",
)
def stats_correlation_matrix(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("a"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("b"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("c"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("d"),
    )
    return row.selectExpr(
        """stack(4,
             'quantity_price', a,
             'quantity_discount', b,
             'price_discount', c,
             'price_tax', d
           ) AS (pair, pearson_r)"""
    ).orderBy("pair")


@register(
    "stats_outlier_mad",
    tier="extra",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT m.event_type, m.n,
           round(m.med, 4) AS med,
           round(d.mad, 4) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY m.event_type, m.n, m.med, d.mad
    ORDER BY m.event_type
    """,
    doc="Robust (median/MAD) outlier detection per group: |x - median| "
    "> 3 * 1.4826 * MAD, the consistency-scaled median absolute "
    "deviation — unlike the z-score pass, the threshold itself is "
    "immune to the outliers it hunts (mean and stddev are dragged by "
    "the very glitches they're meant to catch; medians are not).  Two "
    "exact-percentile group passes + two broadcast joins of the tiny "
    "per-group stats back onto the stream; row data never shuffles.",
)
def stats_outlier_mad(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med"),
        F.count("*").alias("n"),
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias(
                "mad"
            )
        )
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@register(
    "stats_psi_drift",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT CAST(epoch(min(ts)) AS BIGINT) AS e0,
             CAST(epoch(max(ts)) AS BIGINT) AS e1,
             min(value) AS v0, max(value) AS v1
      FROM events
    ),
    sided AS (
      SELECT CASE WHEN CAST(epoch(ts) AS BIGINT)
                       <= CAST(floor((e0 + e1) / 2.0) AS BIGINT)
                  THEN 'ref' ELSE 'cur' END AS side,
             CAST(least(9, floor((value - v0) / (v1 - v0) * 10)) AS INT)
               AS bin
      FROM events, b
    ),
    counts AS (
      SELECT CAST(t.i AS INT) AS bin,
             CAST(coalesce(sum(CASE WHEN side = 'ref' THEN 1 END), 0)
                  AS BIGINT) AS n_ref,
             CAST(coalesce(sum(CASE WHEN side = 'cur' THEN 1 END), 0)
                  AS BIGINT) AS n_cur
      FROM range(10) t(i) LEFT JOIN sided ON sided.bin = t.i
      GROUP BY t.i
    ),
    terms AS (
      SELECT bin, n_ref, n_cur,
             ((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0)
              - (n_cur + 0.5) / (sum(n_cur) OVER () + 5.0))
             * ln(((n_ref + 0.5) / (sum(n_ref) OVER () + 5.0))
                  / ((n_cur + 0.5) / (sum(n_cur) OVER () + 5.0))) AS term
      FROM counts
    )
    SELECT bin, n_ref, n_cur,
           round(term, 6) AS psi_term,
           round(sum(term) OVER (), 6) AS psi_total
    FROM terms ORDER BY bin
    """,
    doc="Population Stability Index between the first and second half "
    "of the events time range over 10 equal-width value bins — the "
    "distribution-drift check a training pipeline runs between corpus "
    "snapshots before trusting a refreshed mixture.  Laplace-smoothed "
    "(+0.5 per bin) so empty bins contribute finite terms; PSI >= 0.25 "
    "is the conventional 'population shifted' alarm.  Scale shape: one "
    "1-row bounds aggregate broadcast back onto the stream (rows never "
    "shuffle for binning), ONE partial-agg groupBy on (bin), then all "
    "window math runs on the 10-row bin table.",
)
def stats_psi_drift(spark, sf_dir):
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select("ts", "value")
    bounds = e.agg(
        F.min(F.unix_timestamp("ts")).alias("e0"),
        F.max(F.unix_timestamp("ts")).alias("e1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    )
    j = e.crossJoin(F.broadcast(bounds))
    mid = F.floor((F.col("e0") + F.col("e1")) / F.lit(2.0)).cast("long")
    bin_ = F.least(
        F.lit(9),
        F.floor(
            (F.col("value") - F.col("v0"))
            / (F.col("v1") - F.col("v0"))
            * 10
        ),
    ).cast("int")
    sided = j.select(
        F.when(F.unix_timestamp("ts") <= mid, F.lit("ref"))
        .otherwise(F.lit("cur"))
        .alias("side"),
        bin_.alias("bin"),
    )
    counts = sided.groupBy("bin").agg(
        F.sum(F.when(F.col("side") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("side") == "cur", 1).otherwise(0)).alias("n_cur"),
    )
    # 10-bin spine so bins empty on BOTH sides still appear (smoothed)
    spine = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    counts = (
        spine.join(counts, "bin", "left")
        .fillna(0, ["n_ref", "n_cur"])
        .select(
            "bin",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
        )
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    p = (F.col("n_ref") + 0.5) / (F.sum("n_ref").over(w) + 5.0)
    q = (F.col("n_cur") + 0.5) / (F.sum("n_cur").over(w) + 5.0)
    term = (p - q) * F.log(p / q)
    return counts.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(w), 6).alias("psi_total"),
    ).orderBy("bin")


@register(
    "stats_markov_transitions",
    tier="extra",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type AS next_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 4)
             AS prob
    FROM pairs ORDER BY prev_type, next_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next event type | current) — the behavioral model "
    "behind next-action prediction, anomalous-session scoring, and "
    "synthetic-sequence generation.  Scale shape: ONE shuffle on "
    "user_id for the lag window (the sequence state is one row), a "
    "partial-agg count to the |types|^2 transition table, and the "
    "probability normalization runs on that tiny table.",
)
def stats_markov_transitions(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    w_prev = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_prev), 4).alias("prob"),
    ).orderBy("prev_type", "next_type")


@register(
    "stats_decayed_engagement",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax FROM events
    ),
    scored AS (
      SELECT user_id,
             sum(value * exp(-(ln(2) / 604800.0)
                             * (tmax - CAST(floor(epoch(ts)) AS BIGINT))))
               AS score,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events, b
      GROUP BY user_id
    )
    SELECT user_id, round(score, 6) AS decayed_score, n_events
    FROM scored
    ORDER BY decayed_score DESC, user_id
    LIMIT 20
    """,
    doc="Exponentially time-decayed engagement leaderboard: each "
    "event's value is discounted by exp(-ln2/halflife * age) with a "
    "7-day half-life anchored at the corpus max timestamp — the "
    "recency-weighted scoring behind trending ranks and freshness-"
    "aware sampling weights (a decayed sum is ALSO incrementally "
    "maintainable: scaling yesterday's total by one decay factor "
    "absorbs a new day without rescanning history).  Scale shape: "
    "1-row max-ts aggregate broadcast back, per-user partial agg, "
    "TakeOrderedAndProject top-20.",
)
def stats_decayed_engagement(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    tmax = e.agg(F.max(F.unix_timestamp("ts")).alias("tmax"))
    lam = 0.6931471805599453 / 604800.0  # ln(2) / 7 days
    return (
        e.crossJoin(F.broadcast(tmax))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.col("value")
                    * F.exp(
                        -F.lit(lam)
                        * (F.col("tmax") - F.unix_timestamp("ts"))
                    )
                ),
                6,
            ).alias("decayed_score"),
            F.count("*").alias("n_events"),
        )
        .orderBy(F.desc("decayed_score"), "user_id")
        .limit(20)
    )


@register(
    "abtest_cuped_adjusted",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((floor(epoch(min(ts))) + floor(epoch(max(ts))))
                        / 2.0) AS BIGINT) AS mid
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             coalesce(sum(CASE WHEN floor(epoch(ts)) < mid
                               THEN value END), 0) AS x,
             coalesce(sum(CASE WHEN floor(epoch(ts)) >= mid
                               THEN value END), 0) AS y
      FROM events, b
      GROUP BY user_id
    ),
    theta AS (
      SELECT covar_pop(x, y) / nullif(var_pop(x), 0) AS th,
             avg(x) AS mx
      FROM per_user
    ),
    adj AS (
      SELECT arm, y, y - th * (x - mx) AS y_adj
      FROM per_user, theta
    )
    SELECT arm,
           CAST(count(*) AS BIGINT)      AS n_users,
           round(avg(y), 4)              AS mean_y,
           round(avg(y_adj), 4)          AS mean_y_cuped,
           round(100 * (1 - var_pop(y_adj) / var_pop(y)), 2) + 0.0
                                         AS var_reduction_pct
    FROM adj GROUP BY arm ORDER BY arm
    """,
    doc="CUPED variance-reduced A/B metric (Deng et al., WSDM'13): "
    "users are deterministically hash-assigned to two arms, the "
    "events time range is halved into pre/post periods, and the "
    "post-period metric is adjusted by theta*(x - mean(x)) with "
    "theta = cov(x,y)/var(x) fit on the pre-period covariate — the "
    "standard trick that shrinks experiment confidence intervals "
    "using only data the experiment already has.  Scale shape: ONE "
    "partial-agg groupBy(user_id) builds both period sums in a "
    "single events scan (1-row mid-point broadcast first), theta is "
    "a 1-row aggregate broadcast back onto the per-user table, and "
    "the final per-arm reduce touches |users| rows.  No row-level "
    "data is shuffled twice; everything after the first groupBy is "
    "per-user sized.",
)
def abtest_cuped_adjusted(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    s = F.unix_timestamp("ts")
    b = e.agg(
        F.floor((F.min(s) + F.max(s)) / F.lit(2.0)).cast("long").alias("mid")
    )
    per_user = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(s < F.col("mid"), F.col("value"))), F.lit(0.0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(s >= F.col("mid"), F.col("value"))), F.lit(0.0)
            ).alias("y"),
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    theta = per_user.agg(
        (F.covar_pop("x", "y") / F.nullif(F.var_pop("x"), F.lit(0.0))).alias(
            "th"
        ),
        F.avg("x").alias("mx"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).withColumn(
        "y_adj", F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg("y_adj"), 4).alias("mean_y_cuped"),
            # + 0.0 collapses IEEE -0.0 (a rounded -1e-15) to +0.0 so
            # both engines hash identically when CUPED gains nothing
            (
                F.round(100 * (1 - F.var_pop("y_adj") / F.var_pop("y")), 2)
                + F.lit(0.0)
            ).alias("var_reduction_pct"),
        )
        .orderBy("arm")
    )


# Poisson(1) CDF ladder for bootstrap weights — identical double
# literals in the Spark builder and the DuckDB oracle so the drawn
# weights match bit-for-bit in both engines.
_POIS1_CDF = (
    0.36787944117,  # P(X <= 0)
    0.73575888234,
    0.91969860293,
    0.98101184313,
    0.99634015317,
    0.99940581518,
    0.99991675551,  # P(X <= 6); else 7
)


def _pois_case_sql(u_expr: str) -> str:
    parts = [
        f"WHEN {u_expr} < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CDF)
    ]
    return "CASE " + " ".join(parts) + " ELSE 7 END"


@register(
    "abtest_bootstrap_ci",
    tier="extra",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             sum(value) AS y
      FROM events GROUP BY user_id
    ),
    weighted AS (
      SELECT arm, CAST(t.r AS INT) AS r, y,
             {_pois_case_sql(
                 "((('0x' || substr(md5('bs' || CAST(t.r AS VARCHAR) || ':'"
                 " || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT + 1)"
                 " / 4294967296.0)"
             )} AS w
      FROM per_user, range(16) t(r)
    ),
    reps AS (
      SELECT arm, r, sum(w * y) / nullif(sum(w), 0) AS wmean
      FROM weighted GROUP BY arm, r
    ),
    pt AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
             avg(y) AS mean_y
      FROM per_user GROUP BY arm
    )
    SELECT pt.arm, n_users, round(mean_y, 4) AS mean_y,
           round(stddev_samp(wmean), 4) AS se_bootstrap,
           round(avg(wmean) - 1.96 * stddev_samp(wmean), 4) AS ci_lo,
           round(avg(wmean) + 1.96 * stddev_samp(wmean), 4) AS ci_hi
    FROM reps JOIN pt ON reps.arm = pt.arm
    GROUP BY pt.arm, n_users, mean_y ORDER BY pt.arm
    """,
    doc="Poisson-bootstrap confidence intervals for the A/B metric "
    "(the scalable bootstrap: instead of resampling rows — impossible "
    "to coordinate across a cluster — every user draws an independent "
    "Poisson(1) weight per replicate, which converges to the "
    "multinomial bootstrap at corpus size).  Weights are DETERMINISTIC "
    "md5-derived draws through a shared Poisson CDF ladder, so the "
    "same user gets the same 16 weights across runs, engines, and "
    "task retries — the reproducibility property rand()-based "
    "bootstraps cannot give.  Arms match abtest_cuped_adjusted's "
    "assignment (same experiment).  Scale shape: one partial-agg "
    "groupBy(user_id), a map-side 16-way replicate fan-out of the "
    "|users|-sized table (raw events are scanned once and never "
    "touched again), a (arm, replicate) partial agg of 32 cells, and "
    "a final per-arm reduce over 16 replicate means.",
)
def abtest_bootstrap_ci(spark: SparkSession, sf_dir: str):
    R = 16
    e = table(spark, sf_dir, "events").select("user_id", "value")
    per_user = (
        e.groupBy("user_id")
        .agg(F.sum("value").alias("y"))
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    rep = per_user.select(
        "user_id",
        "arm",
        "y",
        F.explode(F.array(*[F.lit(r) for r in range(R)])).alias("r"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bs"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    ) / F.lit(4294967296.0)
    w = F.lit(7)
    for k, c in reversed(list(enumerate(_POIS1_CDF))):
        w = F.when(u < F.lit(c), F.lit(k)).otherwise(w)
    reps = (
        rep.withColumn("w", w)
        .groupBy("arm", "r")
        .agg(
            # nullif-guard: a replicate where every user in an arm drew
            # weight 0 (possible at tiny corpus sizes) yields a NULL
            # mean that avg/stddev_samp skip — identically in DuckDB.
            (
                F.sum(F.col("w") * F.col("y"))
                / F.nullif(F.sum("w"), F.lit(0))
            ).alias("wmean")
        )
    )
    pt = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"), F.avg("y").alias("mean_y")
    )
    return (
        reps.groupBy("arm")
        .agg(
            F.round(
                F.avg("wmean") - 1.96 * F.stddev_samp("wmean"), 4
            ).alias("ci_lo"),
            F.round(
                F.avg("wmean") + 1.96 * F.stddev_samp("wmean"), 4
            ).alias("ci_hi"),
            F.round(F.stddev_samp("wmean"), 4).alias("se_bootstrap"),
        )
        .join(F.broadcast(pt), "arm")
        .select(
            "arm",
            "n_users",
            F.round("mean_y", 4).alias("mean_y"),
            "se_bootstrap",
            "ci_lo",
            "ci_hi",
        )
        .orderBy("arm")
    )


@register(
    "abtest_srm_chisquare",
    tier="extra",
    oracle="""
    WITH armed AS (
      SELECT DISTINCT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM events
    ),
    counts AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_users
      FROM armed GROUP BY arm
    ),
    tot AS (
      SELECT arm, n_users,
             sum(n_users) OVER () / 2.0 AS expected
      FROM counts
    )
    SELECT arm, n_users, round(expected, 1) AS expected,
           round(sum((n_users - expected) * (n_users - expected)
                     / expected) OVER (), 6) AS chi2,
           sum((n_users - expected) * (n_users - expected)
               / expected) OVER () > 3.841 AS srm_flag
    FROM tot ORDER BY arm
    """,
    doc="Sample-ratio-mismatch guard for the A/B suite: the FIRST "
    "check any experiment readout must pass before CUPED or bootstrap "
    "CIs mean anything.  Users are deterministically hash-assigned "
    "(same md5 rule as abtest_cuped_adjusted / abtest_bootstrap_ci), "
    "observed per-arm user counts are tested against the designed "
    "50/50 split with a one-degree chi-square; chi2 > 3.841 (p<0.05) "
    "flags a broken randomizer or a logging loss biased by arm — the "
    "failure mode that silently invalidates every downstream metric.  "
    "Scale shape: ONE distinct-aggregate on user_id (partial-agg "
    "friendly), then all chi-square math runs on the 2-row arm table.",
)
def abtest_srm_chisquare(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    armed = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    counts = armed.groupBy("arm").agg(F.count("*").alias("n_users"))
    w = Window.partitionBy()
    expected = F.sum("n_users").over(w) / F.lit(2.0)
    withexp = counts.withColumn("expected", expected)
    chi_term = (
        (F.col("n_users") - F.col("expected"))
        * (F.col("n_users") - F.col("expected"))
        / F.col("expected")
    )
    return (
        withexp.withColumn("chi2_raw", F.sum(chi_term).over(w))
        .select(
            "arm",
            "n_users",
            F.round("expected", 1).alias("expected"),
            F.round("chi2_raw", 6).alias("chi2"),
            (F.col("chi2_raw") > 3.841).alias("srm_flag"),
        )
        .orderBy("arm")
    )


@register(
    "stats_winsorized_segment_spend",
    tier="extra",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    pct AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             avg(price) AS raw_mean,
             quantile_cont(price, 0.05) AS p05,
             quantile_cont(price, 0.95) AS p95
      FROM j GROUP BY segment
    )
    SELECT j.segment, n,
           round(raw_mean, 4) AS raw_mean,
           round(p05, 4) AS p05,
           round(p95, 4) AS p95,
           round(avg(greatest(p05, least(p95, price))), 4)
             AS winsorized_mean,
           round(avg(CASE WHEN price BETWEEN p05 AND p95
                          THEN price END), 4) AS trimmed_mean
    FROM j JOIN pct ON j.segment = pct.segment
    GROUP BY j.segment, n, raw_mean, p05, p95
    ORDER BY j.segment
    """,
    doc="Robust segment-spend summary: per market segment, the raw "
    "mean of order totals beside its 5/95-winsorized mean (tails "
    "clamped to the exact per-segment percentiles) and its trimmed "
    "mean (tails excluded) — the standard way to report a spend KPI "
    "that a handful of whale orders would otherwise own.  Scale "
    "shape: broadcast customer-dim join, ONE exact-percentile "
    "groupBy per segment, then the tiny per-segment stats broadcast "
    "back onto the stream for a second partial-agg pass; order rows "
    "shuffle once (and never for the clamp).",
)
def stats_winsorized_segment_spend(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    ).select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price"))
    # one array-percentile: a single exact-percentile buffer per group
    # instead of two (identical values; see feature_woe_iv, r16)
    _ps = F.percentile("price", F.array(F.lit(0.05), F.lit(0.95)))
    pct = j.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.avg("price").alias("raw_mean"),
        _ps[0].alias("p05"),
        _ps[1].alias("p95"),
    )
    clamped = F.greatest("p05", F.least("p95", F.col("price")))
    return (
        j.join(F.broadcast(pct), "segment")
        .groupBy("segment", "n", "raw_mean", "p05", "p95")
        .agg(
            F.avg(clamped).alias("w_mean"),
            F.avg(
                F.when(
                    F.col("price").between(F.col("p05"), F.col("p95")),
                    F.col("price"),
                )
            ).alias("t_mean"),
        )
        .select(
            "segment",
            "n",
            F.round("raw_mean", 4).alias("raw_mean"),
            F.round("p05", 4).alias("p05"),
            F.round("p95", 4).alias("p95"),
            F.round("w_mean", 4).alias("winsorized_mean"),
            F.round("t_mean", 4).alias("trimmed_mean"),
        )
        .orderBy("segment")
    )


@register(
    "stats_hhi_concentration",
    tier="extra",
    oracle="""
    WITH srev AS (
      SELECT n.n_name, l.l_suppkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, l.l_suppkey
    ),
    tot AS (
      SELECT n_name, l_suppkey, rev,
             sum(rev) OVER (PARTITION BY n_name) AS tot,
             max(rev) OVER (PARTITION BY n_name) AS top_rev
      FROM srev
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum((rev / tot) * (rev / tot)) * 10000, 2) AS hhi,
           round(max(top_rev / tot), 4) AS top_share
    FROM tot GROUP BY n_name ORDER BY n_name
    """,
    doc="Herfindahl-Hirschman concentration of supplier revenue per "
    "nation: HHI = 10000 * sum(share^2) over each nation's supplier "
    "revenue shares, plus the single largest supplier's share — the "
    "metric a sourcing (or corpus-mixture!) review uses to spot a "
    "market one player dominates; the same math flags a training "
    "mixture one domain dominates.  Scale shape: two broadcast dim "
    "joins onto lineitem, ONE partial-agg groupBy to "
    "(nation, supplier) revenue, then windows + the final reduce run "
    "on the |suppliers|-row table partitioned by nation.",
)
def stats_hhi_concentration(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    srev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum("r").alias("rev"))
    )
    w = Window.partitionBy("n_name")
    tot = srev.select(
        "n_name",
        "rev",
        F.sum("rev").over(w).alias("tot"),
        F.max("rev").over(w).alias("top_rev"),
    )
    share = F.col("rev") / F.col("tot")
    return (
        tot.groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(share * share) * 10000, 2).alias("hhi"),
            F.round(F.max(F.col("top_rev") / F.col("tot")), 4).alias(
                "top_share"
            ),
        )
        .orderBy("n_name")
    )


@register(
    "stats_gini_brand_revenue",
    tier="extra",
    oracle="""
    WITH prev AS (
      SELECT p.p_brand, l.l_partkey,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey
    ),
    ranked AS (
      SELECT p_brand, rev,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY rev, l_partkey) AS i,
             count(*) OVER (PARTITION BY p_brand) AS n,
             sum(rev) OVER (PARTITION BY p_brand) AS tot,
             sum(rev) OVER (PARTITION BY p_brand
                            ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) - rev AS cum_excl
      FROM prev
    )
    SELECT p_brand,
           CAST(max(n) AS BIGINT) AS n_parts,
           round(2.0 * sum(i * rev) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 4) AS gini,
           CAST(sum(CASE WHEN cum_excl < 0.8 * tot THEN 1 ELSE 0 END)
                AS BIGINT) AS n_parts_80pct
    FROM ranked GROUP BY p_brand ORDER BY p_brand
    """,
    doc="Lorenz-curve concentration per brand: the Gini coefficient "
    "of revenue across each brand's sold parts (rank formula "
    "2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending revenue) and "
    "the Pareto count — how many top parts cover 80% of the brand's "
    "revenue.  The corpus-curation twin is 'how few documents own "
    "80% of the tokens'.  Scale shape: broadcast part-dim join, ONE "
    "partial-agg groupBy to (brand, part) revenue, then both rank "
    "windows share the single hash partitioning on brand (two sorts, "
    "one exchange) and the final reduce is per brand.",
)
def stats_gini_brand_revenue(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    prev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum("r").alias("rev"))
    )
    wb = Window.partitionBy("p_brand")
    asc = wb.orderBy("rev", "l_partkey")
    desc = wb.orderBy(F.desc("rev"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = prev.select(
        "p_brand",
        "rev",
        F.row_number().over(asc).alias("i"),
        F.count("*").over(wb).alias("n"),
        F.sum("rev").over(wb).alias("tot"),
        (F.sum("rev").over(desc) - F.col("rev")).alias("cum_excl"),
    )
    return (
        ranked.groupBy("p_brand")
        .agg(
            F.max("n").alias("n_parts"),
            F.round(
                2.0
                * F.sum(F.col("i") * F.col("rev"))
                / (F.max("n") * F.max("tot"))
                - (F.max("n") + 1.0) / F.max("n"),
                4,
            ).alias("gini"),
            F.sum(
                F.when(F.col("cum_excl") < 0.8 * F.col("tot"), 1).otherwise(
                    0
                )
            ).alias("n_parts_80pct"),
        )
        .orderBy("p_brand")
    )


@register(
    "timeseries_seasonal_dow_anomaly",
    tier="extra",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(isodow(date_trunc('day', ts)) AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, dow,
             CAST(count(*) AS BIGINT) AS n_days,
             avg(c) AS mean_c,
             stddev_pop(c) AS std_c
      FROM daily GROUP BY event_type, dow
    )
    SELECT b.event_type, b.dow, b.n_days,
           round(b.mean_c, 4) AS mean_c,
           round(b.std_c, 4) AS std_c,
           CAST(sum(CASE WHEN abs(d.c - b.mean_c) > 2 * b.std_c
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous_days
    FROM daily d JOIN base b
      ON d.event_type = b.event_type AND d.dow = b.dow
    GROUP BY b.event_type, b.dow, b.n_days, b.mean_c, b.std_c
    ORDER BY b.event_type, b.dow
    """,
    doc="Seasonal-baseline anomaly detection: daily event counts are "
    "compared against their own day-of-week baseline (mean/std over "
    "the weeks in range, ISO dow 1=Mon..7=Sun on both engines), "
    "flagging days more than 2 sigma off their weekday norm — the "
    "cross-sectional complement to timeseries_ewma_anomaly's "
    "sequential control chart: a quiet Sunday is normal, the same "
    "count on a Tuesday is an incident.  Scale shape: ONE partial-agg "
    "groupBy collapses the stream to |types| x |days| cells; the "
    "baseline and the re-join both run on that tiny table (broadcast "
    "hash join), so raw events shuffle exactly once.",
)
def timeseries_seasonal_dow_anomaly(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("d"),
        )
        .agg(F.count("*").alias("c"))
        .withColumn(
            "dow", (F.weekday(F.col("d")) + F.lit(1)).cast("int")
        )
    )
    base = daily.groupBy("event_type", "dow").agg(
        F.count("*").alias("n_days"),
        F.avg("c").alias("mean_c"),
        F.stddev_pop("c").alias("std_c"),
    )
    return (
        daily.join(F.broadcast(base), ["event_type", "dow"])
        .groupBy("event_type", "dow", "n_days", "mean_c", "std_c")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("c") - F.col("mean_c"))
                    > 2 * F.col("std_c"),
                    1,
                ).otherwise(0)
            ).alias("n_anomalous_days")
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            F.round("mean_c", 4).alias("mean_c"),
            F.round("std_c", 4).alias("std_c"),
            "n_anomalous_days",
        )
        .orderBy("event_type", "dow")
    )


@register(
    "stats_benford_first_digit",
    tier="extra",
    oracle="""
    WITH d AS (
      SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]')
                  AS INT) AS digit
      FROM orders
    ),
    cells AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    t AS (
      SELECT digit, n,
             CAST(sum(n) OVER () AS DOUBLE) AS tot,
             log10(1 + 1.0 / digit) AS p
      FROM cells
    )
    SELECT digit, n,
           round(n / tot, 4) AS obs_pct,
           round(p, 4) AS benford_pct,
           round(sum((n - tot * p) * (n - tot * p) / (tot * p))
                 OVER (), 4) AS chi2_total
    FROM t ORDER BY digit
    """,
    doc="Benford's-law first-digit audit of order totals: observed "
    "leading-digit frequencies against log10(1 + 1/d), with the "
    "8-degree chi-square — the classic forensic-accounting / "
    "data-quality screen for fabricated or re-scaled numeric columns "
    "(synthetic uniform data fails it loudly, which is itself "
    "informative for test fixtures).  The digit is taken from the "
    "decimal string on BOTH engines so no log10/pow float edge can "
    "disagree at a power-of-ten boundary.  Scale shape: map-side "
    "digit extraction, ONE partial-agg groupBy to 9 cells, window "
    "math on the 9-row table.",
)
def stats_benford_first_digit(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = table(spark, sf_dir, "orders").select(
        F.regexp_extract(
            F.col("o_totalprice").cast("string"), "[1-9]", 0
        )
        .cast("int")
        .alias("digit")
    )
    cells = d.groupBy("digit").agg(F.count("*").alias("n"))
    w = Window.partitionBy()
    t = cells.select(
        "digit",
        "n",
        F.sum("n").over(w).cast("double").alias("tot"),
        F.log10(1 + 1.0 / F.col("digit")).alias("p"),
    )
    chi = (
        (F.col("n") - F.col("tot") * F.col("p"))
        * (F.col("n") - F.col("tot") * F.col("p"))
        / (F.col("tot") * F.col("p"))
    )
    return t.select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("tot"), 4).alias("obs_pct"),
        F.round("p", 4).alias("benford_pct"),
        F.round(F.sum(chi).over(w), 4).alias("chi2_total"),
    ).orderBy("digit")


@register(
    "stats_ks_two_sample",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((floor(epoch(min(ts))) + floor(epoch(max(ts))))
                        / 2.0) AS BIGINT) AS mid
      FROM events WHERE value IS NOT NULL
    ),
    sided AS (
      SELECT value,
             CASE WHEN floor(epoch(ts)) < mid THEN 1 ELSE 0 END AS is_ref
      FROM events, b
      WHERE value IS NOT NULL
    ),
    pervalue AS (
      SELECT value,
             CAST(sum(is_ref) AS BIGINT) AS n1,
             CAST(sum(1 - is_ref) AS BIGINT) AS n2
      FROM sided GROUP BY value
    ),
    cum AS (
      SELECT sum(n1) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) * 1.0
               / sum(n1) OVER () AS f1,
             sum(n2) OVER (ORDER BY value
                           ROWS UNBOUNDED PRECEDING) * 1.0
               / sum(n2) OVER () AS f2,
             sum(n1) OVER () AS tot1,
             sum(n2) OVER () AS tot2
      FROM pervalue
    )
    SELECT CAST(max(tot1) AS BIGINT) AS n_ref,
           CAST(max(tot2) AS BIGINT) AS n_cur,
           round(max(abs(f1 - f2)), 6) AS ks_d,
           round(max(abs(f1 - f2))
                 * sqrt(max(tot1) * max(tot2) * 1.0
                        / (max(tot1) + max(tot2))), 6) AS ks_stat,
           max(abs(f1 - f2))
             * sqrt(max(tot1) * max(tot2) * 1.0
                    / (max(tot1) + max(tot2))) > 1.358 AS reject_05
    FROM cum
    """,
    doc="Two-sample Kolmogorov-Smirnov test between the first and "
    "second half of the events time range (same mid-split as "
    "stats_psi_drift): D = max |F1(x) - F2(x)| over the pooled "
    "distinct values, with the sqrt(n1*n2/(n1+n2))-scaled statistic "
    "against the 1.358 alpha=0.05 critical value — the "
    "exact-distribution drift test PSI approximates with bins.  "
    "CDFs are evaluated AFTER ties at the distinct-value level so "
    "both engines agree exactly.  Scale shape: ONE partial-agg "
    "groupBy collapses the stream to per-distinct-value side "
    "counts; the cumulative CDFs then run as the DISTRIBUTED "
    "two-phase prefix sum (deterministic value-range buckets ranked "
    "in parallel + a broadcast <=8-row bucket-offset table — the "
    "abtest_mann_whitney_u pattern), so the exact test no longer "
    "pays a global single-task sort of the value domain.",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    # NULL values would sort first in Spark's window ORDER BY but last
    # in DuckDB's, shifting every cumulative sum — and a NULL sample
    # has no place in an empirical CDF anyway: drop on BOTH engines
    e = (
        table(spark, sf_dir, "events")
        .select("ts", "value")
        .filter(F.col("value").isNotNull())
    )
    s = F.unix_timestamp("ts")
    b = e.agg(
        F.floor((F.min(s) + F.max(s)) / F.lit(2.0)).cast("long").alias("mid")
    )
    sided = e.crossJoin(F.broadcast(b)).select(
        "value",
        F.when(s < F.col("mid"), 1).otherwise(0).alias("is_ref"),
    )
    pervalue = sided.groupBy("value").agg(
        F.sum("is_ref").alias("n1"),
        F.sum(1 - F.col("is_ref")).alias("n2"),
    )
    # DISTRIBUTED prefix sum over the distinct-value cells — the same
    # two-phase scan as abtest_mann_whitney_u: `value` can be
    # near-unique, so a global unpartitioned ORDER BY value window
    # would serialize the whole cell table onto one task.  Bucket by
    # value range (boundaries DETERMINISTIC from the 1-row min/max
    # aggregate, never sampled — this frame is read twice: offsets +
    # ranks), rank within each bucket in parallel, add each bucket's
    # broadcast offset.  The only single-task window is the <= nb-row
    # offset table.
    bounds = pervalue.agg(
        F.min("value").alias("vlo"), F.max("value").alias("vhi")
    )
    nb = 8
    parts = pervalue.crossJoin(F.broadcast(bounds)).select(
        "value",
        "n1",
        "n2",
        # pid is internal only — bucketing never reaches the output;
        # range_bucket_pid scales by the actual range so sub-unit
        # value domains keep their parallelism (ADVICE r13)
        range_bucket_pid(
            F.col("value"), F.col("vlo"), F.col("vhi"), nb
        ).alias("pid"),
    )
    ptot = parts.groupBy("pid").agg(
        F.sum("n1").alias("p1"), F.sum("n2").alias("p2")
    )
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ptot.select(
        "pid",
        F.coalesce(F.sum("p1").over(woff), F.lit(0)).alias("off1"),
        F.coalesce(F.sum("p2").over(woff), F.lit(0)).alias("off2"),
    )
    totals = ptot.agg(
        F.sum("p1").alias("tot1"), F.sum("p2").alias("tot2")
    )
    wcum = Window.partitionBy("pid").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        parts.withColumn("c1_in", F.sum("n1").over(wcum))
        .withColumn("c2_in", F.sum("n2").over(wcum))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(totals))
        .select(
            ((F.col("c1_in") + F.col("off1")) / F.col("tot1")).alias("f1"),
            ((F.col("c2_in") + F.col("off2")) / F.col("tot2")).alias("f2"),
            "tot1",
            "tot2",
        )
    )
    d = F.max(F.abs(F.col("f1") - F.col("f2")))
    scale = F.sqrt(
        F.max("tot1") * F.max("tot2") * 1.0
        / (F.max("tot1") + F.max("tot2"))
    )
    return cum.agg(
        F.max("tot1").alias("n_ref"),
        F.max("tot2").alias("n_cur"),
        F.round(d, 6).alias("ks_d"),
        F.round(d * scale, 6).alias("ks_stat"),
        (d * scale > 1.358).alias("reject_05"),
    )


@register(
    "privacy_l_diversity",
    tier="extra",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment, c.c_nationkey,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN l < 3 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_below_l3
    FROM cells GROUP BY l ORDER BY l
    """,
    doc="l-diversity audit over the quasi-identifier (market segment, "
    "nation, account-balance band — the same QI tuple as "
    "privacy_k_anonymity) with o_orderpriority as the sensitive "
    "attribute: the "
    "distribution of distinct-sensitive-value counts per equivalence "
    "group and the row mass in groups below l=3 — k-anonymity's "
    "necessary companion (a large group whose members all share one "
    "sensitive value is still fully disclosed; "
    "privacy_k_anonymity cannot see that).  Scale shape: broadcast "
    "dim join, ONE groupBy with a distinct-count (partial-agg "
    "Expand), then the rollup runs on the |QI-cells| table.",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str):
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "c_nationkey", "bal_band")
        .agg(
            F.countDistinct("o_orderpriority").alias("l"),
            F.count("*").alias("n_rows"),
        )
    )
    return (
        cells.groupBy("l")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n_rows").alias("n_rows"),
            F.sum(
                F.when(F.col("l") < 3, F.col("n_rows")).otherwise(0)
            ).alias("rows_below_l3"),
        )
        .orderBy("l")
    )


@register(
    "stats_selfjoin_blowup_estimate",
    oracle="""
    WITH k AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(sum(c * c) AS BIGINT) AS predicted_pairs,
           CAST(max(c) * max(c) AS BIGINT) AS max_key_pairs,
           round(max(c) * max(c) / (sum(c * c) * 1.0), 4)
             AS top_key_share,
           round(sum(c * c) / (sum(c) * 1.0), 4) AS blowup_factor
    FROM k
    """,
    doc="Self-join blowup prediction WITHOUT executing the join: "
    "|A ⋈_k A| = sum over keys of c_k^2, computed from one "
    "per-key count pass — the pre-flight every inverted-index / "
    "blocking join in this repo should run before committing (the "
    "round-8 fuzzy-linkage fix was exactly a blowup_factor reduction; "
    "dedup's max_doc_freq cap and the prefix filter exist because "
    "this number explodes on hot keys).  blowup_factor = predicted "
    "pairs per input row; top_key_share says whether ONE hot key "
    "owns the cost (salt or cap it) or the mass is spread (repartition "
    "helps).  Scale shape: ONE partial-agg groupBy to |keys| rows, "
    "then a single-row reduce — cost O(|A|), vs the join's O(answer).",
)
def stats_selfjoin_blowup_estimate(spark: SparkSession, sf_dir: str):
    li = table(spark, sf_dir, "lineitem").select("l_partkey")
    k = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    return k.agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.sum(F.col("c") * F.col("c")).alias("predicted_pairs"),
        (F.max("c") * F.max("c")).alias("max_key_pairs"),
        F.round(
            (F.max("c") * F.max("c"))
            / (F.sum(F.col("c") * F.col("c")) * 1.0),
            4,
        ).alias("top_key_share"),
        F.round(
            F.sum(F.col("c") * F.col("c")) / (F.sum("c") * 1.0), 4
        ).alias("blowup_factor"),
    )


@register(
    "privacy_t_closeness",
    oracle="""
    WITH joined AS (
      SELECT c.c_mktsegment, c.c_nationkey,
             CAST(floor(c.c_acctbal / 2000) AS BIGINT) AS bal_band,
             o.o_orderpriority AS prio
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    cellpr AS (
      SELECT c_mktsegment, c_nationkey, bal_band, prio,
             CAST(count(*) AS BIGINT) AS n
      FROM joined GROUP BY 1, 2, 3, 4
    ),
    cells AS (
      SELECT c_mktsegment, c_nationkey, bal_band,
             CAST(sum(n) AS BIGINT) AS cell_rows
      FROM cellpr GROUP BY 1, 2, 3
    ),
    prios AS (SELECT DISTINCT prio FROM joined),
    gdist AS (
      SELECT prio, sum(n) * 1.0 / (SELECT sum(n) FROM cellpr) AS gshare
      FROM cellpr GROUP BY prio
    ),
    grid AS (
      SELECT c.c_mktsegment, c.c_nationkey, c.bal_band, c.cell_rows,
             p.prio,
             coalesce(cp.n, 0) * 1.0 / c.cell_rows AS share,
             g.gshare
      FROM cells c
      CROSS JOIN prios p
      LEFT JOIN cellpr cp USING (c_mktsegment, c_nationkey, bal_band, prio)
      JOIN gdist g USING (prio)
    ),
    cum AS (
      SELECT c_mktsegment, c_nationkey, bal_band, cell_rows,
             abs(sum(share) OVER w - sum(gshare) OVER w) AS cumdiff
      FROM grid
      WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey, bal_band
                   ORDER BY prio ROWS UNBOUNDED PRECEDING)
    ),
    t AS (
      SELECT c_mktsegment, c_nationkey, bal_band, cell_rows,
             round(sum(cumdiff)
                   / ((SELECT count(*) FROM prios) - 1), 9) AS t_cell
      FROM cum GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           round(max(t_cell), 6) AS max_t,
           round(avg(t_cell), 6) AS avg_t,
           CAST(count(*) FILTER (WHERE t_cell > 0.2) AS BIGINT)
             AS cells_above_t02,
           CAST(coalesce(sum(cell_rows) FILTER (WHERE t_cell > 0.2), 0)
                AS BIGINT) AS rows_above_t02
    FROM t
    """,
    doc="t-closeness audit (ordinal EMD) completing the privacy triad "
    "with privacy_k_anonymity and privacy_l_diversity on the same QI "
    "tuple (segment, nation, balance band; sensitive = order "
    "priority): per equivalence cell, earth-mover's distance between "
    "the cell's priority distribution and the global one (ordinal "
    "form: mean |cumulative-share difference|), then the release "
    "gate summary — max/avg t and the cell/row mass above t=0.2 (a "
    "large l-diverse cell whose distribution still skews to one "
    "priority leaks; only t-closeness sees it).  Engine parity: "
    "shares are ratios of exact integers, cumsums run in an ordered "
    "sequential window frame, per-cell t is round(·,9) before the "
    "threshold.  Scale shape: the fact table collapses in ONE "
    "partial-agg groupBy to |cells x 5| rows; everything downstream "
    "runs on the cell table (grid = cells x 5 via a broadcast cross "
    "of the 5 priorities).",
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("prio")
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    qi = ["c_mktsegment", "c_nationkey", "bal_band"]
    cellpr = joined.groupBy(*qi, "prio").agg(F.count("*").alias("n"))
    cells = cellpr.groupBy(*qi).agg(F.sum("n").alias("cell_rows"))
    prios = cellpr.select("prio").distinct()
    total = cellpr.agg(F.sum("n").alias("tot"))
    glob = (
        cellpr.groupBy("prio")
        .agg(F.sum("n").alias("gn"))
        .crossJoin(F.broadcast(total))
        .select("prio", (F.col("gn") * 1.0 / F.col("tot")).alias("gshare"))
    )
    grid = (
        cells.crossJoin(F.broadcast(prios))
        .join(cellpr, qi + ["prio"], "left")
        .join(F.broadcast(glob), "prio")
        .select(
            *qi,
            "cell_rows",
            "prio",
            (
                F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("cell_rows")
            ).alias("share"),
            "gshare",
        )
    )
    w = (
        Window.partitionBy(*qi)
        .orderBy("prio")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        *qi,
        "cell_rows",
        F.abs(F.sum("share").over(w) - F.sum("gshare").over(w)).alias(
            "cumdiff"
        ),
    )
    m = prios.count()  # 5 priorities; driver-held scalar, k-bounded
    t = cum.groupBy(*qi, "cell_rows").agg(
        F.round(F.sum("cumdiff") / (m - 1), 9).alias("t_cell")
    )
    above = F.col("t_cell") > 0.2
    return t.agg(
        F.count("*").alias("n_cells"),
        F.round(F.max("t_cell"), 6).alias("max_t"),
        F.round(F.avg("t_cell"), 6).alias("avg_t"),
        F.sum(above.cast("long")).alias("cells_above_t02"),
        F.coalesce(
            F.sum(F.when(above, F.col("cell_rows"))), F.lit(0)
        ).alias("rows_above_t02"),
    )


@register(
    "dq_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT)
             AS null_qty,
           CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT)
             AS nonpos_price,
           CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
             AS n_returns,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    """,
    doc="In-flight data-quality counters via df.observe(Observation): "
    "the DQ metrics ride ON the production scan as accumulator-style "
    "aggregates — ZERO extra passes, unlike dq_constraint_suite which "
    "is itself the scan.  At 100 TB this is how you get row counts, "
    "null rates, and domain violations for every pipeline stage for "
    "free: attach observe() to the existing plan and read the metrics "
    "after the action.  The query materializes the observed scan "
    "(a count action) and returns the observation payload as the "
    "result row, so the oracle certifies the counters themselves.",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias(
            "nonpos_price"
        ),
        # DISTINCT aggregates are disallowed in observed metrics
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias(
            "n_returns"
        ),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one action
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["null_qty"],
                m["nonpos_price"],
                m["n_returns"],
                m["total_price"],
            )
        ],
        "n_rows bigint, null_qty bigint, nonpos_price bigint, "
        "n_returns bigint, total_price double",
    )


@register(
    "abtest_power_analysis",
    oracle="""
    WITH per_user AS (
      SELECT user_id, sum(value) AS y
      FROM events WHERE event_type <> 'error' AND value IS NOT NULL
      GROUP BY user_id
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             round(avg(y), 9) AS mu,
             round(var_pop(y), 9) AS v
      FROM per_user
    )
    SELECT n_users,
           round(mu, 4) AS mean_value,
           round(sqrt(v), 4) AS stddev_value,
           CAST(ceil(2.0 * power(1.959964 + 0.841621, 2) * v
                     / power(0.02 * mu, 2)) AS BIGINT)
             AS n_per_arm_mde2pct,
           CAST(ceil(2.0 * power(1.959964 + 0.841621, 2) * v
                     / power(0.05 * mu, 2)) AS BIGINT)
             AS n_per_arm_mde5pct,
           round(0.02 * mu * sqrt(CAST(n_users AS DOUBLE) / 2.0)
                 / sqrt(2.0 * v) - 1.959964, 4) AS z_beta_at_current_n
    FROM m
    """,
    doc="A/B test power analysis from observed moments: required "
    "sample size per arm for a 2%/5% minimum detectable effect at "
    "alpha=0.05 (two-sided), power=0.80 — n = 2(z_a+z_b)^2 * var / "
    "mde^2, the normal-approximation formula — plus the z_beta the "
    "CURRENT population would achieve at the 2% MDE (negative = "
    "underpowered, don't launch the experiment).  Completes the "
    "experimentation shelf: SRM guards the split, CUPED cuts the "
    "variance, bootstrap builds the CI, and THIS decides whether the "
    "test is worth running at all.  Variance and mean round(·,9) on "
    "both engines before the algebra.  Scale shape: one per-user "
    "partial agg, then 1-row moment math.",
)
def abtest_power_analysis(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events").filter(
        (F.col("event_type") != "error") & F.col("value").isNotNull()
    )
    per_user = e.groupBy("user_id").agg(F.sum("value").alias("y"))
    m = per_user.agg(
        F.count("*").alias("n_users"),
        F.round(F.avg("y"), 9).alias("mu"),
        F.round(F.var_pop("y"), 9).alias("v"),
    )
    za, zb = 1.959964, 0.841621  # alpha=.05 two-sided, power=.80
    n_arm = lambda mde: F.ceil(
        2.0 * (za + zb) ** 2 * F.col("v") / F.pow(mde * F.col("mu"), 2)
    ).cast("long")
    return m.select(
        "n_users",
        F.round("mu", 4).alias("mean_value"),
        F.round(F.sqrt("v"), 4).alias("stddev_value"),
        n_arm(0.02).alias("n_per_arm_mde2pct"),
        n_arm(0.05).alias("n_per_arm_mde5pct"),
        F.round(
            0.02
            * F.col("mu")
            * F.sqrt(F.col("n_users").cast("double") / 2.0)
            / F.sqrt(2.0 * F.col("v"))
            - za,
            4,
        ).alias("z_beta_at_current_n"),
    )


@register(
    "abtest_mann_whitney_u",
    tier="extra",
    oracle="""
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    vals AS (
      SELECT v,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_a
      FROM s GROUP BY v
    ),
    ranked AS (
      SELECT v, cnt, cnt_a,
             CAST(coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
      FROM vals
    ),
    sums AS (
      -- rank sums in HALF-units (avg rank of a tie group is
      -- below + (cnt+1)/2, so 2·rank is always integral): exact
      SELECT CAST(sum(cnt_a * (2 * below + cnt + 1)) AS BIGINT)
               AS r1_twice,
             CAST(sum(cnt_a) AS BIGINT) AS n1,
             CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM ranked
    )
    SELECT n1,
           CAST(n - n1 AS BIGINT) AS n2,
           CAST(r1_twice - n1 * (n1 + 1) AS BIGINT) AS u1_twice,
           round(
             (CAST(r1_twice - n1 * (n1 + 1) AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * (n - n1) / 2.0)
             / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 12.0
                    * ((n + 1) - CAST(tie_term AS DOUBLE)
                                 / (CAST(n AS DOUBLE) * (n - 1)))),
             4) AS z
    FROM sums
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) test: are BUILDING order "
    "totals stochastically larger than MACHINERY's?  The "
    "nonparametric complement to the KS/SRM/CUPED/bootstrap/power "
    "rows — the test of choice for heavy-tailed revenue metrics where "
    "a t-test's mean is fragile.  Average ranks with full tie "
    "correction, computed EXACTLY: values quantize to integer cents, "
    "per-value counts give each tie group's average rank in half-"
    "units (so 2·R and 2·U are integers; both engines agree "
    "bit-for-bit), and the normal z uses the tie-corrected variance. "
    "Scale shape: one join + one per-value partial agg (|distinct "
    "values| rows), a value-ordered running sum on that cell table, "
    "and a 1-row reduction — the fact table shuffles once, ranks are "
    "never materialized per row (no global row-number sort).",
)
def abtest_mann_whitney_u(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_mktsegment")
    )
    s = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vals = s.groupBy("v").agg(
        F.count("*").alias("cnt"),
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0)).alias(
            "cnt_a"
        ),
    )
    # DISTRIBUTED prefix sum over the value cells: o_totalprice is
    # near-unique, so the cell table is ~fact-table-sized and a global
    # unpartitioned window would serialize it onto one task.  Standard
    # two-phase scan instead: bucket by value range, rank within each
    # bucket in parallel, and add each bucket's broadcast offset (sum
    # of all lower buckets' counts).  Buckets derive DETERMINISTICALLY
    # from the 1-row (min, max) aggregate — repartitionByRange would
    # SAMPLE its boundaries, and this plan reads the bucketed frame
    # twice (offsets + ranks), so sampled pids could disagree between
    # the two subtrees.
    bounds = vals.agg(
        F.min("v").alias("vlo"), F.max("v").alias("vhi")
    )
    nb = 8
    parts = vals.crossJoin(F.broadcast(bounds)).select(
        "v",
        "cnt",
        "cnt_a",
        F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("v") - F.col("vlo")).cast("double")
                * nb
                / (F.col("vhi") - F.col("vlo") + 1).cast("double")
            ).cast("int"),
        ).alias("pid"),
    )
    ptot = parts.groupBy("pid").agg(F.sum("cnt").alias("ptot"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ptot.select(
        "pid", F.coalesce(F.sum("ptot").over(woff), F.lit(0)).alias("off")
    )  # <= nb rows — the only single-task window
    win = Window.partitionBy("pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = (
        parts.withColumn(
            "below_in", F.coalesce(F.sum("cnt").over(win), F.lit(0))
        )
        .join(F.broadcast(offsets), "pid")
        .select(
            "v",
            "cnt",
            "cnt_a",
            (F.col("below_in") + F.col("off")).alias("below"),
        )
    )
    sums = ranked.agg(
        F.sum(
            F.col("cnt_a") * (2 * F.col("below") + F.col("cnt") + 1)
        ).alias("r1_twice"),
        F.sum("cnt_a").alias("n1"),
        F.sum("cnt").alias("n"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    n1 = F.col("n1").cast("double")
    n = F.col("n").cast("double")
    n2 = n - n1
    u1 = (F.col("r1_twice").cast("double") - n1 * (n1 + 1)) / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0
        * ((n + 1) - F.col("tie_term").cast("double") / (n * (n - 1)))
    )
    return sums.select(
        F.col("n1").cast("long").alias("n1"),
        (F.col("n") - F.col("n1")).cast("long").alias("n2"),
        (F.col("r1_twice") - F.col("n1") * (F.col("n1") + 1))
        .cast("long")
        .alias("u1_twice"),
        F.round((u1 - n1 * n2 / 2.0) / sigma, 4).alias("z"),
    )


# O'Brien-Fleming boundary constant C_B(K=5, two-sided alpha=0.05):
# the classic tabulated value (Jennison & Turnbull, "Group Sequential
# Methods", Table 2.3; O'Brien & Fleming 1979).  The look-k critical
# value is C / sqrt(k/K) — very conservative early, ~z_alpha at the
# final look.  Identical literal in the Spark builder and the DuckDB
# oracle so both engines derive bit-identical bounds.
_OBF_C_K5_A05 = 2.0400


def _per_arm_look_moments(spark: SparkSession, sf_dir: str, K: int = 5):
    """Shared frame for the sequential-testing pair (OBF + mSPRT): cut
    the events time range into K looks, enroll each user at their first
    event's look, build exact integer-cent cumulative per-user spend at
    every subsequent look, and reduce to per-look per-arm moments
    (n/mean/var).  One user_id shuffle; nothing downstream exceeds
    K x |users| rows."""
    from pyspark.sql import Window

    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "ts", "value")
    )
    s = F.unix_timestamp("ts").cast("long")
    b = e.agg(F.min(s).alias("mn"), F.max(s).alias("mx"))
    ev = e.crossJoin(F.broadcast(b)).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.least(
            F.lit(K),
            1
            + F.floor(
                F.lit(float(K))
                * (s - F.col("mn"))
                / (F.col("mx") - F.col("mn") + 1)
            ).cast("int"),
        ).alias("look"),
    )
    per_ul = ev.groupBy("user_id", "look").agg(F.sum("cents").alias("inc"))
    enroll = per_ul.groupBy("user_id").agg(
        F.min("look").alias("first_look")
    ).withColumn(
        "arm",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    grid = enroll.select(
        "user_id",
        "arm",
        F.explode(F.sequence(F.col("first_look"), F.lit(K))).alias("look"),
    )
    cum = (
        grid.join(per_ul, ["user_id", "look"], "left")
        .withColumn("inc", F.coalesce(F.col("inc"), F.lit(0)))
        .withColumn(
            "cum",
            F.sum("inc")
            .over(Window.partitionBy("user_id").orderBy("look"))
            .cast("double"),
        )
    )
    return cum.groupBy("look").agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("n_b"),
        F.avg(F.when(F.col("arm") == "A", F.col("cum"))).alias("ma"),
        F.avg(F.when(F.col("arm") == "B", F.col("cum"))).alias("mb"),
        F.var_samp(F.when(F.col("arm") == "A", F.col("cum"))).alias("va"),
        F.var_samp(F.when(F.col("arm") == "B", F.col("cum"))).alias("vb"),
    )


@register(
    "abtest_sequential_obf",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS mn,
             max(CAST(floor(epoch(ts)) AS BIGINT)) AS mx
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    ev AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             least(5, 1 + CAST(floor(
               5.0 * (CAST(floor(epoch(ts)) AS BIGINT) - mn)
                   / (mx - mn + 1)) AS INT)) AS look
      FROM events, b
      WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    per_ul AS (
      SELECT user_id, look, CAST(sum(cents) AS BIGINT) AS inc
      FROM ev GROUP BY user_id, look
    ),
    enroll AS (
      SELECT user_id, min(look) AS first_look,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM per_ul GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, arm, UNNEST(generate_series(first_look, 5)) AS look
      FROM enroll
    ),
    cumt AS (
      SELECT g.user_id, g.arm, g.look,
             CAST(sum(coalesce(p.inc, 0)) OVER (
               PARTITION BY g.user_id ORDER BY g.look) AS DOUBLE) AS cum
      FROM grid g LEFT JOIN per_ul p
        ON g.user_id = p.user_id AND g.look = p.look
    ),
    agg AS (
      SELECT look,
             CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
             avg(CASE WHEN arm = 'A' THEN cum END) AS ma,
             avg(CASE WHEN arm = 'B' THEN cum END) AS mb,
             var_samp(CASE WHEN arm = 'A' THEN cum END) AS va,
             var_samp(CASE WHEN arm = 'B' THEN cum END) AS vb
      FROM cumt GROUP BY look
    ),
    z AS (
      SELECT look, n_a, n_b,
             round(ma, 4) AS mean_a,
             round(mb, 4) AS mean_b,
             round((mb - ma) / sqrt(va / n_a + vb / n_b), 4) AS z,
             round(2.0400 / sqrt(look / 5.0), 4) AS obf_bound
      FROM agg
    )
    SELECT CAST(look AS INT) AS look,
           round(look / 5.0, 2) AS info_frac,
           n_a, n_b, mean_a, mean_b, z, obf_bound,
           abs(z) > obf_bound AS crossed
    FROM z ORDER BY look
    """,
    doc="Group-sequential A/B guard with O'Brien-Fleming bounds "
    "(O'Brien & Fleming 1979; Jennison & Turnbull Table 2.3): the "
    "events time range is cut into K=5 interim looks, users enter the "
    "experiment at their first event's look (deterministic md5 arm "
    "assignment, the CUPED/SRM convention), and each look reports the "
    "cumulative per-user spend z-statistic for B-minus-A against the "
    "OBF critical value C/sqrt(k/K) with C=2.0400 — the standard "
    "peeking-safe early-stopping rule the shelf's fixed-horizon tests "
    "(SRM/CUPED/bootstrap/power/KS/Mann-Whitney) do not provide. "
    "Values quantize to integer cents so per-user cumulative sums are "
    "exact; means/variances are double only at the final K-row "
    "reduction.  Scale shape: one events scan -> per-(user, look) "
    "partial agg (<= 5 cells per user), a K-bounded sequence explode "
    "on the |users|-sized enroll table, one user-partitioned window "
    "over <= 5 rows each, and a K-row final reduce.  The fact table "
    "shuffles once (on user_id, reused by the groupBy, the explode "
    "join, and the window); nothing downstream exceeds 5x|users| "
    "rows, so the plan is flat in events-per-user and linear in "
    "users at any scale.",
)
def abtest_sequential_obf(spark: SparkSession, sf_dir: str):
    K = 5
    agg = _per_arm_look_moments(spark, sf_dir, K)
    z = agg.select(
        "look",
        "n_a",
        "n_b",
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        F.round(
            (F.col("mb") - F.col("ma"))
            / F.sqrt(
                F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b")
            ),
            4,
        ).alias("z"),
        F.round(
            F.lit(_OBF_C_K5_A05) / F.sqrt(F.col("look") / F.lit(float(K))),
            4,
        ).alias("obf_bound"),
    )
    return z.select(
        F.col("look").cast("int").alias("look"),
        F.round(F.col("look") / F.lit(float(K)), 2).alias("info_frac"),
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "z",
        "obf_bound",
        (F.abs(F.col("z")) > F.col("obf_bound")).alias("crossed"),
    ).orderBy("look")


# mSPRT normal-mixture scale τ (in integer cents, the metric's unit):
# the prior SD on the true arm difference, set near the effect size
# the experiment is powered for (Johari/Pekelis/Walsh, KDD'17 §3).
# Identical literal in builder and oracle.
_MSPRT_TAU_CENTS = 5000.0


@register(
    "abtest_msprt_always_valid",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS mn,
             max(CAST(floor(epoch(ts)) AS BIGINT)) AS mx
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    ev AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             least(5, 1 + CAST(floor(
               5.0 * (CAST(floor(epoch(ts)) AS BIGINT) - mn)
                   / (mx - mn + 1)) AS INT)) AS look
      FROM events, b
      WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    per_ul AS (
      SELECT user_id, look, CAST(sum(cents) AS BIGINT) AS inc
      FROM ev GROUP BY user_id, look
    ),
    enroll AS (
      SELECT user_id, min(look) AS first_look,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm
      FROM per_ul GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, arm, UNNEST(generate_series(first_look, 5)) AS look
      FROM enroll
    ),
    cumt AS (
      SELECT g.user_id, g.arm, g.look,
             CAST(sum(coalesce(p.inc, 0)) OVER (
               PARTITION BY g.user_id ORDER BY g.look) AS DOUBLE) AS cum
      FROM grid g LEFT JOIN per_ul p
        ON g.user_id = p.user_id AND g.look = p.look
    ),
    agg AS (
      SELECT look,
             CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
             avg(CASE WHEN arm = 'A' THEN cum END) AS ma,
             avg(CASE WHEN arm = 'B' THEN cum END) AS mb,
             var_samp(CASE WHEN arm = 'A' THEN cum END) AS va,
             var_samp(CASE WHEN arm = 'B' THEN cum END) AS vb
      FROM cumt GROUP BY look
    ),
    lam AS (
      SELECT look, n_a, n_b,
             round(mb - ma, 4) AS delta,
             round(
               0.5 * ln((va / n_a + vb / n_b)
                        / (va / n_a + vb / n_b + 5000.0 * 5000.0))
               + (mb - ma) * (mb - ma) * 5000.0 * 5000.0
                 / (2.0 * (va / n_a + vb / n_b)
                        * (va / n_a + vb / n_b + 5000.0 * 5000.0)),
               6) AS log_lambda
      FROM agg
    ),
    p AS (
      SELECT look, n_a, n_b, delta, log_lambda,
             round(least(1.0, exp(-log_lambda)), 6) AS p_look
      FROM lam
    )
    SELECT CAST(look AS INT) AS look, n_a, n_b, delta, log_lambda,
           p_look,
           min(p_look) OVER (ORDER BY look
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS p_always_valid,
           min(p_look) OVER (ORDER BY look
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) < 0.05
             AS reject_at_05
    FROM p ORDER BY look
    """,
    doc="Always-valid inference via the mixture SPRT "
    "(Johari/Pekelis/Walsh, KDD'17 — the 'peeking at A/B tests' "
    "statistic behind Optimizely-style continuous monitoring): at "
    "each of the K=5 looks the normal-mixture likelihood ratio "
    "Lambda_k = sqrt(V/(V+tau^2)) * exp(delta^2 tau^2 / (2 V (V+"
    "tau^2))) is computed from the same per-arm cumulative moments "
    "as the OBF row (V = va/n_a + vb/n_b, tau = 5000 cents), and the "
    "always-valid p-value is the running minimum of 1/Lambda — "
    "monotone by construction, so the experimenter may stop at ANY "
    "look without inflating false positives.  Log-space evaluation "
    "avoids exp overflow; log_lambda rounds at source so the "
    "running min is taken over engine-identical doubles.  Scale "
    "shape: identical to abtest_sequential_obf (shared "
    "_per_arm_look_moments frame — one user_id shuffle, K x |users| "
    "ceiling) plus a K-row window.",
)
def abtest_msprt_always_valid(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    K = 5
    tau2 = _MSPRT_TAU_CENTS * _MSPRT_TAU_CENTS
    agg = _per_arm_look_moments(spark, sf_dir, K)
    V = F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b")
    d = F.col("mb") - F.col("ma")
    lam = agg.select(
        "look",
        "n_a",
        "n_b",
        F.round(d, 4).alias("delta"),
        F.round(
            0.5 * F.log(V / (V + F.lit(tau2)))
            + d * d * F.lit(tau2) / (2.0 * V * (V + F.lit(tau2))),
            6,
        ).alias("log_lambda"),
    )
    p = lam.withColumn(
        "p_look",
        F.round(F.least(F.lit(1.0), F.exp(-F.col("log_lambda"))), 6),
    )
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        p.withColumn("p_always_valid", F.min("p_look").over(w))
        .select(
            F.col("look").cast("int").alias("look"),
            "n_a",
            "n_b",
            "delta",
            "log_lambda",
            "p_look",
            "p_always_valid",
            (F.col("p_always_valid") < 0.05).alias("reject_at_05"),
        )
        .orderBy("look")
    )


@register(
    "abtest_welch_ttest",
    tier="extra",
    oracle="""
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('FURNITURE', 'HOUSEHOLD')
    ),
    m AS (
      SELECT
        CAST(count(CASE WHEN seg = 'FURNITURE' THEN 1 END) AS BIGINT) AS n1,
        CAST(count(CASE WHEN seg = 'HOUSEHOLD' THEN 1 END) AS BIGINT) AS n2,
        avg(CASE WHEN seg = 'FURNITURE' THEN CAST(cents AS DOUBLE) END) AS m1,
        avg(CASE WHEN seg = 'HOUSEHOLD' THEN CAST(cents AS DOUBLE) END) AS m2,
        var_samp(CASE WHEN seg = 'FURNITURE'
                      THEN CAST(cents AS DOUBLE) END) AS v1,
        var_samp(CASE WHEN seg = 'HOUSEHOLD'
                      THEN CAST(cents AS DOUBLE) END) AS v2
      FROM s
    )
    SELECT n1, n2,
           floor((m1 - m2) * 10000 + 0.5) / 10000.0 AS mean_diff_cents,
           floor((m1 - m2) / sqrt(v1 / n1 + v2 / n2) * 10000 + 0.5)
             / 10000.0 AS t,
           floor(
             (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
             / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                + (v2 / n2) * (v2 / n2) / (n2 - 1))
             * 100 + 0.5) / 100.0 AS df_welch
    FROM m
    """,
    doc="Welch's unequal-variance t-test (the default two-sample mean "
    "test; Welch 1947) with the Welch-Satterthwaite effective degrees "
    "of freedom — the parametric baseline the shelf's nonparametric "
    "rows (KS, Mann-Whitney) are alternatives TO, completing the "
    "classical pair.  Values quantize to integer cents at source; "
    "the 1-row moment reduction (n/mean/var per segment, computed as "
    "conditional aggregates in ONE pass) is the entire shuffle — the "
    "same corpus-scans-once contract as CUPED/SRM/power.  t and the "
    "Satterthwaite df round at 4/2 dp on both engines.",
)
def abtest_welch_ttest(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("FURNITURE", "HOUSEHOLD"))
        .select("c_custkey", "c_mktsegment")
    )
    s = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .cast("double")
        .alias("cents"),
    )
    m = s.agg(
        F.count(F.when(F.col("seg") == "FURNITURE", 1)).alias("n1"),
        F.count(F.when(F.col("seg") == "HOUSEHOLD", 1)).alias("n2"),
        F.avg(F.when(F.col("seg") == "FURNITURE", F.col("cents"))).alias(
            "m1"
        ),
        F.avg(F.when(F.col("seg") == "HOUSEHOLD", F.col("cents"))).alias(
            "m2"
        ),
        F.var_samp(
            F.when(F.col("seg") == "FURNITURE", F.col("cents"))
        ).alias("v1"),
        F.var_samp(
            F.when(F.col("seg") == "HOUSEHOLD", F.col("cents"))
        ).alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    # floor form, not round(): strict-failure class 3 discipline — see
    # abtest_bh_fdr_segments above (ADVICE r13 applied shelf-wide).
    return m.select(
        "n1",
        "n2",
        (
            F.floor((F.col("m1") - F.col("m2")) * 10000 + 0.5) / 10000.0
        ).alias("mean_diff_cents"),
        (
            F.floor(
                (F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2) * 10000
                + 0.5
            )
            / 10000.0
        ).alias("t"),
        (
            F.floor(
                (se1 + se2)
                * (se1 + se2)
                / (
                    se1 * se1 / (F.col("n1") - 1)
                    + se2 * se2 / (F.col("n2") - 1)
                )
                * 100
                + 0.5
            )
            / 100.0
        ).alias("df_welch"),
    )


# Benjamini-Hochberg step-up critical values for m=5 two-sided z-tests
# at FDR alpha=0.10: rank-i p-value bound alpha*i/m corresponds to
# |z| >= Phi^-1(1 - alpha*i/(2m)) — standard normal upper quantiles at
# p/2 = .01 .02 .03 .04 .05 (classic tabulated values).  Identical
# literals in the Spark builder and the DuckDB oracle, the same
# pinned-constant discipline as _OBF_C_K5_A05.
_BH_Z_M5_A10 = (2.326348, 2.053749, 1.880794, 1.750686, 1.644854)


@register(
    "abtest_bh_fdr_segments",
    tier="extra",
    oracle="""
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT seg,
             CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
             avg(CASE WHEN arm = 'A' THEN CAST(cents AS DOUBLE) END) AS m_a,
             avg(CASE WHEN arm = 'B' THEN CAST(cents AS DOUBLE) END) AS m_b,
             var_samp(CASE WHEN arm = 'A'
                           THEN CAST(cents AS DOUBLE) END) AS v_a,
             var_samp(CASE WHEN arm = 'B'
                           THEN CAST(cents AS DOUBLE) END) AS v_b
      FROM s GROUP BY seg
    ),
    zz AS (
      SELECT seg, n_a, n_b,
             floor((m_a - m_b) * 10000 + 0.5) / 10000.0 AS mean_diff_cents,
             floor(abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b))
                   * 10000 + 0.5) / 10000.0 AS z_abs
      FROM cells
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (ORDER BY z_abs DESC, seg) AS INT)
               AS bh_rank
      FROM zz
    ),
    crit AS (
      SELECT *,
             CAST(CASE bh_rank WHEN 1 THEN 2.326348 WHEN 2 THEN 2.053749
                  WHEN 3 THEN 1.880794 WHEN 4 THEN 1.750686
                  ELSE 1.644854 END AS DOUBLE) AS z_crit
      FROM ranked
    ),
    kk AS (
      SELECT *, max(CASE WHEN z_abs >= z_crit THEN bh_rank ELSE 0 END)
               OVER () AS k
      FROM crit
    )
    SELECT seg, n_a, n_b, mean_diff_cents, z_abs, bh_rank, z_crit,
           (bh_rank <= k) AS reject
    FROM kk ORDER BY bh_rank
    """,
    doc="Benjamini-Hochberg FDR correction (Benjamini & Hochberg 1995) "
    "across the per-segment arm-difference z-tests — the "
    "multiple-comparisons gate every experiment READOUT with more than "
    "one metric/segment needs, completing the sequential-testing shelf "
    "(OBF and mSPRT guard repeated LOOKS; BH guards parallel TESTS).  "
    "The step-up rule works on |z| directly: rank-i's p-value bound "
    "alpha*i/m is the literal quantile threshold "
    "Phi^-1(1 - alpha*i/(2m)) (m=5 segments, FDR 0.10, two-sided), "
    "pinned identically in both engines like the OBF constant; arms "
    "split by the same md5-of-custkey coin as the capstone, so the "
    "null is TRUE by construction and the graded surface certifies "
    "the correction machinery (ranking, thresholds, step-up k, reject "
    "set), not a discovery.  Values quantize to integer cents at "
    "source; |z| rounds at 4dp before every comparison so the reject "
    "set cannot flip on fold-order noise.  Scale shape: ONE "
    "broadcast-dim join + ONE conditional-moment groupBy collapses "
    "the fact table to |segments| rows; ranking/threshold/step-up all "
    "run on that 5-row table.",
)
def abtest_bh_fdr_segments(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 1)
            < "8",
            "A",
        )
        .otherwise("B")
        .alias("arm"),
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .cast("double")
        .alias("cents"),
    )
    cells = s.groupBy("seg").agg(
        F.count(F.when(F.col("arm") == "A", 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == "B", 1)).alias("n_b"),
        F.avg(F.when(F.col("arm") == "A", F.col("cents"))).alias("m_a"),
        F.avg(F.when(F.col("arm") == "B", F.col("cents"))).alias("m_b"),
        F.var_samp(F.when(F.col("arm") == "A", F.col("cents"))).alias(
            "v_a"
        ),
        F.var_samp(F.when(F.col("arm") == "B", F.col("cents"))).alias(
            "v_b"
        ),
    )
    # floor(x*1e4+0.5)/1e4 instead of round(x,4): Spark rounds doubles
    # via exact decimal expansion while DuckDB rounds the scaled float,
    # and the two can disagree on bit-identical inputs (strict-failure
    # class 3, tools/check_correctness.py) — the floor form is engine-
    # identical (ADVICE r13).
    zz = cells.select(
        "seg",
        "n_a",
        "n_b",
        (
            F.floor((F.col("m_a") - F.col("m_b")) * 10000 + 0.5) / 10000.0
        ).alias("mean_diff_cents"),
        (
            F.floor(
                F.abs(
                    (F.col("m_a") - F.col("m_b"))
                    / F.sqrt(
                        F.col("v_a") / F.col("n_a")
                        + F.col("v_b") / F.col("n_b")
                    )
                )
                * 10000
                + 0.5
            )
            / 10000.0
        ).alias("z_abs"),
    )
    wrank = Window.orderBy(F.desc("z_abs"), "seg")  # 5-row table
    ranked = zz.withColumn(
        "bh_rank", F.row_number().over(wrank).cast("int")
    )
    crit_expr = F.when(F.col("bh_rank") == 1, _BH_Z_M5_A10[0])
    for i in range(1, 4):
        crit_expr = crit_expr.when(
            F.col("bh_rank") == i + 1, _BH_Z_M5_A10[i]
        )
    crit = ranked.withColumn(
        "z_crit", crit_expr.otherwise(_BH_Z_M5_A10[4]).cast("double")
    )
    wall = Window.partitionBy()
    kk = crit.withColumn(
        "k",
        F.max(
            F.when(
                F.col("z_abs") >= F.col("z_crit"), F.col("bh_rank")
            ).otherwise(0)
        ).over(wall),
    )
    return kk.select(
        "seg",
        "n_a",
        "n_b",
        "mean_diff_cents",
        "z_abs",
        "bh_rank",
        "z_crit",
        (F.col("bh_rank") <= F.col("k")).alias("reject"),
    ).orderBy("bh_rank")


@register(
    "privacy_dp_laplace_counts",
    tier="extra",
    oracle="""
    WITH t AS (
      SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS true_n
      FROM customer GROUP BY c_mktsegment
    ),
    u AS (
      SELECT segment, true_n,
             ('0x' || substr(md5('dp:' || segment), 1, 8))::BIGINT
               / 4294967296.0 - 0.5 AS uu
      FROM t
    )
    SELECT segment, true_n,
           round(-2.0 * sign(uu)
                 * ln(greatest(1.0 - 2.0 * abs(uu), pow(2, -33))), 6)
             AS noise,
           round(true_n + round(-2.0 * sign(uu)
                 * ln(greatest(1.0 - 2.0 * abs(uu), pow(2, -33))), 6), 4)
             AS noisy_n,
           CAST(0.5 AS DOUBLE) AS epsilon,
           CAST(2.0 AS DOUBLE) AS laplace_scale
    FROM u ORDER BY segment
    """,
    doc="Differentially-private count release via the Laplace "
    "mechanism (Dwork et al. TCC'06): per-segment customer counts "
    "plus Laplace(sensitivity/epsilon) noise with sensitivity 1 "
    "(row-level adjacency: add/remove one customer changes each "
    "count by at most 1) and epsilon 0.5, i.e. scale b = 2 — the "
    "release mechanism the privacy shelf's k-anonymity / "
    "l-diversity / t-closeness DIAGNOSTICS stop short of.  Noise is "
    "drawn by inverse-CDF over a SEEDED md5 uniform (the "
    "deterministic-replay discipline every pipeline needs to TEST "
    "its DP plumbing; a production release swaps in a CSPRNG and "
    "drops the true_n column — both noted here so the graded row "
    "stays honest about what it certifies: the mechanism's math and "
    "plumbing, not the entropy source).  Scale shape: one "
    "partial-agg groupBy to |segments| rows; the mechanism itself "
    "touches only the released aggregate, never the microdata — "
    "O(cells) at any corpus size.",
)
def privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str):
    c = table(spark, sf_dir, "customer")
    t = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("true_n")
    )
    uu = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("segment"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
        - 0.5
    )
    # Clamp the inverse-CDF argument at 2^-33 (just under the 2^-32
    # uniform grid): uu == -0.5 exactly (hash prefix 0) would make it
    # ln(0) — Spark log(0) returns NULL while DuckDB raises, an
    # asymmetric engine edge; the clamp caps |noise| at 2*33*ln(2),
    # identical in builder and oracle.
    noise = F.round(
        F.lit(-2.0)
        * F.signum(uu)
        * F.log(F.greatest(F.lit(1.0) - 2.0 * F.abs(uu), F.lit(2.0 ** -33))),
        6,
    )
    return t.select(
        "segment",
        "true_n",
        noise.alias("noise"),
        F.round(F.col("true_n") + noise, 4).alias("noisy_n"),
        F.lit(0.5).alias("epsilon"),
        F.lit(2.0).alias("laplace_scale"),
    ).orderBy("segment")


@register(
    "stats_chi_square_independence",
    tier="extra",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, pri
    ),
    margins AS (
      SELECT seg, pri, n,
             CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS row_n,
             CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS col_n,
             CAST(sum(n) OVER () AS BIGINT) AS tot
      FROM cells
    ),
    terms AS (
      SELECT seg, pri,
             CAST(row_n AS DOUBLE) * col_n / tot AS expected,
             (n - CAST(row_n AS DOUBLE) * col_n / tot)
             * (n - CAST(row_n AS DOUBLE) * col_n / tot)
             / (CAST(row_n AS DOUBLE) * col_n / tot) AS term,
             row_n, col_n, tot
      FROM margins
    )
    SELECT CAST(count(DISTINCT seg) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT pri) AS BIGINT) AS n_cols,
           CAST((count(DISTINCT seg) - 1) * (count(DISTINCT pri) - 1)
                AS BIGINT) AS dof,
           CAST(max(tot) AS BIGINT) AS n_total,
           round(sum(round(term, 9)), 6) AS chi2,
           round(sqrt(sum(round(term, 9)) / (max(tot)
                 * least(count(DISTINCT seg) - 1,
                         count(DISTINCT pri) - 1))), 6) AS cramers_v
    FROM terms
    """,
    doc="Chi-square test of INDEPENDENCE over the segment x priority "
    "contingency table (Pearson 1900) with Cramer's V effect size — "
    "the categorical-association complement to the GOF chi-square the "
    "SRM gate runs: is order priority distributed independently of "
    "customer segment?  Each cell's (O-E)^2/E term is quantized "
    "round(,9) before the sum so the |cells|-term fold is "
    "engine-stable (the CUPED/moments pin).  Scale shape: one "
    "broadcast dim join + ONE partial-agg groupBy collapses the fact "
    "table to |segments|x|priorities| cells; the margins are windows "
    "over that 25-row cell table and the reduction is 1-row — the "
    "fact table shuffles exactly once.",
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count("*").alias("n"))
    )
    m = (
        cells.withColumn("row_n", F.sum("n").over(Window.partitionBy("seg")))
        .withColumn("col_n", F.sum("n").over(Window.partitionBy("pri")))
        .withColumn(
            "tot",
            F.sum("n").over(
                Window.partitionBy()
            ),
        )
    )
    expected = F.col("row_n").cast("double") * F.col("col_n") / F.col("tot")
    term = (F.col("n") - expected) * (F.col("n") - expected) / expected
    t = m.withColumn("term", F.round(term, 9))
    return t.agg(
        F.countDistinct("seg").alias("n_rows"),
        F.countDistinct("pri").alias("n_cols"),
        (
            (F.countDistinct("seg") - 1) * (F.countDistinct("pri") - 1)
        ).alias("dof"),
        F.max("tot").alias("n_total"),
        F.round(F.sum("term"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum("term")
                / (
                    F.max("tot")
                    * F.least(
                        F.countDistinct("seg") - 1,
                        F.countDistinct("pri") - 1,
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "dq_volume_anomaly_daily",
    tier="extra",
    oracle="""
    WITH present AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY day
    ),
    grid AS (
      SELECT CAST(unnest(generate_series(min(day), max(day),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM present
    ),
    daily AS (
      SELECT g.day, CAST(coalesce(p.n, 0) AS BIGINT) AS n
      FROM grid g LEFT JOIN present p USING (day)
    ),
    base AS (
      SELECT day, n,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
             nullif(CAST(median(n) OVER (ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DOUBLE), 0.0)
               AS med
      FROM daily
    ),
    scored AS (
      SELECT day, n, med,
             round(n / med, 4) AS ratio,
             (n < 0.5 * med OR n > 1.5 * med) AS is_anomaly
      FROM base WHERE rn > 7
    )
    SELECT CAST(row_number() OVER (
             ORDER BY abs(n - med) / med DESC NULLS LAST, day) AS INT) AS rk,
           day, n, med, ratio, is_anomaly
    FROM scored
    ORDER BY abs(n - med) / med DESC NULLS LAST, day LIMIT 5
    """,
    doc="Daily ingest-volume anomaly detection — the pipeline-health "
    "check every ingest DAG runs before anything downstream trusts a "
    "partition: per-day row counts vs the TRAILING-7-DAY MEDIAN "
    "(robust to the previous day itself being broken, unlike a mean), "
    "flagged outside the 0.5x-1.5x band; the graded surface ranks the "
    "5 most deviant days.  The date grid is DENSIFIED first "
    "(sequence(min(day), max(day)) left-joined to the per-day counts, "
    "missing days = 0) so a FULLY MISSING day — the canonical ingest "
    "failure this monitor exists to catch — produces an n=0 row and "
    "is flagged, rather than silently absent from the window; a "
    "nullif(med, 0) guard keeps an all-zero trailing window NULL on "
    "both engines instead of dividing by zero.  The median of a "
    "7-element integer window "
    "is EXACT on both engines (DuckDB window median; Spark "
    "element_at(array_sort(collect_list over the same frame), 4)), "
    "no approx-percentile anywhere.  Scale shape: the fact table "
    "collapses to a |days| cell table in one partial-agg pass; the "
    "trailing window and ranking run on that date-bounded table "
    "(years of days, not rows), and the top-5 is "
    "TakeOrderedAndProject.",
)
def dq_volume_anomaly_daily(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    present = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    # Densify the date grid: a fully missing day must surface as n=0,
    # not vanish from the trailing window (|days| rows — driver-cheap).
    grid = present.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("day"))
    daily = grid.join(present, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    w7 = Window.orderBy("day").rowsBetween(-7, -1)
    wr = Window.orderBy("day")
    base = daily.select(
        "day",
        "n",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.nullif(
            F.element_at(F.array_sort(F.collect_list("n").over(w7)), 4)
            .cast("double"),
            F.lit(0.0),
        ).alias("med"),
    ).filter(F.col("rn") > 7)
    scored = base.select(
        "day",
        "n",
        "med",
        F.round(F.col("n") / F.col("med"), 4).alias("ratio"),
        (
            (F.col("n") < 0.5 * F.col("med"))
            | (F.col("n") > 1.5 * F.col("med"))
        ).alias("is_anomaly"),
        (F.abs(F.col("n") - F.col("med")) / F.col("med")).alias("_dev"),
    )
    wrank = Window.orderBy(F.desc_nulls_last("_dev"), "day")
    return (
        scored.orderBy(F.desc_nulls_last("_dev"), "day")
        .limit(5)
        .select(
            F.row_number().over(wrank).cast("int").alias("rk"),
            "day",
            "n",
            "med",
            "ratio",
            "is_anomaly",
        )
        .orderBy("rk")
    )


@register(
    "abtest_experiment_readout_capstone",
    tier="extra",
    oracle="""
    WITH b AS (
      SELECT CAST(floor((floor(epoch(min(ts))) + floor(epoch(max(ts))))
                        / 2.0) AS BIGINT) AS mid
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(coalesce(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                         < mid
                               THEN CAST(round(value * 100) AS BIGINT)
                               END), 0) AS BIGINT) AS x,
             CAST(coalesce(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                         >= mid
                               THEN CAST(round(value * 100) AS BIGINT)
                               END), 0) AS BIGINT) AS y
      FROM events, b
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ),
    theta AS (
      SELECT round(covar_pop(CAST(x AS DOUBLE), CAST(y AS DOUBLE)), 9)
               / nullif(round(var_pop(CAST(x AS DOUBLE)), 9), 0) AS th,
             round(avg(CAST(x AS DOUBLE)), 9) AS mx
      FROM per_user
    ),
    m AS (
      SELECT
        CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS n_a,
        CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS n_b,
        avg(CASE WHEN arm = 'A' THEN CAST(x + y AS DOUBLE) END) AS ma,
        avg(CASE WHEN arm = 'B' THEN CAST(x + y AS DOUBLE) END) AS mb,
        var_samp(CASE WHEN arm = 'A' THEN CAST(x + y AS DOUBLE) END) AS va,
        var_samp(CASE WHEN arm = 'B' THEN CAST(x + y AS DOUBLE) END) AS vb,
        avg(CASE WHEN arm = 'A'
                 THEN CAST(y AS DOUBLE) - theta.th
                      * (CAST(x AS DOUBLE) - theta.mx) END) AS ca,
        avg(CASE WHEN arm = 'B'
                 THEN CAST(y AS DOUBLE) - theta.th
                      * (CAST(x AS DOUBLE) - theta.mx) END) AS cb
      FROM per_user, theta
    )
    SELECT n_a, n_b,
           round((n_a - n_b) * (n_a - n_b)
                 / CAST(n_a + n_b AS DOUBLE), 4) AS srm_chi2,
           (n_a - n_b) * (n_a - n_b) / CAST(n_a + n_b AS DOUBLE)
             < 3.841 AS srm_pass,
           round(mb - ma, 4) AS delta_cents,
           round(cb - ca, 4) AS delta_cuped_cents,
           round((mb - ma) / sqrt(va / n_a + vb / n_b), 4) AS welch_t,
           round((va / n_a + vb / n_b) * (va / n_a + vb / n_b)
                 / ((va / n_a) * (va / n_a) / (n_a - 1)
                    + (vb / n_b) * (vb / n_b) / (n_b - 1)), 2)
             AS df_welch,
           abs(round((mb - ma) / sqrt(va / n_a + vb / n_b), 4))
             > 2.0400 AS obf_final_crossed,
           round(least(1.0, exp(-round(
             0.5 * ln((va / n_a + vb / n_b)
                      / (va / n_a + vb / n_b + 5000.0 * 5000.0))
             + (mb - ma) * (mb - ma) * 5000.0 * 5000.0
               / (2.0 * (va / n_a + vb / n_b)
                      * (va / n_a + vb / n_b + 5000.0 * 5000.0)), 6))),
             6) AS msprt_p,
           round(least(1.0, exp(-round(
             0.5 * ln((va / n_a + vb / n_b)
                      / (va / n_a + vb / n_b + 5000.0 * 5000.0))
             + (mb - ma) * (mb - ma) * 5000.0 * 5000.0
               / (2.0 * (va / n_a + vb / n_b)
                      * (va / n_a + vb / n_b + 5000.0 * 5000.0)), 6))),
             6) < 0.05 AS msprt_reject
    FROM m
    """,
    doc="The experimentation shelf composed end-to-end — one "
    "declarative readout every experiment review needs, built from "
    "the SAME certified pieces the individual rows grade (the "
    "corpus_build_pipeline pattern applied to A/B): sample-ratio "
    "chi-square GATE (1 dof, 3.841 = 95% critical), raw and "
    "CUPED-adjusted treatment deltas (theta = cov/var on the "
    "pre-period, moments round(9)-pinned), Welch t with "
    "Satterthwaite df on full-horizon per-user spend, the OBF "
    "final-look decision (|z| vs the tabulated 2.04), and the mSPRT "
    "always-valid p (tau = 5000 cents, log-space) with its 0.05 "
    "decision.  Integer-cent per-user sums are exact; every derived "
    "statistic rounds at source.  Scale shape: ONE events scan -> "
    "per-user partial agg, a 1-row theta broadcast, and 1-row "
    "conditional-moment reductions — nothing after the first "
    "groupBy exceeds |users| rows.",
)
def abtest_experiment_readout_capstone(spark: SparkSession, sf_dir: str):
    e = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "ts", "value")
    )
    s = F.unix_timestamp("ts").cast("long")
    b = e.agg(
        F.floor((F.min(s) + F.max(s)) / F.lit(2.0)).cast("long").alias("mid")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(s < F.col("mid"), cents)), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(s >= F.col("mid"), cents)), F.lit(0)
            ).alias("y"),
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)
                < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    theta = per_user.agg(
        (
            F.round(F.covar_pop(xd, yd), 9)
            / F.nullif(F.round(F.var_pop(xd), 9), F.lit(0.0))
        ).alias("th"),
        F.round(F.avg(xd), 9).alias("mx"),
    )
    tot = (F.col("x") + F.col("y")).cast("double")
    adj = yd - F.col("th") * (xd - F.col("mx"))
    A = F.col("arm") == "A"
    B = F.col("arm") == "B"
    m = per_user.crossJoin(F.broadcast(theta)).agg(
        F.count(F.when(A, 1)).alias("n_a"),
        F.count(F.when(B, 1)).alias("n_b"),
        F.avg(F.when(A, tot)).alias("ma"),
        F.avg(F.when(B, tot)).alias("mb"),
        F.var_samp(F.when(A, tot)).alias("va"),
        F.var_samp(F.when(B, tot)).alias("vb"),
        F.avg(F.when(A, adj)).alias("ca"),
        F.avg(F.when(B, adj)).alias("cb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    V = F.col("va") / na + F.col("vb") / nb
    d = F.col("mb") - F.col("ma")
    tau2 = 5000.0 * 5000.0
    log_lambda = F.round(
        0.5 * F.log(V / (V + F.lit(tau2)))
        + d * d * F.lit(tau2) / (2.0 * V * (V + F.lit(tau2))),
        6,
    )
    msprt_p = F.round(F.least(F.lit(1.0), F.exp(-log_lambda)), 6)
    srm = (na - nb) * (na - nb) / (na + nb)
    return m.select(
        "n_a",
        "n_b",
        F.round(srm, 4).alias("srm_chi2"),
        (srm < 3.841).alias("srm_pass"),
        F.round(d, 4).alias("delta_cents"),
        F.round(F.col("cb") - F.col("ca"), 4).alias("delta_cuped_cents"),
        F.round(d / F.sqrt(V), 4).alias("welch_t"),
        F.round(
            V * V
            / (
                (F.col("va") / na) * (F.col("va") / na) / (na - 1)
                + (F.col("vb") / nb) * (F.col("vb") / nb) / (nb - 1)
            ),
            2,
        ).alias("df_welch"),
        (F.abs(F.round(d / F.sqrt(V), 4)) > 2.0400).alias(
            "obf_final_crossed"
        ),
        msprt_p.alias("msprt_p"),
        (msprt_p < 0.05).alias("msprt_reject"),
    )
