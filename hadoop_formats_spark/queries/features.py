"""Feature-engineering / decision-support queries: the supervised-ML
prep layer a training pipeline runs between raw tables and a model —
leakage-safe target encoding, information-value feature screening,
RFM entity segmentation, and marketing attribution.

The reference has no analytics surface at all (its only whole-file
aggregate is the record count, src/Data/Hadoop/SequenceFile.hs:31-36);
these are north-star scale mandates, all Spark built-ins with the
per-entity reductions shaped so the fact table shuffles exactly once."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .registry import register, table


@register(
    "feature_target_encoding_oof",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(o.o_custkey % 5 AS INT) AS fold,
             o.o_totalprice AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    prior AS (SELECT avg(price) AS mu FROM j),
    per AS (
      SELECT segment, fold,
             CAST(count(*) AS BIGINT) AS n_fold,
             sum(price) AS sum_fold
      FROM j GROUP BY segment, fold
    ),
    tot AS (
      SELECT segment, fold, n_fold, sum_fold,
             CAST(sum(n_fold) OVER (PARTITION BY segment) AS BIGINT)
               AS n_seg,
             sum(sum_fold) OVER (PARTITION BY segment) AS sum_seg
      FROM per
    )
    SELECT segment, fold, n_fold,
           round((sum_seg - sum_fold + 20.0 * mu)
                 / (n_seg - n_fold + 20.0), 4) AS encoded
    FROM tot, prior ORDER BY segment, fold
    """,
    doc="Leakage-safe (out-of-fold) smoothed target encoding: encode "
    "the categorical c_mktsegment by mean order value, but each "
    "fold's encoding is fit ONLY on the other folds' rows plus an "
    "m=20 pseudo-count pull toward the global prior — the standard "
    "trick that lets a high-cardinality categorical feed a model "
    "without the feature leaking its own label.  Folds are "
    "deterministic (custkey % 5).  Scale shape: broadcast dim join, "
    "ONE partial-agg groupBy to |segments| x 5 cells, a 1-row prior "
    "broadcast, and all fold-complement math (sum_seg - sum_fold) "
    "runs on the tiny cell table via a segment-partitioned window.",
)
def feature_target_encoding_oof(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_custkey") % 5).cast("int").alias("fold"),
        F.col("o_totalprice").alias("price"),
    )
    prior = j.agg(F.avg("price").alias("mu"))
    per = j.groupBy("segment", "fold").agg(
        F.count("*").alias("n_fold"), F.sum("price").alias("sum_fold")
    )
    w = Window.partitionBy("segment")
    tot = per.select(
        "segment",
        "fold",
        "n_fold",
        "sum_fold",
        F.sum("n_fold").over(w).alias("n_seg"),
        F.sum("sum_fold").over(w).alias("sum_seg"),
    )
    return (
        tot.crossJoin(F.broadcast(prior))
        .select(
            "segment",
            "fold",
            "n_fold",
            F.round(
                (F.col("sum_seg") - F.col("sum_fold") + 20.0 * F.col("mu"))
                / (F.col("n_seg") - F.col("n_fold") + 20.0),
                4,
            ).alias("encoded"),
        )
        .orderBy("segment", "fold")
    )


@register(
    "feature_woe_iv",
    oracle="""
    WITH labeled AS (
      SELECT o.o_orderkey, o.o_totalprice AS price,
             CAST(max(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS INT) AS bad
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    edges AS (
      SELECT round(quantile_cont(price, 0.2), 4) AS e1,
             round(quantile_cont(price, 0.4), 4) AS e2,
             round(quantile_cont(price, 0.6), 4) AS e3,
             round(quantile_cont(price, 0.8), 4) AS e4
      FROM labeled
    ),
    binned AS (
      SELECT CASE WHEN price <= e1 THEN 1 WHEN price <= e2 THEN 2
                  WHEN price <= e3 THEN 3 WHEN price <= e4 THEN 4
                  ELSE 5 END AS bin,
             bad
      FROM labeled, edges
    ),
    cells AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(bad) AS BIGINT) AS n_bad,
             CAST(count(*) - sum(bad) AS BIGINT) AS n_good
      FROM binned GROUP BY bin
    ),
    woe AS (
      SELECT bin, n, n_bad,
             n_bad * 1.0 / n AS bad_rate,
             ln(((n_good + 0.5)
                 / (sum(n_good) OVER () * 1.0))
                / ((n_bad + 0.5)
                   / (sum(n_bad) OVER () * 1.0))) AS w,
             (n_good * 1.0 / sum(n_good) OVER ()
              - n_bad * 1.0 / sum(n_bad) OVER ()) AS dp
      FROM cells
    )
    SELECT bin, n, n_bad, round(bad_rate, 4) AS bad_rate,
           round(w, 6) AS woe,
           round(sum(dp * w) OVER (), 6) AS iv_total
    FROM woe ORDER BY bin
    """,
    doc="Weight-of-evidence / information-value feature screening: "
    "order totals are cut into 5 quantile bins (edges = exact "
    "percentiles broadcast as a 1-row table and rounded identically "
    "on both engines — NOT a global-sort ntile over the fact table), "
    "the binary label is 'order had a returned line', and each bin "
    "reports its smoothed WOE = ln(%good/%bad) with the feature's "
    "total IV — the classic credit-scoring screen for whether a "
    "feature separates the classes at all (IV < 0.02 = useless).  "
    "Scale shape: one groupBy labels orders, a 1-row percentile "
    "aggregate broadcasts the cut points (rows never shuffle for "
    "binning), ONE partial-agg groupBy to 5 cells, window math on "
    "the 5-row table.",
)
def feature_woe_iv(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    labeled = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("int")
            .alias("bad")
        )
        .select(F.col("o_totalprice").alias("price"), "bad")
    )
    # r16: `labeled` (join + groupBy over the fact table) is consumed
    # twice — once to learn the percentile edges, once to bin — and
    # Catalyst re-expands DataFrame self-references, so the whole
    # labeling pipeline executed twice.  A lazy localCheckpoint turns
    # the second reference into a reuse of the first execution's
    # (|orders|-row, 2-column) blocks; the two-phase quantile-binning
    # shape itself is unchanged (learning edges before binning is
    # inherently two passes over `labeled`, just not two builds of it).
    labeled = labeled.localCheckpoint(eager=False)
    # ONE array-percentile instead of four scalar ones (r16): the exact
    # Percentile aggregate is an interpreted ObjectAggregate whose buffer
    # holds every value, so n separate calls build n full buffers —
    # measured 1.9s -> 1.0s for this edges aggregate at sf0.1.  The
    # array form evaluates the same exact-interpolation definition, so
    # every edge value is bit-identical.
    _ps = F.percentile("price", F.array(*[F.lit(p) for p in (0.2, 0.4, 0.6, 0.8)]))
    edges = labeled.agg(
        *[F.round(_ps[i], 4).alias(f"e{i + 1}") for i in range(4)]
    )
    binned = labeled.crossJoin(F.broadcast(edges)).select(
        F.when(F.col("price") <= F.col("e1"), 1)
        .when(F.col("price") <= F.col("e2"), 2)
        .when(F.col("price") <= F.col("e3"), 3)
        .when(F.col("price") <= F.col("e4"), 4)
        .otherwise(5)
        .alias("bin"),
        "bad",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("bad").alias("n_bad"),
        (F.count("*") - F.sum("bad")).alias("n_good"),
    )
    w = Window.partitionBy()
    good_tot = F.sum("n_good").over(w).cast("double")
    bad_tot = F.sum("n_bad").over(w).cast("double")
    woe = (
        F.log(
            ((F.col("n_good") + 0.5) / good_tot)
            / ((F.col("n_bad") + 0.5) / bad_tot)
        )
    ).alias("w")
    dp = (F.col("n_good") / good_tot - F.col("n_bad") / bad_tot).alias("dp")
    staged = cells.select(
        "bin",
        "n",
        "n_bad",
        (F.col("n_bad") / F.col("n")).alias("bad_rate"),
        woe,
        dp,
    )
    return (
        staged.select(
            "bin",
            "n",
            "n_bad",
            F.round("bad_rate", 4).alias("bad_rate"),
            F.round("w", 6).alias("woe"),
            F.round(F.sum(F.col("dp") * F.col("w")).over(w), 6).alias(
                "iv_total"
            ),
        )
        .orderBy("bin")
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    maxd AS (SELECT max(o_orderdate) AS d1 FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', last_d, d1) AS BIGINT) AS rec_days,
             freq, cents
      FROM per_cust, maxd
    ),
    scored AS (
      SELECT rec_days, freq, cents,
             5 - ntile(4) OVER (ORDER BY rec_days, o_custkey) AS r_score,
             ntile(4) OVER (ORDER BY freq, o_custkey) AS f_score,
             ntile(4) OVER (ORDER BY cents, o_custkey) AS m_score
      FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           floor(avg(rec_days) * 100 + 0.5) / 100.0 AS avg_recency_days,
           floor(CAST(sum(cents) AS BIGINT) * 1.0 / count(*) + 0.5) / 100.0
             AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
    doc="RFM (recency / frequency / monetary) customer segmentation: "
    "per-customer order stats are quartile-scored on each axis "
    "(recency inverted so 4 = most recent; ntile ties broken by "
    "custkey so both engines bucket identically) and the 4x4x4 "
    "segment grid reports size and value — the marketing-analytics "
    "workhorse, and the same shape that buckets documents by "
    "(freshness, duplication count, quality) for mixture curation.  "
    "Scale shape: ONE partial-agg groupBy collapses the fact table "
    "to |customers| rows; the three ntile windows run on that "
    "per-entity table (orders of magnitude smaller than the facts — "
    "at extreme |customers| swap ntile for broadcast percentile "
    "edges as feature_woe_iv does), and the final reduce is 64 cells.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    # per-customer money is quantized to INTEGER cents PER LINE (round
    # then sum, never round a fold-ordered double sum — that flipped a
    # customer's cents by 1 at sf0.001), and the segment averages use
    # the floor(x+0.5) form: Spark's round() is exact-decimal while
    # DuckDB's is scaled-float, so identical doubles can round
    # DIFFERENTLY at a half-cent boundary; floor on identical doubles
    # cannot.
    per = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    maxd = o.agg(F.max("o_orderdate").alias("d1"))
    rfm = per.crossJoin(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff("d1", "last_d").cast("long").alias("rec_days"),
        "freq",
        "cents",
    )
    scored = rfm.select(
        "rec_days",
        "cents",
        (
            5
            - F.ntile(4).over(
                Window.orderBy("rec_days", "o_custkey")
            )
        ).alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy("freq", "o_custkey"))
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.floor(F.avg("rec_days") * 100 + 0.5) / 100.0
            ).alias("avg_recency_days"),
            (
                F.floor(
                    F.sum("cents") * 1.0 / F.count(F.lit(1)) + 0.5
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type, value
      FROM events WHERE event_type <> 'error'
    ),
    tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM base
    ),
    conv AS (
      SELECT coalesce(last_touch, 'direct') AS channel, value
      FROM tagged WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_conversions,
           round(sum(value), 2) AS attributed_value,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (), 4) AS conversion_share
    FROM conv GROUP BY channel ORDER BY channel
    """,
    doc="Last-touch revenue attribution: every purchase event is "
    "credited to the user's most recent preceding non-purchase "
    "touch (view / click / signup; errors excluded; no touch = "
    "'direct'), aggregating conversions and attributed value per "
    "channel — the single-shuffle formulation of the classic "
    "marketing as-of join: instead of joining each conversion "
    "against the touch table, ONE user-partitioned ordered window "
    "carries the last touch forward (last_value IGNORE NULLS over "
    "preceding rows), so the event stream shuffles exactly once on "
    "user_id and no interval/as-of join materializes candidate "
    "pairs.  The final channel rollup touches |conversions| rows.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    base = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = base.withColumn(
        "last_touch",
        F.last(
            F.when(
                F.col("event_type") != "purchase", F.col("event_type")
            ),
            ignorenulls=True,
        ).over(w),
    )
    conv = tagged.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("direct")).alias("channel"), "value"
    )
    per = conv.groupBy("channel").agg(
        F.count("*").alias("n_conversions"),
        F.round(F.sum("value"), 2).alias("attributed_value"),
    )
    wall = Window.partitionBy()
    return per.select(
        "channel",
        "n_conversions",
        "attributed_value",
        F.round(
            F.col("n_conversions") / F.sum("n_conversions").over(wall), 4
        ).alias("conversion_share"),
    ).orderBy("channel")


def _logreg_oracle() -> str:
    """Unrolled 3-iteration gradient descent as chained CTEs: each
    iteration's weights are round(·, 9) on BOTH engines, absorbing the
    ~1e-16 partial-sum reorder noise so the trajectories stay
    bit-identical."""
    feats = """
    f AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             n_chars / 1000.0 AS x1,
             len(string_split(lower(text), ' ')) / 100.0 AS x2
      FROM documents
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS wa, 0.0 AS wb)"""
    step = """,
    g{i} AS (
      SELECT b, wa, wb,
             avg(1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) AS db,
             avg((1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) * x1) AS da,
             avg((1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) * x2) AS dbb
      FROM f, w{prev} GROUP BY b, wa, wb
    ),
    w{i} AS (
      SELECT round(b - 1.0 * db, 9) AS b,
             round(wa - 1.0 * da, 9) AS wa,
             round(wb - 1.0 * dbb, 9) AS wb
      FROM g{i}
    )"""
    body = "WITH" + feats
    for i in (1, 2, 3):
        body += step.format(i=i, prev=i - 1)
    body += """
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(b, 6) AS w_bias,
           round(wa, 6) AS w_chars,
           round(wb, 6) AS w_words,
           round(avg(CASE WHEN ((b + wa * x1 + wb * x2) >= 0)
                               = (y = 1.0)
                          THEN 1.0 ELSE 0.0 END), 4) AS train_acc
    FROM f, w3 GROUP BY b, wa, wb"""
    return body


def _logreg_features(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.col("n_chars") / 1000.0).alias("x1"),
        (F.size(F.split(F.lower("text"), " ")) / 100.0).alias("x2"),
    )


def _logreg_fit(f) -> tuple[float, float, float]:
    """3 GD steps over the cached feature frame; returns (b, wa, wb)
    quantized ROUND_HALF_UP at 1e-9 each step (the SQL round
    semantics, so the oracle's unrolled trajectory matches
    bit-for-bit).  Shared by the training row and the calibration
    row — both must hold the IDENTICAL model."""
    from decimal import ROUND_HALF_UP, Decimal

    def _r9(x: float) -> float:
        # DuckDB round() is half-AWAY-FROM-ZERO; Python round() is
        # banker's half-even — a gradient landing on a 1e-9 decimal
        # midpoint would fork the whole trajectory, so quantize with
        # the SQL semantics
        return float(
            Decimal(repr(x)).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP
            )
        )

    b, wa, wb = 0.0, 0.0, 0.0
    for _ in range(3):
        z = F.lit(b) + F.lit(wa) * F.col("x1") + F.lit(wb) * F.col("x2")
        p = 1 / (1 + F.exp(-z))
        g = f.agg(
            F.avg(p - F.col("y")).alias("db"),
            F.avg((p - F.col("y")) * F.col("x1")).alias("da"),
            F.avg((p - F.col("y")) * F.col("x2")).alias("dbb"),
        ).collect()[0]
        b = _r9(b - 1.0 * g.db)
        wa = _r9(wa - 1.0 * g.da)
        wb = _r9(wb - 1.0 * g.dbb)
    return b, wa, wb



@register(
    "ml_logreg_quality_train",
    oracle=_logreg_oracle(),
    doc="Distributed logistic-regression training (3 full-batch "
    "gradient-descent steps, lr=1, is-English target over "
    "length-derived features): the supervised counterpart of the "
    "k-means/SemDeDup iterative loop — each step is ONE partial-agg "
    "aggregation over the corpus producing a 3-float gradient, the "
    "weights are driver-held k-bounded state broadcast back as "
    "literals (the k-means-centroid contract; the corpus never "
    "shuffles at all), and a final pass scores training accuracy.  "
    "Per-iteration weights are round(·,9) on BOTH engines so the "
    "trajectories match bit-for-bit; the oracle unrolls the identical "
    "3 steps as chained CTEs.  This is the fastText-style quality/"
    "lang classifier training shape a curation pipeline runs over "
    "100 TB: O(iterations) scans, O(features) driver state, zero "
    "shuffles.",
)
def ml_logreg_quality_train(spark, sf_dir):
    # 4 full scans (3 gradient steps + accuracy): 1 read via persist
    f = _logreg_features(spark, sf_dir).persist()
    b, wa, wb = _logreg_fit(f)
    # release the cache now that the 3 driver-held gradient collects
    # are done (1 parquet read + 2 cache hits); the returned plan stays
    # LAZY over the source so the caller sees the real aggregate plan —
    # the accuracy pass is one fresh codegen scan (4 scans → 2 reads)
    f.unpersist(blocking=False)
    z = F.lit(b) + F.lit(wa) * F.col("x1") + F.lit(wb) * F.col("x2")
    return f.agg(
        F.count("*").alias("n"),
        F.round(F.lit(b), 6).alias("w_bias"),
        F.round(F.lit(wa), 6).alias("w_chars"),
        F.round(F.lit(wb), 6).alias("w_words"),
        F.round(
            F.avg(
                F.when((z >= 0) == (F.col("y") == 1.0), 1.0).otherwise(
                    0.0
                )
            ),
            4,
        ).alias("train_acc"),
    )


@register(
    "ml_linreg_normal_equations",
    oracle="""
    WITH f AS (
      SELECT o_totalprice AS y,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS DOUBLE)
               AS freq,
             CAST(date_diff('day', o_orderdate,
                            (SELECT max(o_orderdate) FROM orders))
                  AS DOUBLE) AS rec
      FROM orders
    ),
    m AS (
      SELECT round(covar_pop(freq, freq), 9) AS sxx,
             round(covar_pop(freq, rec), 9)  AS sxz,
             round(covar_pop(rec, rec), 9)   AS szz,
             round(covar_pop(freq, y), 9)    AS sxy,
             round(covar_pop(rec, y), 9)     AS szy,
             round(avg(freq), 9) AS mx,
             round(avg(rec), 9)  AS mz,
             round(avg(y), 9)    AS my,
             CAST(count(*) AS BIGINT) AS n
      FROM f
    )
    SELECT n,
           round((sxy * szz - szy * sxz)
                 / (sxx * szz - sxz * sxz), 6) AS beta_freq,
           round((szy * sxx - sxy * sxz)
                 / (sxx * szz - sxz * sxz), 6) AS beta_rec,
           round(my - (sxy * szz - szy * sxz)
                        / (sxx * szz - sxz * sxz) * mx
                    - (szy * sxx - sxy * sxz)
                        / (sxx * szz - sxz * sxz) * mz, 6) AS intercept
    FROM m
    """,
    doc="Two-feature OLS (order value ~ customer order frequency + "
    "recency) solved by the NORMAL EQUATIONS on driver-held "
    "sufficient statistics: ONE partial-agg pass reduces the fact "
    "table to the 3x3 covariance matrix (the same corpus-scans-once, "
    "driver-solves-k-bounded contract as ml_logreg / k-means / PCA — "
    "for d features the pass emits d(d+1)/2 cells and the driver "
    "inverts a dxd matrix), and the closed-form 2-feature solution "
    "is literal algebra over those statistics, so the DuckDB oracle "
    "certifies the whole solve.  Covariances round(·,9) on both "
    "engines before the algebra pins the solution bit-for-bit.  "
    "Complements regr_slope (1 feature) and the GD logreg (iterative) "
    "with the exact multi-feature path.",
)
def ml_linreg_normal_equations(spark, sf_dir):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("d1"))
    f = o.crossJoin(F.broadcast(maxd)).select(
        F.col("o_totalprice").alias("y"),
        F.count("*")
        .over(Window.partitionBy("o_custkey"))
        .cast("double")
        .alias("freq"),
        F.datediff("d1", "o_orderdate").cast("double").alias("rec"),
    )
    m = f.agg(
        F.round(F.covar_pop("freq", "freq"), 9).alias("sxx"),
        F.round(F.covar_pop("freq", "rec"), 9).alias("sxz"),
        F.round(F.covar_pop("rec", "rec"), 9).alias("szz"),
        F.round(F.covar_pop("freq", "y"), 9).alias("sxy"),
        F.round(F.covar_pop("rec", "y"), 9).alias("szy"),
        F.round(F.avg("freq"), 9).alias("mx"),
        F.round(F.avg("rec"), 9).alias("mz"),
        F.round(F.avg("y"), 9).alias("my"),
        F.count("*").alias("n"),
    ).collect()[0]
    det = m.sxx * m.szz - m.sxz * m.sxz
    bx = (m.sxy * m.szz - m.szy * m.sxz) / det
    bz = (m.szy * m.sxx - m.sxy * m.sxz) / det
    icpt = m.my - bx * m.mx - bz * m.mz

    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        # DuckDB round() is half-away-from-zero; Python round() is
        # banker's half-even — quantize with the SQL semantics so a
        # 1e-6 midpoint can't fork the graded value
        return float(
            Decimal(repr(x)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        )

    return spark.createDataFrame(
        [(m.n, _r6(bx), _r6(bz), _r6(icpt))],
        "n bigint, beta_freq double, beta_rec double, intercept double",
    )


@register(
    "ml_naive_bayes_lang_train",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    cls AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tok
      FROM toks GROUP BY lang
    ),
    vocab AS (SELECT count(DISTINCT tok) AS v FROM toks),
    docs AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY lang
    ),
    probes AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks WHERE tok IN ('the', 'de', 'la') GROUP BY lang, tok
    )
    SELECT d.lang,
           d.n_docs,
           cls.n_tok,
           round(ln(d.n_docs * 1.0 /
                    (SELECT sum(n_docs) FROM docs)), 6) AS log_prior,
           round(ln((coalesce(p.c, 0) + 1.0) /
                    (cls.n_tok + (SELECT v FROM vocab))), 6)
             AS loglik_the
    FROM docs d
    JOIN cls ON cls.lang = d.lang
    LEFT JOIN (SELECT lang, c FROM probes WHERE tok = 'the') p
      ON p.lang = d.lang
    ORDER BY d.lang
    """,
    doc="Multinomial Naive Bayes trained distributed — the generative "
    "complement to the discriminative logreg and exact OLS rows: "
    "class log-priors from doc counts and Laplace-smoothed token "
    "log-likelihoods from ONE explode + partial-agg pass (per-class "
    "token totals + global vocab size are the entire sufficient "
    "statistic — the same corpus-scans-once / driver-holds-k-bounded "
    "contract).  The graded surface reports per-class prior and the "
    "smoothed log-likelihood of the probe token 'the' (the classic "
    "lang-ID feature); ln rounded 6 on both engines.  At 100 TB the "
    "model is |V|·|classes| counts — shuffle O(vocab), never corpus.",
)
def ml_naive_bayes_lang_train(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    cls = toks.groupBy("lang").agg(F.count("*").alias("n_tok"))
    vocab = toks.agg(
        F.countDistinct("tok").alias("v")
    )
    docs = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total = docs.agg(F.sum("n_docs").alias("nd_total"))
    the = (
        toks.filter(F.col("tok") == "the")
        .groupBy("lang")
        .agg(F.count("*").alias("c"))
    )
    return (
        docs.join(cls, "lang")
        .join(the, "lang", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "n_tok",
            F.round(
                F.log(F.col("n_docs") / F.col("nd_total")), 6
            ).alias("log_prior"),
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n_tok") + F.col("v"))
                ),
                6,
            ).alias("loglik_the"),
        )
        .orderBy("lang")
    )


@register(
    "feature_hashing_trick",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT lang,
             CAST(CAST(('0x' || substr(md5(tok), 2, 4)) AS INTEGER) % 64
                  AS INT) AS bucket,
             CASE WHEN substr(md5(tok), 1, 1) >= '8' THEN 1 ELSE -1 END
               AS sgn
      FROM toks
    )
    SELECT lang, bucket,
           CAST(sum(sgn) AS BIGINT) AS weight,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM hashed
    GROUP BY lang, bucket
    HAVING count(*) >= 100
    ORDER BY lang, bucket
    """,
    doc="Hashing-trick featurization (Weinberger '09): tokens map to a "
    "FIXED 64-bucket feature space via an engine-portable md5-derived "
    "hash (no vocabulary pass, no dictionary state — the property "
    "that lets a 100 TB featurizer run in one map-side pass with "
    "O(buckets) model width regardless of vocabulary growth).  The "
    "md5 high bit is the paper's SIGN hash ξ(t) ∈ {±1} — bucket "
    "values are signed sums, which is what makes the estimator "
    "unbiased under collisions (Weinberger '09 §3; the r10 version "
    "folded this bit into the bucket where (64+k)%64 made it a no-op "
    "— ADVICE r10).  Output: per-language signed bucket weights + "
    "token counts (>= 100 cut keeps the graded surface stable).  One "
    "explode + ONE partial-agg groupBy to |langs|·64 cells; no "
    "shuffle of raw text.",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    h = F.md5("tok")
    bucket = (F.conv(F.substring(h, 2, 4), 16, 10).cast("int") % 64).cast(
        "int"
    )
    sgn = F.when(F.substring(h, 1, 1) >= "8", F.lit(1)).otherwise(F.lit(-1))
    return (
        toks.select("lang", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("lang", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("weight"),
            F.count("*").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= 100)
        .orderBy("lang", "bucket")
    )


# The canonical stopword probe for the Gopher rules below — a fixed
# cross-engine list, NOT the per-language LANG_STOPWORDS map (rule
# filters must be vocabulary-stable as the corpus grows).
_GOPHER_STOPS = ("the", "and", "of", "to", "a", "in", "is", "for")

def gopher_flags(d):
    """Per-document Gopher rule flags (0 = pass) over a documents-shaped
    frame: returns (doc_id, lang, text, f_len, f_wl, f_alpha, f_stop,
    f_sym).  Shared by the per-rule stats row and the v2 corpus
    capstone so both certify the SAME rule expressions."""
    toks = F.filter(F.split(F.lower("text"), " "), lambda w: w != F.lit(""))
    n_words = F.size("toks")

    def sum_int(arr):
        return F.aggregate(arr, F.lit(0), lambda acc, x: acc + x)

    mean_wl = sum_int(F.transform(F.col("toks"), F.length)).cast(
        "double"
    ) / n_words
    alpha_frac = sum_int(
        F.transform(
            F.col("toks"),
            lambda w: F.when(w.rlike("[a-z]"), 1).otherwise(0),
        )
    ).cast("double") / n_words
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    stop_hits = F.size(
        F.filter(F.col("toks"), lambda w: F.array_contains(stops, w))
    )
    symbol_frac = F.length(
        F.regexp_replace(F.lower("text"), "[a-z0-9 ]", "")
    ).cast("double") / F.length("text")

    def fail(cond):
        return F.when(cond, 0).otherwise(1)

    return (
        d.withColumn("toks", toks)
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "lang",
            "text",
            fail(n_words.between(20, 1000)).alias("f_len"),
            fail(mean_wl.between(3.0, 5.0)).alias("f_wl"),
            fail(alpha_frac > 0.8).alias("f_alpha"),
            fail(stop_hits >= 2).alias("f_stop"),
            fail(symbol_frac < 0.1).alias("f_sym"),
        )
    )




@register(
    "text_gopher_quality_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS toks,
             length(text) AS n_chars_raw,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_symbols
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(toks) AS n_words,
             CAST(list_sum(list_transform(toks, w -> length(w)))
                  AS DOUBLE) / len(toks) AS mean_wl,
             CAST(list_sum(list_transform(toks,
                    w -> CASE WHEN regexp_matches(w, '[a-z]')
                              THEN 1 ELSE 0 END)) AS DOUBLE)
               / len(toks) AS alpha_frac,
             CAST(list_sum(list_transform(toks,
                    w -> CASE WHEN w IN {_GOPHER_STOPS!r}
                              THEN 1 ELSE 0 END)) AS INT) AS stop_hits,
             CAST(n_symbols AS DOUBLE) / n_chars_raw AS symbol_frac
      FROM t WHERE len(toks) > 0
    ),
    r AS (
      SELECT lang,
             CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0 ELSE 1 END
               AS f_len,
             CASE WHEN mean_wl BETWEEN 3.0 AND 5.0 THEN 0 ELSE 1 END
               AS f_wl,
             CASE WHEN alpha_frac > 0.8 THEN 0 ELSE 1 END AS f_alpha,
             CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END AS f_stop,
             CASE WHEN symbol_frac < 0.1 THEN 0 ELSE 1 END AS f_sym
      FROM m
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f_len) AS BIGINT) AS fail_word_count,
           CAST(sum(f_wl) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(f_alpha) AS BIGINT) AS fail_alpha_frac,
           CAST(sum(f_stop) AS BIGINT) AS fail_stopwords,
           CAST(sum(f_sym) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(CASE WHEN f_len + f_wl + f_alpha + f_stop + f_sym = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM r GROUP BY lang ORDER BY lang
    """,
    doc="Gopher rule-based quality filter (Rae et al. '21, §A1.1, "
    "adapted thresholds): per-document word count, mean word length, "
    "alphabetic-word fraction, stopword presence, and symbol ratio, "
    "each a pass/fail rule; per-language counts of failures per rule "
    "and of documents passing ALL rules.  This is the standard first "
    "gate of an LLM pretraining curation pipeline.  Every metric is a "
    "ratio of exact integer counts, so rule outcomes are bit-identical "
    "across engines and the graded output is all-integer.  Plan: one "
    "map-side pass over documents (split + three array folds), one "
    "partial-agg groupBy to |langs| rows — no shuffle of raw text, no "
    "UDF; at 100 TB this is scan-bound, exactly like the reference "
    "counting loop it generalizes.",
)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str):
    r = gopher_flags(table(spark, sf_dir, "documents"))
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("f_len").cast("long").alias("fail_word_count"),
            F.sum("f_wl").cast("long").alias("fail_mean_word_len"),
            F.sum("f_alpha").cast("long").alias("fail_alpha_frac"),
            F.sum("f_stop").cast("long").alias("fail_stopwords"),
            F.sum("f_sym").cast("long").alias("fail_symbol_ratio"),
            F.sum(
                F.when(
                    F.col("f_len")
                    + F.col("f_wl")
                    + F.col("f_alpha")
                    + F.col("f_stop")
                    + F.col("f_sym")
                    == 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pass"),
        )
        .orderBy("lang")
    )


@register(
    "ml_naive_bayes_score_confusion",
    oracle="""
    WITH train AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
    test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
    ttoks AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS tok FROM train
    ),
    cls AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tok FROM ttoks GROUP BY lang
    ),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ttoks),
    mc AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
      FROM ttoks GROUP BY lang, tok
    ),
    model AS (
      SELECT m.lang, m.tok,
             CAST(round(round(ln((m.c + 1.0) / (cls.n_tok + v.v)), 6)
                        * 1000000.0) AS BIGINT) AS ll
      FROM mc m JOIN cls USING (lang) CROSS JOIN vocab v
    ),
    fb AS (
      SELECT lang,
             CAST(round(round(ln(1.0 / (n_tok + v.v)), 6) * 1000000.0)
                  AS BIGINT) AS fll
      FROM cls CROSS JOIN vocab v
    ),
    nd AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
    prior AS (
      SELECT lang,
             CAST(round(round(ln(n_docs * 1.0 /
                                 (SELECT sum(n_docs) FROM nd)), 6)
                        * 1000000.0) AS BIGINT) AS pr
      FROM nd
    ),
    dtc AS (
      SELECT doc_id, lang AS actual, tok, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM test
      ) GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.doc_id, d.actual, f.lang AS cand,
             p.pr + sum(d.cnt * coalesce(mo.ll, f.fll)) AS score
      FROM dtc d
      CROSS JOIN fb f
      LEFT JOIN model mo ON mo.lang = f.lang AND mo.tok = d.tok
      JOIN prior p ON p.lang = f.lang
      GROUP BY d.doc_id, d.actual, f.lang, p.pr
    ),
    pred AS (
      SELECT doc_id, actual, cand,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scored
    )
    SELECT actual, cand AS predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rnk = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Naive Bayes INFERENCE + confusion matrix — the scoring half "
    "of ml_naive_bayes_lang_train (train on doc_id%5<>0, classify the "
    "held-out fifth): per-class score = quantized log-prior + Σ "
    "token-count × quantized log-likelihood with the Laplace unseen-"
    "token fallback, argmax per document (ties to the first language), "
    "reported as an (actual, predicted) count matrix.  Every log term "
    "is round(·,6)·1e6 → BIGINT at source, so class scores are exact "
    "integer sums — argmax cannot flip on float fold order.  Scale "
    "shape: the model is |V|·|classes| rows built in one explode + "
    "partial-agg pass; scoring is a token-keyed join of the test "
    "token-count table against the model (broadcast here; token-keyed "
    "shuffle join when V outgrows executors), then a per-doc argmax "
    "window over |classes| rows/doc.",
)
def ml_naive_bayes_score_confusion(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)

    def q6(col):  # round(·,6) then exact micro-int quantization
        return F.round(F.round(col, 6) * 1e6).cast("long")

    ttoks = train.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    cls = ttoks.groupBy("lang").agg(F.count("*").alias("n_tok"))
    vocab = ttoks.agg(F.countDistinct("tok").alias("v"))
    mc = ttoks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    model = (
        mc.join(cls, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "tok",
            q6(
                F.log((F.col("c") + 1.0) / (F.col("n_tok") + F.col("v")))
            ).alias("ll"),
        )
    )
    fb = (
        cls.crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            q6(F.log(1.0 / (F.col("n_tok") + F.col("v")))).alias("fll"),
        )
    )
    nd = train.groupBy("lang").agg(F.count("*").alias("n_docs"))
    nd_tot = nd.agg(F.sum("n_docs").alias("t"))
    prior = (
        nd.crossJoin(F.broadcast(nd_tot))
        .select("lang", q6(F.log(F.col("n_docs") / F.col("t"))).alias("pr"))
    )
    dtc = (
        test.select(
            "doc_id",
            F.col("lang").alias("actual"),
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .groupBy("doc_id", "actual", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    fbb = F.broadcast(fb.withColumnRenamed("lang", "cand"))
    scored = (
        dtc.crossJoin(fbb)
        .join(
            F.broadcast(model).withColumnRenamed("lang", "cand"),
            ["cand", "tok"],
            "left",
        )
        .join(
            F.broadcast(prior).withColumnRenamed("lang", "cand"), "cand"
        )
        .groupBy("doc_id", "actual", "cand", "pr")
        .agg(
            (
                F.first("pr")
                + F.sum(
                    F.col("cnt") * F.coalesce(F.col("ll"), F.col("fll"))
                )
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    return (
        pred.groupBy("actual", F.col("cand").alias("predicted"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("actual", "predicted")
    )


def _logreg_calibration_oracle() -> str:
    """The same unrolled 3-step GD trajectory as ``_logreg_oracle``,
    followed by a reliability-diagram tail: per predicted-probability
    quintile bin, document count, mean predicted p, and actual
    positive rate.  p is round(·,6) BEFORE binning and quantized to
    exact micro-units for the bin average, so bin membership and every
    reported value are engine-identical."""
    feats = """
    f AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             n_chars / 1000.0 AS x1,
             len(string_split(lower(text), ' ')) / 100.0 AS x2
      FROM documents
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS wa, 0.0 AS wb)"""
    step = """,
    g{i} AS (
      SELECT b, wa, wb,
             avg(1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) AS db,
             avg((1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) * x1) AS da,
             avg((1 / (1 + exp(-(b + wa * x1 + wb * x2))) - y) * x2) AS dbb
      FROM f, w{prev} GROUP BY b, wa, wb
    ),
    w{i} AS (
      SELECT round(b - 1.0 * db, 9) AS b,
             round(wa - 1.0 * da, 9) AS wa,
             round(wb - 1.0 * dbb, 9) AS wb
      FROM g{i}
    )"""
    body = "WITH" + feats
    for i in (1, 2, 3):
        body += step.format(i=i, prev=i - 1)
    body += """,
    scored AS (
      SELECT y,
             round(1 / (1 + exp(-(b + wa * x1 + wb * x2))), 6) AS p
      FROM f, w3
    ),
    binned AS (
      SELECT CAST(least(floor(p * 5), 4) AS INT) AS bin,
             y,
             CAST(round(p * 1000000) AS BIGINT) AS p_micro
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(p_micro) AS DOUBLE) / count(*) / 1000000.0, 4)
             AS mean_pred,
           round(CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) / count(*), 4)
             AS actual_rate
    FROM binned GROUP BY bin ORDER BY bin"""
    return body


@register(
    "ml_logreg_calibration_bins",
    oracle=_logreg_calibration_oracle(),
    doc="Reliability diagram for the trained quality classifier — the "
    "model-eval step after ml_logreg_quality_train (same 3-step GD "
    "trajectory via the shared _logreg_fit helper, so both rows hold "
    "the IDENTICAL model): documents bucket into predicted-probability "
    "quintiles, each bin reports count, mean predicted p, and actual "
    "positive rate — calibrated ⇔ mean_pred ≈ actual_rate per bin "
    "(the check that decides whether classifier scores can be used as "
    "sampling weights, not just rankings).  p is round(·,6) before "
    "binning and micro-int quantized for the average, so bin "
    "membership and values are engine-exact.  Scale: 3 training scans "
    "+ ONE scoring scan to a 5-cell partial agg; weights stay "
    "driver-held literals, the corpus never shuffles.",
)
def ml_logreg_calibration_bins(spark, sf_dir):
    f = _logreg_features(spark, sf_dir).persist()
    b, wa, wb = _logreg_fit(f)
    f.unpersist(blocking=False)
    z = F.lit(b) + F.lit(wa) * F.col("x1") + F.lit(wb) * F.col("x2")
    p = F.round(1 / (1 + F.exp(-z)), 6)
    binned = f.select(
        F.least(F.floor(p * 5), F.lit(4)).cast("int").alias("bin"),
        "y",
        F.round(p * 1e6).cast("long").alias("p_micro"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("p_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6),
                4,
            ).alias("mean_pred"),
            F.round(
                F.sum(F.col("y").cast("long")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("actual_rate"),
        )
        .orderBy("bin")
    )


@register(
    "ml_conformal_interval_coverage",
    oracle="""
    WITH f AS (
      SELECT o_orderkey, o_totalprice AS y,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS DOUBLE)
               AS freq,
             substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS hx
      FROM orders
    ),
    m AS (
      SELECT round(covar_pop(freq, y), 9) AS sxy,
             round(var_pop(freq), 9) AS sxx,
             round(avg(freq), 9) AS mx,
             round(avg(y), 9) AS my,
             CAST(count(*) AS BIGINT) AS n_train
      FROM f WHERE hx < '8'
    ),
    model AS (
      SELECT n_train,
             round(sxy / sxx, 6) AS slope,
             round(my - round(sxy / sxx, 6) * mx, 6) AS icpt
      FROM m
    ),
    scored AS (
      SELECT f.hx, f.o_orderkey,
             CAST(round(abs(f.y - (model.slope * f.freq + model.icpt))
                        * 100) AS BIGINT) AS res
      FROM f, model WHERE f.hx >= '8'
    ),
    kq AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal,
             CAST(ceil((count(*) + 1) * 0.9) AS BIGINT) AS k
      FROM scored WHERE hx < 'c'
    ),
    cells AS (
      SELECT res, CAST(count(*) AS BIGINT) AS cnt FROM scored
      WHERE hx < 'c' GROUP BY res
    ),
    qhat AS (
      SELECT CAST(min(res) AS BIGINT) AS qhat_cents FROM (
        SELECT res, sum(cnt) OVER (ORDER BY res) AS cum FROM cells
      ), kq WHERE cum >= kq.k
    )
    SELECT model.n_train, kq.n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           model.slope, model.icpt, qhat.qhat_cents,
           CAST(count(CASE WHEN s.res <= qhat.qhat_cents THEN 1 END)
                AS BIGINT) AS covered,
           round(CAST(count(CASE WHEN s.res <= qhat.qhat_cents THEN 1 END)
                      AS DOUBLE) / count(*), 6) AS coverage
    FROM scored s, model, kq, qhat
    WHERE s.hx >= 'c'
    GROUP BY model.n_train, kq.n_cal, model.slope, model.icpt,
             qhat.qhat_cents
    """,
    doc="Split conformal prediction (Vovk '05; Lei et al. JASA'18 — "
    "the distribution-free uncertainty wrapper production ML serves "
    "intervals with): deterministic md5 thirds split orders into "
    "train (8/16) / calibration (4/16) / test (4/16); a 1-feature "
    "OLS fit on train (same round(9)-pinned moment algebra as "
    "ml_linreg_normal_equations), the conformal radius q_hat = the "
    "ceil((n_cal+1)*0.9)-th smallest absolute calibration residual "
    "(EXACT order statistic, integer cents), and the certificate is "
    "empirical TEST coverage of y_hat ± q_hat — the 90% guarantee "
    "conformal theory promises, measured.  Scale shape: residuals "
    "quantize to integer cents and collapse to per-value CELLS "
    "(partial agg), so the exact quantile is a running sum over the "
    "cell table, never a per-row global sort — the Mann-Whitney "
    "two-phase-prefix-sum discipline.  Corpus passes are capped at "
    "TWO (train moments; one persisted scored materialization) via "
    "1-row collects, the documented driver-holds-k-bounded-state "
    "contract — the lazy multi-branch form carried 15 static scan "
    "references to the windowed feature frame, leaving the real scan "
    "count to optimizer-dependent exchange reuse (SCALE.md r12 plan "
    "audit); the explicit form makes the bound deterministic.",
)
def ml_conformal_interval_coverage(spark, sf_dir):
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    f = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("y"),
        F.count("*")
        .over(Window.partitionBy("o_custkey"))
        .cast("double")
        .alias("freq"),
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).alias(
            "hx"
        ),
    )
    m = f.filter(F.col("hx") < "8").agg(
        F.round(F.covar_pop("freq", "y"), 9).alias("sxy"),
        F.round(F.var_pop("freq"), 9).alias("sxx"),
        F.round(F.avg("freq"), 9).alias("mx"),
        F.round(F.avg("y"), 9).alias("my"),
        F.count("*").alias("n_train"),
    )
    from decimal import ROUND_HALF_UP, Decimal

    def _r6(x: float) -> float:
        # SQL half-up at 1e-6 (Python round() is half-even) — same
        # pin as ml_linreg_normal_equations
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    # 1-row model collect (the documented driver-holds-k-bounded-state
    # contract, as in the linreg/logreg rows): with slope/icpt as
    # literals the cal/test branches need no broadcast-join chain, and
    # persisting `scored` caps the corpus passes at TWO (train moments
    # + one scored materialization) — the lazy multi-branch form
    # re-derived the windowed feature frame once per downstream
    # reference (15 orders scans in the physical plan).
    mr = m.collect()[0]
    slope = _r6(mr.sxy / mr.sxx)
    icpt = _r6(mr.my - slope * mr.mx)
    scored = (
        f.filter(F.col("hx") >= "8")
        .select(
            "hx",
            F.round(
                F.abs(
                    F.col("y")
                    - (F.lit(slope) * F.col("freq") + F.lit(icpt))
                )
                * 100
            )
            .cast("long")
            .alias("res"),
        )
        .persist()
    )
    try:
        return _conformal_from_scored(spark, scored, mr, slope, icpt)
    finally:
        # unpersist in finally: an exception anywhere in the collect
        # sequence (empty calibration split, executor loss) must not
        # leak the cached dataset for the rest of the session.
        scored.unpersist(blocking=False)


def _conformal_from_scored(spark, scored, mr, slope, icpt):
    from pyspark.sql import Window

    from decimal import Decimal, ROUND_HALF_UP

    def _r6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    cal = scored.filter(F.col("hx") < "c")
    kq = cal.agg(
        F.count("*").alias("n_cal"),
        F.ceil((F.count("*") + 1) * 0.9).cast("long").alias("k"),
    )
    cells = cal.groupBy("res").agg(F.count("*").alias("cnt"))
    # exact k-th order statistic over the CELL table, two-phase: 8
    # deterministic value-range buckets rank in parallel, the only
    # serial window is the 8-row bucket-offset table (the same
    # distributed-selection shape as abtest_mann_whitney_u).
    bounds = cells.agg(F.min("res").alias("rlo"), F.max("res").alias("rhi"))
    nb = 8
    parts = cells.crossJoin(F.broadcast(bounds)).select(
        "res",
        "cnt",
        F.least(
            F.lit(nb - 1),
            F.floor(
                (F.col("res") - F.col("rlo")).cast("double")
                * nb
                / (F.col("rhi") - F.col("rlo") + 1).cast("double")
            ).cast("int"),
        ).alias("pid"),
    )
    ptot = parts.groupBy("pid").agg(F.sum("cnt").alias("pn"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = ptot.select(
        "pid", F.coalesce(F.sum("pn").over(woff), F.lit(0)).alias("off")
    )
    win = Window.partitionBy("pid").orderBy("res").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # r17: the calibration rank (n_cal, k) rides into the qhat job as a
    # 1-row broadcast crossJoin instead of its own collect — same
    # values, same comparison, one fewer driver round trip (the first
    # action here still materializes the `scored` cache).  A further
    # merge — qhat into the coverage job too — measured SLOWER
    # interleaved (3.67 → 4.11 s median: the chained broadcast
    # subtrees serialize work the separate jobs overlap), so coverage
    # keeps its own collect.
    # n_cal is crossed in again after the aggregate: when no cell
    # reaches rank k (an empty split, or k > n_cal below 9 rows) the
    # aggregate has no input row to carry it, and n_cal is still the
    # calibration count, 0 on an empty split.
    qrow = (
        parts.withColumn("cum_in", F.sum("cnt").over(win))
        .join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(kq))
        .filter(F.col("cum_in") + F.col("off") >= F.col("k"))
        .agg(F.min("res").alias("qhat_cents"))
        .crossJoin(F.broadcast(kq.select("n_cal")))
        .collect()[0]
    )
    qhat = qrow.qhat_cents
    cov = (
        scored.filter(F.col("hx") >= "c")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(F.col("res") <= F.lit(qhat), 1).otherwise(0)
            ).alias("covered"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [
            (
                mr.n_train,
                qrow.n_cal,
                cov.n_test,
                slope,
                icpt,
                qhat,
                cov.covered,
                _r6(cov.covered / cov.n_test),
            )
        ],
        "n_train bigint, n_cal bigint, n_test bigint, slope double, "
        "icpt double, qhat_cents bigint, covered bigint, coverage double",
    )
