"""Structured Streaming slice (SURVEY §2.2 last row) — the `events`
table replayed as a file stream, aggregated with event-time windows,
then compared against batch SQL oracles (a streaming query with
available-now trigger over a static source must equal the batch
answer).

Each builder runs a real ``readStream → writeStream`` pipeline with an
``availableNow`` trigger into a memory sink, waits for completion, and
returns the sink table.  Watermarks are set wide enough that no rows
are late w.r.t. the replay order, so results are deterministic and
SQL-expressible (DuckDB ``time_bucket`` / gaps-and-islands)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import parquet_replay_stream, run_available_now, stateful_group_stats


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import events_path

    # timestamp[us] copy; Spark rejects TIMESTAMP(NANOS) parquet
    return parquet_replay_stream(spark, events_path(sf_dir))


def _run_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int = 8,
    assert_no_watermark_drops: bool = False,
    final_no_data_batch: bool = True,
) -> DataFrame:
    # state_partitions sizes the state store (see run_available_now):
    # these replays are one bounded micro-batch, so per-partition store
    # setup dominates and smaller is faster — EXCEPT for python-side
    # stateful operators (applyInPandasWithState), where partitions are
    # the parallelism unit (measured: stateful stats 1.7s at 8 vs 3.2s
    # at 2).  A real deployment sizes this to peak keys × throughput.
    return run_available_now(
        stream_df,
        spark,
        output_mode=output_mode,
        state_partitions=state_partitions,
        assert_no_watermark_drops=assert_no_watermark_drops,
        final_no_data_batch=final_no_data_batch,
    )


from .registry import register  # noqa: E402


@register(
    "stream_tumbling_hourly_counts",
    tier="headline",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*)   AS n,
           sum(value) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    doc="Tumbling 1h event-time windows with watermark (streaming).",
)
def stream_tumbling_hourly_counts(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
    # windowed-agg state over one bounded batch: 2 partitions (0.79s
    # vs 1.12s at 8 on sf0.1); raise with key cardinality at scale.
    # Complete-mode agg: every row re-emits each data batch, so the
    # watermark-only finalizing batch adds nothing — skip it (r16)
    out = _run_to_memory(
        agg, spark, state_partitions=2, final_no_data_batch=False
    )
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    ).orderBy("window_start", "event_type")


@register(
    "stream_sliding_window_counts",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '2 hours', ts) AS w0,
             time_bucket(INTERVAL '2 hours', ts, INTERVAL '1 hour') AS w1,
             event_id
      FROM events
    )
    SELECT window_start, count(*) AS n FROM (
      SELECT w0 AS window_start, event_id FROM b
      UNION ALL
      SELECT w1 AS window_start, event_id FROM b
    )
    GROUP BY window_start ORDER BY window_start
    """,
    doc="Sliding windows (2h width, 1h slide): each event lands in 2 windows.",
)
def stream_sliding_window_counts(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    # complete-mode agg: the finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(agg, spark, final_no_data_batch=False)
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "n"
    ).orderBy("window_start")


@register(
    "stream_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '2 hours'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, count(*) AS n_events, min(ts) AS session_start
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    doc="Session windows (2h inactivity gap) per user; oracle is the "
    "classic gaps-and-islands SQL.",
)
def stream_session_windows(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "30 days")
        .groupBy(F.session_window("ts", "2 hours"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
    )
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(agg, spark, final_no_data_batch=False)
    return out.select(
        "user_id",
        "n_events",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
    ).orderBy("user_id", "session_start")


@register(
    "stream_dedup_by_user_type",
    oracle="""
    SELECT event_type, count(*) AS n FROM (
      SELECT DISTINCT user_id, event_type FROM events
    ) GROUP BY event_type ORDER BY event_type
    """,
    doc="Streaming dropDuplicates (stateful dedup) on (user_id, event_type).",
)
def stream_dedup_by_user_type(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    dedup = s.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("n"))
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(agg, spark, final_no_data_batch=False)
    return out.orderBy("event_type")


@register(
    "stream_dedup_within_watermark",
    tier="extra",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    ) GROUP BY event_type ORDER BY event_type
    """,
    doc="dropDuplicatesWithinWatermark (Spark 3.5+): dedup with state "
    "BOUNDED by the watermark delay — unlike the plain dropDuplicates "
    "row (whose per-key state lives forever), a key's dedup cell "
    "expires once the watermark passes first-seen + delay, so a "
    "duplicate arriving beyond the horizon is KEPT (that asymmetry is "
    "pinned in pytest with a crafted multi-batch case).  The graded "
    "key includes the event's HOUR bucket, so every key's event-time "
    "span (< 1 h) fits inside the 2 h delay by construction — exactly "
    "one survivor per key regardless of intra-batch processing order, "
    "making the count deterministic and equal to the batch distinct.  "
    "This is the 100 TB ingest-dedup shape (at-least-once upstream → "
    "exactly-once-per-horizon downstream): state ∝ keys per horizon, "
    "not corpus size.",
)
def stream_dedup_within_watermark(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    dedup = (
        s.select(
            "user_id",
            "event_type",
            "ts",
            F.date_trunc("hour", "ts").alias("hr"),
        )
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hr"])
    )
    agg = dedup.groupBy("event_type").agg(F.count("*").alias("n"))
    # Equality to the batch-distinct oracle relies on the replay being
    # ONE microbatch (single-directory file source, all files in one
    # trigger).  If the source ever split into multiple batches, rows
    # behind the 2 h watermark would be silently dropped as late —
    # fail loudly instead of silently diverging (ADVICE r10).
    # complete-mode agg; drop metrics come from the data batches, so
    # the finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(
        agg, spark, assert_no_watermark_drops=True, final_no_data_batch=False
    )
    return out.orderBy("event_type")


@register(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_value_cents
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    doc="Custom stateful streaming operator via applyInPandasWithState: "
    "per-user running (count, sum) state; the replay is one microbatch "
    "so the emitted state equals the batch aggregate.  The value is "
    "quantized to integer cents BEFORE entering state so the running "
    "sum is exact — a raw double fold is task-order-dependent in its "
    "last ulp (strict pre-flight caught it r11; values are "
    "non-negative, so Spark HALF_UP and DuckDB half-away rounding "
    "agree).",
)
def stream_stateful_user_stats(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    cents = s.withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    out = stateful_group_stats(cents, "user_id", "value_cents")
    # update-mode NoTimeout stateful op emits during data batches (r16)
    res = _run_to_memory(
        out, spark, output_mode="update", final_no_data_batch=False
    )
    return res.select(
        "user_id",
        "n_events",
        F.col("total_value").cast("long").alias("total_value_cents"),
    ).orderBy("user_id")


@register(
    "stream_stream_join_click_to_purchase",
    tier="headline",
    oracle="""
    SELECT c.user_id, count(*) AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY c.user_id ORDER BY c.user_id
    """,
    doc="Stream-stream interval join: purchases within 1h after a click "
    "by the same user, watermarked on both sides, counted per user "
    "(complete-mode agg over the append-only join).",
)
def stream_stream_join_click_to_purchase(spark, sf_dir):
    s1 = _events_stream(spark, sf_dir)
    clicks = (
        s1.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 day")
    )
    s2 = _events_stream(spark, sf_dir)
    purchases = (
        s2.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    # stream-stream joins emit in append mode only; the per-user count
    # is batch post-processing of the (fully emitted) join output
    # join state is two tiny per-user buffers over one bounded batch:
    # 2 state partitions (measured 2.1s vs 2.9s at 8 on sf0.1)
    # INNER join emits on match during the data batch; the finalizing
    # no-data batch only evicts state (measured ~0.8s of the run) — skip
    out = _run_to_memory(
        joined,
        spark,
        output_mode="append",
        state_partitions=2,
        final_no_data_batch=False,
    )
    return (
        out.groupBy("user_id").agg(F.count("*").alias("n_pairs")).orderBy("user_id")
    )


@register(
    "stream_stream_left_outer_unconverted",
    tier="extra",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), thr AS (
      SELECT least(
               (SELECT max(ts) FROM c),
               (SELECT max(ts) FROM p)
             ) - INTERVAL 1 DAY AS cutoff
    )
    SELECT c.click_id, c.user_id,
           coalesce(p.event_id, -1) AS purchase_id
    FROM c CROSS JOIN thr
    LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.ts <= thr.cutoff
    ORDER BY click_id, purchase_id
    """,
    doc="Stream-stream LEFT OUTER interval join — the semantics the "
    "inner click-to-purchase row cannot show: an unmatched click is "
    "held in state until the watermark passes its join horizon, then "
    "emitted ONCE with nulls (the 'cart abandonment' record).  Both "
    "sides watermarked 1h; availableNow's finalizing batch advances "
    "the watermark to max(event time)-delay, so every click older "
    "than the emission-safe cutoff (least(max click ts, max purchase "
    "ts) - 1 day, computed identically on both engines from the batch "
    "table) has either matched or been evicted-with-nulls by "
    "termination — the post-filter makes the streaming result equal "
    "the batch LEFT JOIN row-for-row, match multiplicities included.  "
    "State is bounded by the horizon + delay on BOTH sides at any "
    "scale; unmatched-side emission is exactly-once per click.",
)
def stream_stream_left_outer_unconverted(spark, sf_dir):
    s1 = _events_stream(spark, sf_dir)
    clicks = (
        s1.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    s2 = _events_stream(spark, sf_dir)
    purchases = (
        s2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    out = _run_to_memory(
        joined, spark, output_mode="append", state_partitions=2
    )
    # emission-safe cutoff from the BATCH table (1-row broadcast):
    # identical expression to the oracle's thr CTE
    from .registry import table

    e = table(spark, sf_dir, "events")
    thr = e.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(
                    F.when(F.col("event_type") == "purchase", F.col("ts"))
                ),
            )
            - F.expr("INTERVAL 1 DAY")
        ).alias("cutoff")
    )
    return (
        out.crossJoin(F.broadcast(thr))
        .filter(F.col("click_ts") <= F.col("cutoff"))
        .select(
            "click_id",
            "user_id",
            F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        )
        .orderBy("click_id", "purchase_id")
    )


@register(
    "stream_late_data_drop",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, count(*) AS n
    FROM events
    GROUP BY 1 ORDER BY window_start
    """,
    doc="Watermark + late-data semantics: with in-order replay and a wide "
    "watermark nothing is late, so the batch oracle matches; the "
    "watermark plumbing (state eviction) is still exercised.",
)
def stream_late_data_drop(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count("*").alias("n"))
    )
    # complete-mode agg: the finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(agg, spark, final_no_data_batch=False)
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"), "n"
    ).orderBy("window_start")


# Streaming near-dup dedup: the band-registry service shape.  The
# stateful operator maintains min(doc_id) per MinHash band key — min is
# ORDER-INSENSITIVE, so the registry converges to the same owners no
# matter how the stream is micro-batched or reordered (the property a
# distributed ingestion dedup service actually needs; "first writer
# wins" is not reproducible, "lowest id wins" is).  A document survives
# iff it owns at least one of its bands; every non-survivor shares each
# of its bands with a lower-id near-duplicate.  The SQL constants are
# shared verbatim with the batch MinHash queries (queries/ext.py).
#
# STATE-GROWTH story for unbounded ingest (VERDICT r5 #1): this exact
# registry keeps one state row per distinct band key forever.  For a
# bounded-state deployment use ``streaming.ttl_min_registry`` — the
# same min-per-band ownership with event-time TTL eviction (identical
# owners within the retention horizon, proven in
# tests/test_streaming_semantics.py) — on the RocksDB state store, and
# compact evicted owners into the SetFile ledger (seqfile/setfile.py)
# consulted as a stream-static side input for indefinite horizons.


def _minhash_banded(df: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) via PROJECTION-only signatures
    (8 md5-slice hashes -> 4 bands x 2): streams cannot run the batch
    explode+min-aggregate signature shape before a second stateful
    agg, so the per-row formulation is load-bearing here, not a
    CollapseProject accident (see minhash_signatures' docstring).

    Expression shape matters enormously here: the obvious per-position
    formulation (8 × ``array_min(transform(hm, slice_j))``) gets
    CollapseProject'd so the ENTIRE shingle→md5 pipeline inlines into
    — and re-executes for — every signature position, then again for
    every band key that references two positions.  Measured 6–8 s at
    sf0.1 for 5000 docs.  Instead: ONE ``aggregate`` fold over the
    hash material maintains all 8 running slice-minima per row, and a
    1-element ``transform`` let-binding makes the fold's tree appear
    exactly once under the band-key projection, so the md5 work runs
    once per shingle regardless of how projections collapse."""
    from ..operators.dedup import minhash_hash_concat, word_shingles

    sh = word_shingles("text", 3)
    src = df.filter(F.size(sh) > 0).select(
        "doc_id", minhash_hash_concat(sh, 8).alias("hm")
    )
    # fold: acc[j] = min over shingles of slice j (8-hex strings;
    # "￿" > any hex char and every row has >= 1 shingle, so the
    # init value never survives)
    sigs = F.aggregate(
        F.col("hm"),
        F.array_repeat(F.lit("￿"), 8),
        lambda acc, m: F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.least(
                F.get(acc, j),
                F.substring(m, j * F.lit(8) + F.lit(1), F.lit(8)),
            ),
        ),
    )
    keys = F.get(
        F.transform(  # let-binding: `s` = sigs, evaluated once
            F.array(sigs),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.concat(
                    F.get(s, b * 2), F.lit("|"), F.get(s, b * 2 + 1)
                ),
            ),
        ),
        F.lit(0),
    )
    return src.select(
        "doc_id", F.posexplode(keys).alias("band_id", "band_key")
    )


# Shared CTE chain: shingles → 8 md5-slice minhash signatures → 4
# banded keys → min-owner registry.  Used by both streaming band-
# registry oracles (the unbounded and the TTL'd one) verbatim.
_BANDS_ORACLE_CTE = (
    """sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
           UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)
    ),
    sig AS (
      SELECT doc_id, """
    + ",\n    ".join(
        f"min(substr(md5('{j // 4}:' || shingle), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(8)
    )
    + """
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, h0 || '|' || h1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
      UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
      UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
    ),
    owners AS (
      SELECT band_id, band_key, min(doc_id) AS owner
      FROM bands GROUP BY band_id, band_key
    )"""
)


@register(
    "stream_minhash_band_dedup",
    tier="extra",
    oracle=f"""
    WITH {_BANDS_ORACLE_CTE},
    own AS (
      SELECT b.doc_id,
             max(CASE WHEN o.owner = b.doc_id THEN 1 ELSE 0 END) AS is_owner
      FROM bands b JOIN owners o
        ON b.band_id = o.band_id AND b.band_key = o.band_key
      GROUP BY b.doc_id
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(own.is_owner) AS BIGINT) AS n_survivors
    FROM own JOIN documents d ON own.doc_id = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="STREAMING near-dup dedup: documents replayed as a file "
    "stream; a stateful aggregation maintains min(doc_id) per MinHash "
    "band key (4 bands x 2 of 8 md5-slice hashes) — the band-registry "
    "an ingestion dedup service keeps.  min is order-insensitive, so "
    "the registry converges identically under ANY micro-batching or "
    "arrival order (reproducible where first-writer-wins is not).  "
    "Survivors = documents owning >= 1 of their bands; output = "
    "per-language totals vs survivors over SHINGLE-BEARING docs "
    "(>= 3 tokens — shorter docs have no MinHash identity and pass "
    "through unexamined on both engines).  Oracle replays the identical "
    "signature/banding pipeline in batch SQL.",
)
def stream_minhash_band_dedup(spark, sf_dir):
    from .registry import DOCS_STREAM_FILES, docs_stream_dir, table

    # all slices in ONE microbatch (files_per_trigger = file count):
    # identical state trajectory to a single-file replay, but the
    # map-side banding parallelizes across the splits (r10: 10.4 s →
    # 2.3 s at sf0.1; min-owner is order-insensitive regardless)
    src_dir = docs_stream_dir(sf_dir)
    stream = parquet_replay_stream(
        spark, src_dir, files_per_trigger=DOCS_STREAM_FILES
    )
    owners = _run_to_memory(
        _minhash_banded(stream)
        .groupBy("band_id", "band_key")
        .agg(F.min("doc_id").alias("owner")),
        spark,
        state_partitions=2,
        # complete-mode agg: finalizing no-data batch adds nothing (r16)
        final_no_data_batch=False,
    )
    # the batch arm reads the same split copy: the testdata single
    # one-row-group file scans as 1 task; the 8-file copy gives the
    # banding its map-side parallelism (same rows, same result)
    d = spark.read.parquet(src_dir)
    own = (
        _minhash_banded(d)
        .join(owners, ["band_id", "band_key"])
        .groupBy("doc_id")
        .agg(
            F.max(
                (F.col("owner") == F.col("doc_id")).cast("int")
            ).alias("is_owner")
        )
    )
    return (
        own.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_owner").alias("n_survivors"),
        )
        .orderBy("lang")
    )


@register(
    "stream_static_join_enrichment",
    oracle="""
    WITH prof AS (
      SELECT user_id, event_type AS first_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT p.first_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN prof p ON e.user_id = p.user_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="Stream-static enrichment join: the event stream joins a "
    "BATCH-computed per-user profile (first-ever event type, a "
    "min_by aggregate) inside the streaming query — the standard "
    "dimension-enrichment shape.  The static side is broadcast, so "
    "the join is stateless and adds no streaming state; per micro- "
    "batch the only state is the final aggregate's.  At 100 TB the "
    "profile is the entity count, refreshed per batch epoch, and the "
    "stream never shuffles for the join.",
)
def stream_static_join_enrichment(spark, sf_dir):
    from .registry import table

    s = _events_stream(spark, sf_dir)
    prof = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("ts"), F.col("event_id"))
            ).alias("first_type")
        )
    )
    joined = s.join(F.broadcast(prof), "user_id")
    agg = joined.groupBy("first_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(
        agg, spark, state_partitions=2, final_no_data_batch=False
    )
    return out.orderBy("first_type")


@register(
    "stream_chained_windowed_aggs",
    tier="extra",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    closed_hourly AS (
      SELECT h, event_type, n FROM hourly, mx
      WHERE h + INTERVAL '1 hour' <= m
    ),
    daily AS (
      SELECT time_bucket(INTERVAL '1 day', h) AS d, event_type,
             CAST(max(n) AS BIGINT) AS max_hourly,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM closed_hourly GROUP BY 1, 2
    )
    SELECT d AS day_start, event_type, max_hourly, n_events
    FROM daily, mx WHERE d + INTERVAL '1 day' <= m
    ORDER BY day_start, event_type
    """,
    doc="TWO chained stateful aggregations in ONE streaming query "
    "(Spark >= 3.4/4 multiple-stateful-operator support): hourly "
    "event counts feed a daily max/sum aggregation via "
    "window_time(), both in append mode — the streaming rollup shape "
    "that previously required two queries with an intermediate "
    "topic.  Append mode emits only watermark-closed windows, so the "
    "batch oracle filters to hour/day windows that END at or before "
    "max(ts) — the partial final windows stay open, which is the "
    "honest streaming answer.",
)
def stream_chained_windowed_aggs(spark, sf_dir):
    s = _events_stream(spark, sf_dir)
    hourly = (
        s.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    daily = (
        hourly.withColumn("wt", F.window_time("window"))
        .groupBy(F.window("wt", "1 day"), "event_type")
        .agg(
            F.max("n").alias("max_hourly"), F.sum("n").alias("n_events")
        )
    )
    out = _run_to_memory(
        daily, spark, output_mode="append", state_partitions=2
    )
    return out.select(
        F.col("window.start").cast("timestamp_ntz").alias("day_start"),
        "event_type",
        "max_hourly",
        "n_events",
    ).orderBy("day_start", "event_type")


from .stats import _HLL_EST_SQL, _HLL_M, _HLL_WIDTH  # noqa: E402


@register(
    "stream_hll_distinct_users",
    tier="extra",
    oracle=f"""
    WITH regs AS (
      SELECT grp_rf, register, max(rank) AS maxrank FROM (
        SELECT event_type AS grp_rf, hv % {_HLL_M} AS register,
               CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_WIDTH + 1}
                    ELSE {_HLL_WIDTH + 1} - length(bin(hv // {_HLL_M})) END AS rank
        FROM (SELECT event_type,
                     ('0x' || substr(md5('hll:' || user_id), 1, 15))::BIGINT AS hv
              FROM events)
      ) GROUP BY grp_rf, register
    ),
    est AS ({_HLL_EST_SQL}),
    exact AS (
      SELECT event_type AS grp_rf,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT x.grp_rf AS event_type, x.n_exact,
           round(e.est, 2) AS hll_est,
           round(100 * abs(e.est / x.n_exact - 1), 2) AS pct_err
    FROM exact x JOIN est e USING (grp_rf) ORDER BY event_type
    """,
    doc="STREAMING cardinality service: HyperLogLog registers "
    "maintained as a streaming aggregation (groupBy(register).max — "
    "max is order-insensitive, so the registers converge to the "
    "identical state under ANY micro-batching, the same replay-"
    "invariance argument as the streaming MinHash registry), then the "
    "estimate read off the final register table and compared against "
    "the exact batch distinct.  State is bounded at 2^p rows per "
    "group forever — the always-on distinct-users-per-type dashboard "
    "shape that never stores raw ids.",
)
def stream_hll_distinct_users(spark, sf_dir):
    from ..operators import sketch as SK
    from .registry import table

    s = _events_stream(spark, sf_dir)
    regs = SK.hll_sketch(
        s.select(
            F.col("event_type").alias("grp"), F.col("user_id").alias("item")
        ),
        group_col="grp",
        item_col="item",
    )
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(
        regs, spark, state_partitions=2, final_no_data_batch=False
    )
    est = SK.hll_estimate(out, group_col="grp", est_col="hll_est")
    exact = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("grp"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        exact.join(est, "grp")
        .select(
            F.col("grp").alias("event_type"),
            "n_exact",
            F.round("hll_est", 2).alias("hll_est"),
            F.round(
                100 * F.abs(F.col("hll_est") / F.col("n_exact") - 1), 2
            ).alias("pct_err"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_ttl_band_registry",
    tier="extra",
    oracle=f"""
    WITH {_BANDS_ORACLE_CTE}
    SELECT band_id,
           CAST(count(*) AS BIGINT) AS n_bands,
           CAST(sum(owner) AS BIGINT) AS owner_sum,
           CAST(min(owner) AS BIGINT) AS min_owner
    FROM owners GROUP BY band_id ORDER BY band_id
    """,
    doc="BOUNDED-STATE streaming band registry (the 100 TB state story "
    "for stream_minhash_band_dedup): the same min-owner-per-band "
    "ownership, maintained by streaming.ttl_min_registry — an "
    "applyInPandasWithState cell per band key with an EVENT-TIME TTL "
    "(state evicted once the watermark passes last_seen + ttl), so "
    "state is bounded by the retention horizon instead of growing "
    "with the corpus.  Event time is synthesized deterministically "
    "from doc_id; with every arrival inside the horizon the owners are "
    "IDENTICAL to the unbounded registry (eviction cannot fire before "
    "last_seen + ttl), which is exactly what the oracle checks — the "
    "past-horizon eviction path is proven separately in "
    "tests/test_streaming_semantics.py.  Output: per band_id, the "
    "number of distinct band keys and owner checksums.  Final owner "
    "per key = min over update-mode emissions (owner is monotonically "
    "non-increasing, so the fold is replay-order-insensitive).",
)
def stream_ttl_band_registry(spark, sf_dir):
    from ..streaming import ttl_min_registry
    from .registry import DOCS_STREAM_FILES, docs_stream_dir

    # single microbatch over all slices (see stream_minhash_band_dedup):
    # the watermark advances only after the one batch, so TTL eviction
    # semantics are IDENTICAL to the old one-file replay
    stream = parquet_replay_stream(
        spark, docs_stream_dir(sf_dir), files_per_trigger=DOCS_STREAM_FILES
    )
    banded = _minhash_banded(stream).withColumn(
        # deterministic synthetic event time: 2026-01-01 + doc_id sec
        "ts",
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id")),
    )
    regs = ttl_min_registry(
        banded,
        ["band_id", "band_key"],
        "doc_id",
        "ts",
        ttl_seconds=10**9,  # horizon >> replay span: nothing evicts
        # explicit lateness bound (required arg, ADVICE r6 #1): governs
        # how fast eviction chases event time — irrelevant here since
        # ttl >> span, but stated rather than defaulted; the assert
        # below additionally certifies via the per-batch metric that no
        # input row was watermark-dropped before the stateful update
        watermark_delay="1 hour",
    )
    out = _run_to_memory(
        regs,
        spark,
        output_mode="update",
        # python-side stateful op over ~4x|docs| band keys: partitions
        # are the parallelism unit (each task walks its keys serially
        # through pandas), so this wants ALL cores, unlike the tiny
        # JVM-state replays above — measured at sf0.1: 56s at 2,
        # 23s at 8, 11.8s at 32, identical 18,881 output rows
        state_partitions=32,
        assert_no_watermark_drops=True,
        # update-mode emissions all happen in the data batch; the
        # finalizing batch only fires eviction timers, which emit
        # nothing (r16) — and availableNow state dies with the query
        final_no_data_batch=False,
    )
    return (
        out.groupBy("band_id", "band_key")
        .agg(F.min("doc_id").alias("owner"))
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_bands"),
            F.sum("owner").alias("owner_sum"),
            F.min("owner").alias("min_owner"),
        )
        .orderBy("band_id")
    )


@register(
    "stream_attribution_last_touch",
    tier="extra",
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
           round(sum(value), 2) AS attributed_value
    FROM conv GROUP BY channel ORDER BY channel
    """,
    doc="STREAMING last-touch attribution: the real-time form of "
    "attribution_last_touch — an applyInPandasWithState operator "
    "holds one O(1) (ts, order, touch_type) triple per user and "
    "credits each purchase to the carried touch the moment it "
    "arrives, so attribution is emitted per-conversion with no "
    "window re-scan.  The oracle is the IDENTICAL batch window SQL, "
    "proving stream/batch parity on the same input.  State never "
    "grows with history (unlike the batch window, there is nothing "
    "to recompute at 100 TB — per-user state is a single triple); "
    "channel rollup is batch post-processing of the emitted "
    "conversions.",
)
def stream_attribution_last_touch(spark, sf_dir):
    from ..streaming import stateful_last_touch

    s = _events_stream(spark, sf_dir).filter(F.col("event_type") != "error")
    out = stateful_last_touch(s)
    # NoTimeout stateful op emits during the data batches (r16)
    res = _run_to_memory(
        out, spark, output_mode="append", final_no_data_batch=False
    )
    return (
        res.groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
        .orderBy("channel")
    )


@register(
    "stream_sliding_topk_trending",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '4 hours', ts) AS w0,
             time_bucket(INTERVAL '4 hours', ts, INTERVAL '2 hours') AS w1,
             event_type
      FROM events
    ),
    counts AS (
      SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT w0 AS window_start, event_type FROM b
        UNION ALL
        SELECT w1 AS window_start, event_type FROM b
      )
      GROUP BY window_start, event_type
    )
    SELECT window_start, event_type, n, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY window_start ORDER BY n DESC, event_type
      ) AS rnk
      FROM counts
    ) WHERE rnk <= 3
    ORDER BY window_start, rnk
    """,
    doc="'Trending now' — top-3 event types per sliding 4h/2h window: "
    "the stream maintains the per-(window, type) counts (watermarked "
    "sliding-window state, each event feeding 2 windows), and the "
    "rank-within-window is batch post-processing on the emitted "
    "window table — the standard split, since a global per-window "
    "sort cannot be emitted incrementally.  At scale the stateful "
    "half is |windows x types| state with watermark eviction, and "
    "the ranking half runs on the (tiny) aggregated table each "
    "refresh.",
)
def stream_sliding_topk_trending(spark, sf_dir):
    from pyspark.sql import Window

    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "4 hours", "2 hours"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(
        agg, spark, state_partitions=2, final_no_data_batch=False
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), "event_type"
    )
    return (
        out.select(
            F.col("window.start")
            .cast("timestamp_ntz")
            .alias("window_start"),
            "event_type",
            "n",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start", "rnk")
    )


@register(
    "stream_tws_running_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(value) AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Per-type running (count, max) held in per-key state on "
    "applyInPandasWithState (Spark 4's transformWithStateInPandas "
    "needs the google.protobuf package, which this package does not "
    "depend on).  Replayed availableNow over the bounded source, the final "
    "per-key emission must equal the batch aggregate; max_value is an "
    "actual data value, bit-identical across engines.",
)
def stream_tws_running_stats(spark, sf_dir):
    from ..streaming import tws_running_stats

    s = _events_stream(spark, sf_dir).select("event_type", "value")
    out = _run_to_memory(
        tws_running_stats(s, "event_type", "value"),
        spark,
        output_mode="update",
        state_partitions=2,
        # update-mode NoTimeout stateful op: emits in data batches (r16)
        final_no_data_batch=False,
    )
    # availableNow may split the replay into several micro-batches:
    # Update mode emits one row per key per batch — keep the LAST
    # emission per key (the running total)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "n_events", "max_value")
        .orderBy("event_type")
    )


@register(
    "stream_foreach_batch_upsert",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(coalesce(sum(value), 0.0), 2) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="foreachBatch MERGE-upsert — the production streaming-write "
    "pattern: each micro-batch (files_per_trigger=1 ⇒ several REAL "
    "batches) reduces to per-key partials, full-outer merges into a "
    "keyed parquet state table via atomic snapshot swap, and commits "
    "an idempotence marker (foreachBatch is at-least-once; "
    "exactly-once is the writer's job).  The final state must equal "
    "the batch aggregate REGARDLESS of how the replay was batched — "
    "the additive-combine contract.  At 100 TB the dir becomes a "
    "Delta/Iceberg MERGE INTO with the same discipline.",
)
def stream_foreach_batch_upsert(spark, sf_dir):
    from hadoop_formats_spark.cachedir import run_dir

    from ..streaming import foreach_batch_upsert

    state_dir = run_dir("fbu_")
    s = _events_stream(spark, sf_dir).select("event_type", "value")
    foreach_batch_upsert(
        s, spark, ["event_type"], ["value"], state_dir
    )
    import os

    cur = spark.read.parquet(os.path.join(state_dir, "current"))
    return cur.select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("event_type")


@register(
    "stream_dq_quarantine_split",
    tier="extra",
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
    doc="Streaming DQ quarantine split — the live twin of the batch "
    "dq_quarantine_split_sink row: a foreachBatch dual-sink routes "
    "each microbatch's rule-failing rows to the quarantine directory "
    "and the rest to the clean directory, writing every batch into "
    "its own batch=<id> subdirectory with overwrite semantics — the "
    "replay-idempotence discipline foreachBatch (at-least-once) "
    "requires: a re-delivered batch overwrites its own subdirectory "
    "byte-identically instead of duplicating rows.  The graded "
    "surface reads BOTH sinks back and reconciles per-rule counts + "
    "an exact cents control total against the batch source — the "
    "split is lossless and disjoint under streaming delivery.",
)
def stream_dq_quarantine_split(spark, sf_dir):
    import os

    from hadoop_formats_spark.cachedir import run_dir

    s = _events_stream(spark, sf_dir)
    base = run_dir("dq_split_")
    cdir, qdir = os.path.join(base, "clean"), os.path.join(base, "quarantine")
    # coalesce(NULL, false): a row where event_type or value is NULL makes
    # the raw predicate NULL — filter(bad)/filter(~bad) would drop it from
    # BOTH sinks.  Folding NULL to false routes it to clean, matching the
    # oracle's CASE ... ELSE 'clean'.
    bad = F.coalesce(
        (F.col("event_type") == "error") | (F.col("value") > 400),
        F.lit(False),
    )

    def sink(df, batch_id):
        # per-batch subdirectory + overwrite = idempotent on replay
        df.filter(bad).write.mode("overwrite").parquet(
            f"{qdir}/batch={batch_id}"
        )
        df.filter(~bad).write.mode("overwrite").parquet(
            f"{cdir}/batch={batch_id}"
        )

    q = (
        s.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: an all-clean (or all-quarantine) replay leaves the
    # other sink directory without part files — schema inference would
    # fail, but reading with the source schema yields an empty frame.
    # makedirs covers the stronger case where the directory itself was
    # never created because no batch routed a row to that side.
    os.makedirs(cdir, exist_ok=True)
    os.makedirs(qdir, exist_ok=True)
    rd = spark.read.schema(s.schema)
    clean = rd.parquet(cdir).withColumn("side", F.lit("clean"))
    quar = rd.parquet(qdir).withColumn("side", F.lit("quarantine"))
    return (
        clean.unionByName(quar)
        .select(
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


@register(
    "stream_ohlc_candles",
    # the LIVE twin of the batch timeseries_downsample_ohlc row
    # (hourly, not daily, so the two rows grade different bucketing):
    # min_by/max_by are ordinary declarative aggregates, so the same
    # candle query runs under a streaming watermark with PARTIAL
    # per-microbatch folds merged in the state store — the state is
    # |series|x|open hours| candles, never raw rows.  The ordering key
    # is the shared sign-safe (epoch_us + offset, event_id) string
    # from queries/ext.py (pre-1970-proof, pytest-pinned).
    oracle="""
    WITH e AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lpad(CAST(epoch_us(ts) + 62135596800000000 AS VARCHAR),
                  20, '0')
               || lpad(CAST(event_id AS VARCHAR), 12, '0') AS okey
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, h AS hour_start,
           CAST(arg_min(cents, okey) AS BIGINT) AS open_c,
           CAST(max(cents) AS BIGINT) AS high_c,
           CAST(min(cents) AS BIGINT) AS low_c,
           CAST(arg_max(cents, okey) AS BIGINT) AS close_c,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS vol_c
    FROM e GROUP BY event_type, h ORDER BY event_type, hour_start
    """,
    doc="STREAMING OHLC candles: hourly open/high/low/close/volume per "
    "event_type computed inside a watermarked tumbling-window "
    "aggregation — min_by/max_by fold partially per microbatch and "
    "merge in the state store exactly like sum/count, so the live "
    "candle pipeline every monitoring/finance stack runs needs no "
    "custom stateful operator and holds |series|x|hours| state, not "
    "rows.  Open/close tie-break by the sign-safe (epoch_us, "
    "event_id) key shared with the batch row; all candle fields "
    "exact integer cents.",
)
def stream_ohlc_candles(spark, sf_dir):
    from .ext import _ohlc_order_key

    s = _events_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    e = s.select(
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        _ohlc_order_key(F.col("ts"), F.col("event_id")),
    )
    agg = (
        e.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.min_by("cents", "okey").cast("long").alias("open_c"),
            F.max("cents").cast("long").alias("high_c"),
            F.min("cents").cast("long").alias("low_c"),
            F.max_by("cents", "okey").cast("long").alias("close_c"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("vol_c"),
        )
    )
    # complete-mode agg: finalizing no-data batch adds nothing (r16)
    out = _run_to_memory(
        agg, spark, state_partitions=2, final_no_data_batch=False
    )
    return out.select(
        "event_type",
        F.col("window.start").cast("timestamp_ntz").alias("hour_start"),
        "open_c",
        "high_c",
        "low_c",
        "close_c",
        "n",
        "vol_c",
    ).orderBy("event_type", "hour_start")
