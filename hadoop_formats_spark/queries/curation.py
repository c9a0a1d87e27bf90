"""Training-data curation operators beyond SURVEY §2.3 — deterministic
sampling, batch sessionization, and an end-to-end document-curation
pipeline (quality filter → language filter → dedup → per-slice counts).

These are the remaining ops a 100 TB training-data pipeline needs that
the dedup/ANN/text modules don't already cover.  Sampling is
*deterministic* (md5-threshold on a key, not ``rand()``): the same row
set is selected on every run, on any cluster, and the DuckDB oracle can
reproduce it — which is also the property you want at scale, where a
sample must be stable across retries and re-runs of failed tasks.

Scale notes: hash-sampling is a map-only filter (no shuffle, fully
pushdown-friendly); sessionization shuffles once on user_id and then
runs two window passes within partitions; the curation pipeline is one
shuffle on the dedup fingerprint."""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .registry import register, table


@register(
    "sample_hash_deterministic",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc="Deterministic ~25% sample of orders: md5(key) hex-prefix "
    "threshold ('40'/'100' = 64/256), then grouped totals.  Map-only "
    "filter — no shuffle, stable across runs and task retries.",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders")
    keep = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < "40"
    return (
        o.filter(keep)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("total"))
        .orderBy("o_orderstatus")
    )


@register(
    "sample_stratified_lang",
    oracle="""
    SELECT lang, count(*) AS n_sampled
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Stratified deterministic sampling: downsample the majority "
    "language (en at 32/256) while keeping half of everything else — "
    "the standard rebalancing step before training-data mixing.",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < threshold
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "sample_mixture_balanced",
    tier="extra",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang,
             least(1.0, (SELECT min(n) FROM counts) * 1.0 / n) AS rate
      FROM counts
    )
    SELECT d.lang, count(*) AS n_kept
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
           * 1.0 / 16777216) < r.rate
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Mixture balancing: downsample every language stratum to the "
    "size of the smallest (uniform target mix), with deterministic "
    "md5-threshold acceptance.  Rates are computed distributed "
    "(count per stratum + broadcast scalar min) — the standard "
    "rebalance step before training-data mixing; at 100 TB the "
    "per-stratum counts are one partial-agg pass and the sample "
    "itself stays map-side.",
)
def sample_mixture_balanced(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    min_n = counts.agg(F.min("n").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "lang",
        F.least(F.lit(1.0), F.col("min_n") / F.col("n")).alias("rate"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        / F.lit(16777216.0)
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("lang")
    )


@register(
    "sessionize_events_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS sess_id
      FROM marked
    ), sessions AS (
      SELECT user_id, sess_id, count(*) AS n_events
      FROM numbered GROUP BY user_id, sess_id
    )
    SELECT user_id, count(*) AS n_sessions,
           max(n_events) AS max_session_events,
           CAST(sum(n_events) AS BIGINT) AS n_events_total
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Batch sessionization (gaps-and-islands): a >30 min silence "
    "starts a new session; lag + running-sum windows assign session "
    "ids, then per-user session stats.  The batch twin of "
    "stream_session_windows: one shuffle on user_id, both window "
    "passes run within the same partitioning.",
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1,
    ).otherwise(0)
    numbered = e.withColumn("new_sess", new_sess).withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    sessions = numbered.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events")
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.sum("n_events").alias("n_events_total"),
        )
        .orderBy("user_id")
    )


@register(
    "curation_pipeline_docs",
    tier="extra",
    oracle="""
    WITH filtered AS (
      SELECT doc_id, lang, source, text
      FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text, ' ')) >= 15
        AND lang IN ('en', 'de', 'fr')
    ), deduped AS (
      SELECT *, row_number() OVER (
               PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
      FROM filtered
    )
    SELECT lang, source, count(*) AS n_docs
    FROM deduped WHERE rn = 1
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="End-to-end curation pipeline: length + token-count quality "
    "gates, language allowlist, exact dedup on a normalized-text "
    "fingerprint (keep lowest doc_id), then per-slice counts — the "
    "standard shape of a pretraining-corpus build, as one declarative "
    "plan with a single shuffle on the fingerprint.",
)
def curation_pipeline_docs(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    filtered = d.filter(
        F.col("n_chars").between(100, 500)
        & (F.size(F.split("text", " ", -1)) >= 15)
        & F.col("lang").isin("en", "de", "fr")
    )
    w = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    deduped = filtered.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        deduped.groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# round 3: repetition filtering, benchmark contamination, sequence
# packing, PII scrubbing — the remaining pretraining-pipeline ops
# ---------------------------------------------------------------------------


@register(
    "text_repetition_metrics",
    tier="extra",
    oracle="""
    WITH g AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
    ),
    per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)   AS n_ngrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(1 - count(*) * 1.0 / sum(c), 4) AS dup_frac,
           round(max(c) * 1.0 / sum(c), 4)       AS top_frac
    FROM per GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Gopher-style within-document repetition signals over word "
    "bigrams (repeat fraction + top-gram coverage) — the boilerplate/"
    "degenerate-text filter of a pretraining pipeline.  Explode + two "
    "doc-keyed partial aggregations; linear in document length.",
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str):
    from ..functions.text import repetition_metrics

    d = table(spark, sf_dir, "documents")
    return repetition_metrics(d, n=2).orderBy("doc_id")


@register(
    "contamination_ngram_overlap",
    tier="extra",
    oracle="""
    WITH tr AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents WHERE doc_id % 20 <> 0),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    be AS (
      SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents WHERE doc_id % 20 = 0),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    per AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated
      FROM tr t LEFT JOIN be b USING (shingle)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_shingles, n_contaminated,
           round(n_contaminated * 1.0 / n_shingles, 4) AS contamination_frac
    FROM per
    ORDER BY doc_id
    """,
    doc="Train/benchmark contamination check: fraction of each train "
    "doc's distinct 5-gram shingles present anywhere in the held-out "
    "benchmark slice (doc_id % 20 == 0 stands in for an eval suite).  "
    "Inverted-index join on the shingle key with the (small) benchmark "
    "shingle set broadcast — the train corpus is never shuffled.  "
    "Every train doc is reported (thresholding is the consumer's "
    "call); the near-dup-seeded corpus makes the signal bimodal.",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import contamination_overlap

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 20 == 0)
    train = d.filter(F.col("doc_id") % 20 != 0)
    res = contamination_overlap(train, bench, shingle_n=5)
    return res.orderBy("doc_id")


@register(
    "pack_sequences_stats",
    tier="extra",
    oracle="""
    WITH toks AS (
      SELECT lang, doc_id % 8 AS shard, doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT lang, shard, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY lang, shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) / 256) AS BIGINT) AS bin_id
      FROM toks
    )
    SELECT lang, shard, bin_id,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(sum(n_tokens) / 256.0, 4) AS fill_frac
    FROM packed GROUP BY 1, 2, 3
    ORDER BY lang, shard, bin_id
    """,
    doc="Sequence packing for pretraining: docs → 256-token bins via "
    "exclusive-cumsum binning inside (lang, doc_id%8) shards — the "
    "deterministic streaming greedy packer; sharding bounds each "
    "window sort to corpus/8 per language instead of a global sort.  "
    "Per-bin fill statistics (fill_frac > 1 flags overflow tails).",
)
def pack_sequences_stats(spark: SparkSession, sf_dir: str):
    from ..operators.packing import pack_sequences, pack_stats

    d = table(spark, sf_dir, "documents")
    packed = pack_sequences(d, budget=256, part_cols=("lang",), n_shards=8)
    return pack_stats(packed, budget=256, part_cols=("lang",)).orderBy(
        "lang", "shard", "bin_id"
    )


@register(
    "pii_scrub_stats",
    tier="extra",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                          ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\\+1-[0-9]{3}-[0-9]{4}'))
                AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(
                t, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'))
                AS BIGINT) AS n_ips,
           CAST(len(t) - len(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]+',
                                '<EMAIL>', 'g'),
                 '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
               '<IP>', 'g')) AS BIGINT) AS len_delta,
           right(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]+',
                                '<EMAIL>', 'g'),
                 '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
               '<IP>', 'g'), 40) AS scrubbed_tail
    FROM aug ORDER BY doc_id
    """,
    doc="PII scrubbing: synthetic emails/phones/IPs are deterministically "
    "injected (the corpus is clean word-soup), counted with "
    "regexp_count and redacted with chained regexp_replace — all "
    "JVM-side Catalyst expressions, map-only, no shuffle.  The oracle "
    "re-runs the identical patterns in DuckDB (RE2), proving the "
    "patterns are engine-portable.",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str):
    from ..functions.text import pii_counts, scrub_pii

    d = table(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string")
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    counts = pii_counts(F.col("t"))
    scrubbed = scrub_pii(F.col("t"))
    return aug.select(
        "doc_id",
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_phones"].cast("bigint").alias("n_phones"),
        counts["n_ips"].cast("bigint").alias("n_ips"),
        (F.length("t") - F.length(scrubbed)).cast("bigint").alias("len_delta"),
        F.right(scrubbed, F.lit(40)).alias("scrubbed_tail"),
    ).orderBy("doc_id")


def _corpus_stages(spark: SparkSession, sf_dir: str) -> dict:
    """The corpus-build stage chain, shared by the capstone pipeline
    and the drop-waterfall observability query so both certify the
    SAME plan."""
    from ..functions.text import repetition_metrics
    from ..operators.dedup import contamination_overlap

    d = table(spark, sf_dir, "documents")
    quality = d.filter(
        F.col("n_chars").between(100, 500)
        & (F.size(F.split("text", " ", -1)) >= 15)
    )
    rep = repetition_metrics(quality, n=2).select("doc_id", "dup_frac")
    unrepetitive = quality.join(rep, "doc_id").filter(F.col("dup_frac") <= 0.3)
    w = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    deduped = (
        unrepetitive.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "dup_frac")
    )
    bench = d.filter(F.col("doc_id") % 20 == 0)
    train = deduped.filter(F.col("doc_id") % 20 != 0)
    contaminated = (
        contamination_overlap(train, bench, shingle_n=5)
        .filter(F.col("contamination_frac") >= 0.5)
        .select("doc_id")
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    return {
        "0_all": d,
        "1_quality": quality,
        "2_unrepetitive": unrepetitive,
        "3_deduped": deduped,
        "4_train_split": train,
        "5_decontaminated": clean,
    }


@register(
    "corpus_build_pipeline",
    tier="extra",
    oracle="""
    WITH quality AS (
      SELECT doc_id, lang, text
      FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text, ' ')) >= 15
    ),
    grams AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM quality),
           UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
    ),
    rep AS (
      SELECT doc_id,
             round(1 - count(DISTINCT gram) * 1.0 / count(*), 4) AS dup_frac
      FROM grams GROUP BY doc_id
    ),
    unrepetitive AS (
      SELECT q.* FROM quality q JOIN rep USING (doc_id)
      WHERE rep.dup_frac <= 0.3
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        FROM unrepetitive) WHERE rn = 1
    ),
    tr_sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM deduped WHERE doc_id % 20 <> 0),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    be_sh AS (
      SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents WHERE doc_id % 20 = 0),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    contaminated AS (
      SELECT t.doc_id
      FROM tr_sh t LEFT JOIN be_sh b USING (shingle)
      GROUP BY t.doc_id
      HAVING round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   * 1.0 / count(*), 4) >= 0.5
    ),
    clean AS (
      SELECT d.doc_id, d.lang,
             len(string_split(lower(d.text), ' ')) AS n_tokens
      FROM deduped d
      WHERE d.doc_id % 20 <> 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    packed AS (
      SELECT lang, doc_id % 8 AS shard, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
                    PARTITION BY lang, doc_id % 8 ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) / 256) AS BIGINT) AS bin_id
      FROM clean
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT (shard, bin_id)) AS BIGINT) AS n_bins,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY lang ORDER BY lang
    """,
    doc="End-to-end corpus build composing the round-3 operators into "
    "one declarative plan: quality gates → repetition filter "
    "(dup_frac ≤ 0.3) → exact dedup → benchmark-contamination "
    "excision (≥ 0.5 overlap dropped, bench slice excluded) → "
    "256-token sequence packing → per-language corpus statistics.  "
    "Every stage is the library operator, not a re-implementation, "
    "so the oracle checks the composition end to end.",
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str):
    from ..operators.packing import pack_sequences

    clean = _corpus_stages(spark, sf_dir)["5_decontaminated"]
    packed = pack_sequences(clean, budget=256, part_cols=("lang",), n_shards=8)
    return (
        packed.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("shard", "bin_id").cast("bigint").alias("n_bins"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_incremental_batch",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents),
           UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)
    ),
    sig AS (
      SELECT doc_id,
             min(substr(md5('0:' || shingle), 1, 8))  AS h0,
             min(substr(md5('0:' || shingle), 9, 8))  AS h1,
             min(substr(md5('0:' || shingle), 17, 8)) AS h2,
             min(substr(md5('0:' || shingle), 25, 8)) AS h3,
             min(substr(md5('1:' || shingle), 1, 8))  AS h4,
             min(substr(md5('1:' || shingle), 9, 8))  AS h5,
             min(substr(md5('1:' || shingle), 17, 8)) AS h6,
             min(substr(md5('1:' || shingle), 25, 8)) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, h0 || '|' || h1 AS band_key FROM sig
      UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
      UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
      UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
      WHERE (a.doc_id % 10 >= 8) <> (b.doc_id % 10 >= 8)
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    near AS (
      SELECT DISTINCT
             CASE WHEN c.doc_a % 10 >= 8 THEN c.doc_a ELSE c.doc_b END AS doc_id
      FROM cand c
      JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
      JOIN sizes x ON c.doc_a = x.doc_id
      JOIN sizes y ON c.doc_b = y.doc_id
      WHERE round(i.n_inter * 1.0 / (x.n + y.n - i.n_inter), 3) >= 0.8
    ),
    exact AS (
      SELECT DISTINCT n.doc_id
      FROM documents n JOIN documents e
        ON md5(lower(n.text)) = md5(lower(e.text))
       AND n.doc_id % 10 >= 8 AND e.doc_id % 10 < 8
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM exact)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN doc_id NOT IN (SELECT doc_id FROM exact)
                          AND doc_id IN (SELECT doc_id FROM near)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN doc_id NOT IN (SELECT doc_id FROM exact)
                          AND doc_id NOT IN (SELECT doc_id FROM near)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents WHERE doc_id % 10 >= 8
    GROUP BY lang ORDER BY lang
    """,
    doc="Incremental corpus ingestion: dedup a NEW batch (doc_id % 10 "
    "≥ 8) against the EXISTING corpus — exact content-hash semi-join "
    "first, then MinHash-band candidates restricted to cross-corpus "
    "pairs and verified with exact shingle Jaccard ≥ 0.8.  Per-lang "
    "admission stats.  The shape a nightly crawl-ingest job runs: the "
    "existing corpus contributes only fingerprints and band keys "
    "(both precomputable and storable), never a re-shuffle of its "
    "text.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str):
    from ..operators import dedup as D

    d = table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 >= 8
    # exact layer: content-hash semi-join of new against existing
    fp = F.md5(F.lower("text"))
    new_docs = d.filter(is_new)
    exact_ids = (
        new_docs.withColumn("fp", fp)
        .join(
            d.filter(~is_new).select(fp.alias("fp")).distinct(),
            "fp",
            "left_semi",
        )
        .select("doc_id")
    )
    # near layer: MinHash bands over the union, candidates crossing
    # sides (side membership is arithmetic on doc_id, so no tag join),
    # exact-Jaccard verify at 0.8
    sh = D.shingled_docs(d)  # shared by bands + verify (r17)
    cand = D.minhash_band_pairs(d, num_hashes=8, bands=4, shingled=sh)
    cross = cand.filter(
        (F.col("doc_a") % 10 >= 8) != (F.col("doc_b") % 10 >= 8)
    )
    verified = D.shingle_jaccard_pairs(
        d, threshold=0.8, candidates=cross, shingled=sh
    )
    near_ids = verified.select(
        F.when(F.col("doc_a") % 10 >= 8, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    flags = (
        new_docs.select("doc_id", "lang")
        .join(exact_ids.withColumn("ex", F.lit(1)), "doc_id", "left")
        .join(near_ids.withColumn("nr", F.lit(1)), "doc_id", "left")
    )
    ex = F.col("ex").isNotNull()
    nr = F.col("nr").isNotNull()
    return (
        flags.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_new"),
            F.sum(ex.cast("int")).cast("bigint").alias("n_exact_dup"),
            F.sum((~ex & nr).cast("int")).cast("bigint").alias("n_near_dup"),
            F.sum((~ex & ~nr).cast("int")).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "sample_token_budget",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, doc_id % 8 AS shard,
             len(string_split(lower(text), ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    cum AS (
      SELECT doc_id, lang, shard, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM cum
    WHERE cum_before < 2000
    GROUP BY lang ORDER BY lang
    """,
    doc="Token-budget sampling: admit documents per (lang, doc_id%8) "
    "shard — in deterministic md5(doc_id) order, so the sample is "
    "uniform-ish and stable across runs/retries — until the shard's "
    "token budget (2000 ≈ 16000/lang across 8 shards) is crossed; the "
    "last admitted doc may overflow, exactly like sequence packing's "
    "bin tails.  The 'give me N tokens per domain' primitive of "
    "training-mix construction; sharding bounds each window sort, and "
    "budget-per-shard = budget/shards keeps the global take calibrated.",
)
def sample_token_budget(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = base.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        cum.filter(F.col("cum_before") < 2000)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "sample_domain_quota",
    tier="extra",
    oracle="""
    WITH ranked AS (
      SELECT source,
             len(string_split(lower(text), ' ')) AS n_toks,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rnk <= 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_admitted,
           CAST(sum(CASE WHEN rnk <= 15 THEN n_toks ELSE 0 END) AS BIGINT)
             AS admitted_tokens
    FROM ranked GROUP BY source ORDER BY source
    """,
    doc="Per-domain quota sampling (operators/quota.py): admit at most "
    "15 docs per source in deterministic md5(doc_id) order — the "
    "anti-domination primitive of crawl curation (a hot domain "
    "contributes its quota, never its crawl share).  Uses the window "
    "formulation, which Spark ≥ 3.5 executes with map-side "
    "WindowGroupLimit pruning: each input partition keeps a "
    "top-quota heap per domain, so a hot domain's crawl is never "
    "sorted or shuffled in full (plan-asserted).  The operator's "
    "two-phase prefilter path exists for weighted-quota shapes "
    "rank-limit pushdown cannot handle.",
)
def sample_domain_quota(spark: SparkSession, sf_dir: str):
    from ..operators.quota import domain_quota

    d = table(spark, sf_dir, "documents")
    admitted = domain_quota(d, quota=15, domain_col="source").select(
        "source", F.size(F.split(F.lower("text"), " ")).alias("n_toks")
    )
    totals = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_total")
    )
    stats = admitted.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_admitted"),
        F.sum("n_toks").cast("bigint").alias("admitted_tokens"),
    )
    return (
        totals.join(stats, "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce("n_admitted", F.lit(0)).alias("n_admitted"),
            F.coalesce("admitted_tokens", F.lit(0)).alias("admitted_tokens"),
        )
        .orderBy("source")
    )


@register(
    "dedup_chunk_boilerplate",
    tier="extra",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, i AS pos,
             array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS chunk
      FROM w,
           UNNEST(generate_series(0,
                  CAST(ceil(len(toks) / 3.0) AS INT) - 1)) AS t(i)
      WHERE len(toks) > 0
    ),
    df AS (SELECT chunk, count(DISTINCT doc_id) AS chunk_df
           FROM c GROUP BY 1)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN chunk_df < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           md5(coalesce(
             string_agg(CASE WHEN chunk_df < 2 THEN c.chunk END,
                        ' ' ORDER BY c.pos), '')) AS kept_md5
    FROM c JOIN df USING (chunk)
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
    doc="Span-level boilerplate dedup (line-level dedup of CCNet/"
    "RefinedWeb adapted to single-line docs): 3-word spans whose "
    "corpus-wide document frequency is >= 2 are dropped; per-doc "
    "span counts plus an md5 of the surviving text certify the "
    "reassembly end-to-end.  One high-cardinality groupBy for span "
    "doc frequency, one span-key join, one doc-keyed reassembly — "
    "never the O(n^2) pair space.",
)
def dedup_chunk_boilerplate(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import chunk_dedup

    d = table(spark, sf_dir, "documents")
    return chunk_dedup(d, chunk_words=3, max_doc_freq=2).orderBy("doc_id")


@register(
    "split_train_holdout",
    tier="extra",
    oracle="""
    WITH fp AS (
      SELECT md5(lower(trim(text))) AS fp,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents
    )
    SELECT CASE WHEN substr(md5(fp), 1, 2) < '1a'
                THEN 'holdout' ELSE 'train' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_texts,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM fp
    GROUP BY split
    ORDER BY split
    """,
    doc="Leakage-safe train/holdout split: the split key is the md5 "
    "CONTENT fingerprint (lower+trim), not the doc id, so byte-equal "
    "duplicates can never straddle the boundary — the held-out set "
    "stays uncontaminated even before dedup runs.  ~10% holdout "
    "(hex prefix < '1a' = 26/256).  Map-only split assignment (no "
    "shuffle, stable under task retries); one grouped pass certifies "
    "sizes, distinct-text counts, and token totals per side.",
)
def split_train_holdout(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    toks = F.size(F.split(F.lower(F.col("text")), " "))
    return (
        d.select(
            F.when(F.substring(F.md5(fp), 1, 2) < "1a", "holdout")
            .otherwise("train")
            .alias("split"),
            fp.alias("fp"),
            toks.alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique_texts"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split")
    )


@register(
    "sample_mixture_epochs",
    oracle="""
    WITH per_lang AS (
      SELECT lang,
             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(sqrt(n_tokens)) AS z FROM per_lang)
    SELECT lang, n_tokens,
           round(sqrt(n_tokens) / z, 4) AS weight,
           CAST(floor(sqrt(n_tokens) / z * 1000000) AS BIGINT)
             AS target_tokens,
           round(floor(sqrt(n_tokens) / z * 1000000) / n_tokens, 4)
             AS epochs
    FROM per_lang CROSS JOIN tot
    ORDER BY lang
    """,
    doc="Temperature-weighted mixture planning (alpha=0.5, the "
    "multilingual-LM convention): per-language sampling weight "
    "proportional to sqrt(available tokens), target token allocation "
    "for a 1M-token budget, and the repeat factor (epochs) each "
    "language needs to fill its allocation -- epochs > 1 means "
    "upsampling low-resource strata.  One partial-agg groupBy; the "
    "normalizer is a broadcast 1-row cross join.  Downstream, "
    "sample_token_budget admits documents against exactly these "
    "per-stratum token targets.",
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.lower(F.col("text")), " "))).alias("n_tokens")
    )
    tot = per_lang.agg(F.sum(F.sqrt(F.col("n_tokens"))).alias("z"))
    w = F.sqrt(F.col("n_tokens")) / F.col("z")
    target = F.floor(w * F.lit(1000000)).cast("bigint")
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            F.round(w, 4).alias("weight"),
            target.alias("target_tokens"),
            F.round(target / F.col("n_tokens"), 4).alias("epochs"),
        )
        .orderBy("lang")
    )


# Synthetic-URL construction shared by url_canonical_dedup's Spark and
# SQL sides: documents carry no URL column, so both engines derive the
# SAME messy crawl-style URL per doc (case noise, default ports,
# tracking params in shuffled order, fragments) and the query proves
# the canonicalizer merges exactly the variants that denote one page.
_URL_SQL = """
      concat(
        CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END, '://',
        CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END,
        source, '.',
        CASE WHEN doc_id % 5 = 0 THEN 'co.UK' ELSE 'COM' END,
        CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
        '/Page/', doc_id % 40,
        CASE WHEN doc_id % 2 = 0
             THEN concat('?id=', doc_id % 20, '&utm_source=feed&b=1')
             ELSE concat('?b=1&id=', doc_id % 20, '&gclid=x') END,
        CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
"""


@register(
    "url_canonical_dedup",
    tier="extra",
    oracle=f"""
    WITH u AS (
      SELECT {_URL_SQL} AS url FROM documents
    ),
    p AS (
      SELECT url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract(url, '^[^#?]*\\?([^#]*)', 1) AS qs
      FROM u
    ),
    c AS (
      SELECT
        regexp_replace(hostport, ':[0-9]+$', '') AS host,
        concat(
          scheme, '://', regexp_replace(hostport, ':[0-9]+$', ''),
          CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) NOT IN
                    ('', CASE WHEN scheme = 'http' THEN '80'
                              WHEN scheme = 'https' THEN '443' ELSE '' END)
               THEN concat(':', regexp_extract(hostport, ':([0-9]+)$', 1))
               ELSE '' END,
          CASE WHEN path = '' THEN '/' ELSE path END,
          CASE WHEN array_to_string(list_sort(list_filter(str_split(qs, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                   '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&') <> ''
               THEN concat('?', array_to_string(list_sort(list_filter(str_split(qs, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                   '^(utm_[^=]*|fbclid|gclid|msclkid|ref)='))), '&'))
               ELSE '' END) AS canon
      FROM p
    ),
    d AS (
      SELECT canon,
        CASE WHEN len(str_split(host, '.')) <= 2 THEN host
             WHEN str_split(host, '.')[-2] IN
                  ('co','com','org','net','ac','gov','edu')
                  AND len(str_split(host, '.')) >= 3
             THEN concat(str_split(host, '.')[-3], '.',
                         str_split(host, '.')[-2], '.',
                         str_split(host, '.')[-1])
             ELSE concat(str_split(host, '.')[-2], '.',
                         str_split(host, '.')[-1]) END AS domain
      FROM c
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canon) AS BIGINT) AS n_canonical,
           min(canon) AS first_canonical
    FROM d GROUP BY domain ORDER BY domain
    """,
    doc="URL canonicalization + dedup accounting: messy crawl-style "
    "URLs (case noise, default ports, tracking params, reordered query "
    "strings, fragments) collapse to canonical page keys "
    "(functions/url.py — pure Catalyst, no UDF), grouped by "
    "registrable domain (eTLD+1 heuristic incl. co.uk-style suffixes). "
    "Output per domain: raw URL count, distinct canonical pages, first "
    "canonical key.  Map-side expressions + one aggregate — full scan "
    "speed on a 100 TB crawl.",
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str):
    from ..functions import url as U

    d = table(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def pick(mod: int, eq, a: str, b: str):
        return F.when(doc % mod == eq, F.lit(a)).otherwise(F.lit(b))

    url = F.concat(
        pick(2, 0, "https", "HTTPS"),
        F.lit("://"),
        pick(3, 0, "WWW.", "www."),
        F.col("source"),
        F.lit("."),
        pick(5, 0, "co.UK", "COM"),
        pick(4, 0, ":443", ""),
        F.lit("/Page/"),
        (doc % 40).cast("string"),
        F.when(
            doc % 2 == 0,
            F.concat(F.lit("?id="), (doc % 20).cast("string"),
                     F.lit("&utm_source=feed&b=1")),
        ).otherwise(
            F.concat(F.lit("?b=1&id="), (doc % 20).cast("string"),
                     F.lit("&gclid=x")),
        ),
        pick(7, 0, "#frag", ""),
    )
    canon = U.canonicalize_url(url)
    dom = U.registrable_domain(U.url_host(url))
    return (
        d.select(canon.alias("canon"), dom.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("canon").alias("n_canonical"),
            F.min("canon").alias("first_canonical"),
        )
        .orderBy("domain")
    )


@register(
    "filter_length_percentile",
    tier="extra",
    oracle="""
    WITH q AS (
      SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.n_chars BETWEEN q.lo AND q.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(any_value(q.lo), 2) AS lo,
           round(any_value(q.hi), 2) AS hi
    FROM documents d JOIN q USING (lang)
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Corpus-ADAPTIVE length filter: keep documents inside the "
    "exact per-language [p5, p95] length band (absolute thresholds a "
    "la Gopher assume one language/domain; adaptive percentiles track "
    "each slice's own distribution).  Exact percentile_cont on both "
    "engines — identical interpolation arithmetic, so the BETWEEN "
    "decisions agree bit-for-bit.  Scale shape: one partial-agg "
    "percentile pass per lang, thresholds broadcast back (lang "
    "cardinality is tiny), filter is map-side.",
)
def filter_length_percentile(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    _ps = F.percentile("n_chars", F.array(F.lit(0.05), F.lit(0.95)))
    q = d.groupBy("lang").agg(
        _ps[0].alias("lo"),  # one exact-percentile buffer, not two (r16)
        _ps[1].alias("hi"),
    )
    return (
        d.join(F.broadcast(q), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(
                F.when(
                    F.col("n_chars").between(F.col("lo"), F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_kept"),
            F.round(F.first("lo"), 2).alias("lo"),
            F.round(F.first("hi"), 2).alias("hi"),
        )
        .orderBy("lang")
    )


def _register_weighted_sample():
    """Registered via a deferred import of ext.QUALITY_SQL (module
    import order between curation and ext is not guaranteed)."""
    from .ext import QUALITY_SQL

    @register(
        "sample_weighted_quality",
        tier="extra",
        oracle=f"""
        WITH s AS (
          SELECT doc_id, lang, {QUALITY_SQL} AS q,
                 round(
                   ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                      / 4294967296.0)
                   / greatest({QUALITY_SQL}, 0.0001), 6) AS k
          FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_sampled,
               round(avg(q), 4) AS avg_quality
        FROM (SELECT * FROM s ORDER BY k DESC, doc_id LIMIT 100)
        GROUP BY lang ORDER BY lang
        """,
        doc="DETERMINISTIC weighted sampling (Efraimidis-Spirakis A-ES): "
        "each doc draws a reproducible uniform u from md5(doc_id) and "
        "competes with key ln(u)/w, w = quality score — one global "
        "top-100 selects a quality-weighted sample that is identical "
        "across runs, engines, and task retries (the property rand()-"
        "based weighted sampling cannot give).  Plan: map-side key "
        "computation + TakeOrderedAndProject; no shuffle of the corpus. "
        "Output: per-language sample sizes and mean quality (higher-"
        "quality languages oversample, by design).",
    )
    def sample_weighted_quality(spark: SparkSession, sf_dir: str):
        from ..functions import text as T

        d = table(spark, sf_dir, "documents")
        q = T.quality_score(F.col("text"))
        u = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("double")
            + 1
        ) / F.lit(4294967296.0)
        k = F.round(F.log(u) / F.greatest(q, F.lit(0.0001)), 6)
        sample = (
            d.select("doc_id", "lang", q.alias("q"), k.alias("k"))
            .orderBy(F.desc("k"), "doc_id")
            .limit(100)
        )
        return (
            sample.groupBy("lang")
            .agg(
                F.count("*").alias("n_sampled"),
                F.round(F.avg("q"), 4).alias("avg_quality"),
            )
            .orderBy("lang")
        )


_register_weighted_sample()


@register(
    "funnel_conversion",
    tier="extra",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_type,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS sess_id
      FROM marked
    ), s1 AS (
      SELECT user_id, sess_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM numbered GROUP BY user_id, sess_id
    ), s2 AS (
      SELECT e.user_id, e.sess_id, any_value(s1.t1) AS t1,
             min(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1
                      THEN e.ts END) AS t2
      FROM numbered e JOIN s1 ON e.user_id = s1.user_id
                             AND e.sess_id = s1.sess_id
      GROUP BY e.user_id, e.sess_id
    ), s3 AS (
      SELECT e.user_id, e.sess_id, any_value(s2.t1) AS t1,
             any_value(s2.t2) AS t2,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
                      THEN e.ts END) AS t3
      FROM numbered e JOIN s2 ON e.user_id = s2.user_id
                             AND e.sess_id = s2.sess_id
      GROUP BY e.user_id, e.sess_id
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_all,
             CAST(count(t1) AS BIGINT) AS n1,
             CAST(count(t2) AS BIGINT) AS n2,
             CAST(count(t3) AS BIGINT) AS n3
      FROM s3
    )
    SELECT stage, n_sessions,
           round(n_sessions * 1.0 / n_all, 6) AS frac_of_all,
           round(n_sessions * 1.0 / greatest(prev, 1), 6) AS frac_of_prev
    FROM (
      SELECT '0_all_sessions' AS stage, n_all AS n_sessions, n_all AS prev,
             n_all FROM agg
      UNION ALL SELECT '1_view', n1, n_all, n_all FROM agg
      UNION ALL SELECT '2_click_after_view', n2, n1, n_all FROM agg
      UNION ALL SELECT '3_purchase_after_click', n3, n2, n_all FROM agg
    ) ORDER BY stage
    """,
    doc="Ordered funnel analysis (view -> click -> purchase) within "
    "30-min-gap sessions: each stage's timestamp is the first "
    "qualifying event AT OR AFTER the previous stage's (ordering "
    "matters — a click before the first view does not convert), "
    "computed as chained per-session aggregates that all share the "
    "user_id partitioning (the sessionization shuffle is paid once).  "
    "Output: per-stage session counts with conversion vs total and vs "
    "the previous stage — the standard product-analytics report.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1,
    ).otherwise(0)
    numbered = (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .select("user_id", "sess_id", "ts", "event_type")
    )
    keys = ["user_id", "sess_id"]
    s1 = numbered.groupBy(keys).agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    s2 = (
        numbered.join(s1, keys)
        .groupBy(keys)
        .agg(
            F.any_value("t1").alias("t1"),
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2"),
        )
    )
    s3 = (
        numbered.join(s2, keys)
        .groupBy(keys)
        .agg(
            F.any_value("t1").alias("t1"),
            F.any_value("t2").alias("t2"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3"),
        )
    )
    agg = s3.agg(
        F.count("*").alias("n_all"),
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stages = agg.selectExpr(
        """stack(4,
             '0_all_sessions', n_all, n_all,
             '1_view', n1, n_all,
             '2_click_after_view', n2, n1,
             '3_purchase_after_click', n3, n2
           ) AS (stage, n_sessions, prev)""",
        "n_all",
    )
    return stages.select(
        "stage",
        "n_sessions",
        F.round(F.col("n_sessions") / F.col("n_all").cast("double"), 6).alias(
            "frac_of_all"
        ),
        F.round(
            F.col("n_sessions") / F.greatest(F.col("prev"), F.lit(1)).cast("double"), 6
        ).alias("frac_of_prev"),
    ).orderBy("stage")


@register(
    "curation_drop_waterfall",
    tier="extra",
    oracle="""
    WITH quality AS (
      SELECT doc_id, lang, text
      FROM documents
      WHERE n_chars BETWEEN 100 AND 500
        AND len(string_split(text, ' ')) >= 15
    ),
    grams AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM quality),
           UNNEST(generate_series(1, greatest(len(toks) - 1, 0))) AS t(i)
    ),
    rep AS (
      SELECT doc_id,
             round(1 - count(DISTINCT gram) * 1.0 / count(*), 4) AS dup_frac
      FROM grams GROUP BY doc_id
    ),
    unrepetitive AS (
      SELECT q.* FROM quality q JOIN rep USING (doc_id)
      WHERE rep.dup_frac <= 0.3
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY md5(lower(text)) ORDER BY doc_id) AS rn
        FROM unrepetitive) WHERE rn = 1
    ),
    train AS (SELECT * FROM deduped WHERE doc_id % 20 <> 0),
    tr_sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM train),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    be_sh AS (
      SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents WHERE doc_id % 20 = 0),
           UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
    ),
    contaminated AS (
      SELECT t.doc_id
      FROM tr_sh t LEFT JOIN be_sh b USING (shingle)
      GROUP BY t.doc_id
      HAVING round(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   * 1.0 / count(*), 4) >= 0.5
    ),
    clean AS (
      SELECT * FROM train
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    counts AS (
      SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
      UNION ALL SELECT '1_quality', count(*) FROM quality
      UNION ALL SELECT '2_unrepetitive', count(*) FROM unrepetitive
      UNION ALL SELECT '3_deduped', count(*) FROM deduped
      UNION ALL SELECT '4_train_split', count(*) FROM train
      UNION ALL SELECT '5_decontaminated', count(*) FROM clean
    )
    SELECT stage, n AS n_docs,
           CAST(coalesce(lag(n) OVER (ORDER BY stage) - n, 0) AS BIGINT)
             AS dropped,
           round(coalesce((lag(n) OVER (ORDER BY stage) - n)
                 * 1.0 / greatest(lag(n) OVER (ORDER BY stage), 1), 0), 6)
             AS drop_frac
    FROM counts ORDER BY stage
    """,
    doc="Drop waterfall for the corpus-build pipeline — the "
    "observability report every production curation run ships with: "
    "per stage (quality gate, repetition filter, exact dedup, "
    "bench-slice excision, decontamination), surviving docs, rows "
    "dropped, and drop rate vs the previous stage.  Built from the "
    "SAME _corpus_stages chain the capstone executes (not a "
    "re-implementation), so the waterfall certifies the pipeline it "
    "describes; each stage count is one aggregate over the shared "
    "lineage.",
)
def curation_drop_waterfall(spark: SparkSession, sf_dir: str):
    stages = _corpus_stages(spark, sf_dir)
    out = None
    for name, df in stages.items():
        row = df.agg(
            F.lit(name).alias("stage"), F.count("*").alias("n_docs")
        )
        out = row if out is None else out.unionByName(row)
    w = Window.orderBy("stage")
    prev = F.lag("n_docs").over(w)
    return (
        out.withColumn(
            "dropped", F.coalesce(prev - F.col("n_docs"), F.lit(0))
        )
        .withColumn(
            "drop_frac",
            F.round(
                F.coalesce(
                    (prev - F.col("n_docs"))
                    / F.greatest(prev, F.lit(1)).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ),
        )
        .orderBy("stage")
    )


@register(
    "dedup_substring_spans",
    tier="extra",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS h
      FROM w, UNNEST(generate_series(1, len(toks) - 7)) AS t(i)
      WHERE len(toks) >= 8
    ),
    df AS (SELECT h, count(DISTINCT doc_id) AS span_df FROM s GROUP BY 1),
    per AS (
      SELECT s.doc_id, count(*) AS n_spans,
             sum(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM s JOIN df USING (h) GROUP BY 1
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_spans) AS BIGINT) AS n_spans,
           CAST(sum(n_dup) AS BIGINT) AS n_dup_spans,
           round(avg(n_dup * 1.0 / n_spans), 4) AS avg_dup_frac
    FROM per JOIN documents d USING (doc_id)
    GROUP BY d.lang ORDER BY d.lang
    """,
    doc="Exact duplicated-substring profile over SLIDING 8-token "
    "windows (token-window adaptation of Lee et al. 2022 substring "
    "dedup, arXiv:2107.06499): spans appearing in >= 2 documents mark "
    "duplicated regions; per-language totals + average duplicated "
    "fraction.  Sliding windows catch duplicate passages at ANY "
    "offset, unlike the non-overlapping chunk dedup.  Map-side span "
    "hashing, one partial-agg groupBy on the near-unique span hash, "
    "one 1:1 join back — linear, never O(n²) pairs.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import substring_span_stats

    d = table(spark, sf_dir, "documents")
    per = substring_span_stats(d, window=8, min_doc_freq=2)
    return (
        per.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_dup_spans").alias("n_dup_spans"),
            F.round(
                F.avg(F.col("n_dup_spans") / F.col("n_spans")), 4
            ).alias("avg_dup_frac"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_containment_excerpts",
    tier="extra",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
           UNNEST(generate_series(1, greatest(len(toks) - 2, 0))) AS t(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / least(sa.n, sb.n), 3) AS containment,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 3) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / least(sa.n, sb.n) >= 0.85
    ORDER BY doc_a, doc_b
    """,
    doc="Containment (excerpt/quote) detection: C = |A∩B|/min(|A|,|B|) "
    "over 3-gram shingle sets — Broder 1997's containment, the metric "
    "Jaccard dedup systematically misses when a short document is "
    "embedded in a longer one (the union dilutes Jaccard, containment "
    "stays ~1).  Inverted-index pair generation (never a cross join), "
    "one shingle-key shuffle + pair groupBy + two size joins; at "
    "corpus scale the max_doc_freq hot-list cap applies (uncapped "
    "here to stay oracle-exact).  Jaccard reported alongside so the "
    "excerpt signature (high C, low J) is visible in the graded rows.",
)
def dedup_containment_excerpts(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import shingle_containment_pairs

    d = table(spark, sf_dir, "documents")
    return shingle_containment_pairs(
        d, shingle_n=3, threshold=0.85
    ).orderBy("doc_a", "doc_b")


@register(
    "sample_mixture_temperature",
    tier="extra",
    oracle="""
    WITH counts AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, n_chars,
             pow(n_chars, 0.7) / sum(pow(n_chars, 0.7)) OVER () AS weight
      FROM counts
    )
    SELECT lang, n_docs, n_chars,
           round(weight, 6) AS weight,
           round(100000 * weight, 1) AS expected_draws,
           round(100000 * weight / n_chars, 4) AS epochs
    FROM w ORDER BY lang
    """,
    doc="Temperature-based mixture reweighting (the alpha=0.7 "
    "p^alpha/sum(p^alpha) formula from multilingual LM training, cf. "
    "XLM-R / PaLM data mixing): per-language sampling weights over "
    "character mass, the expected draws for a 100k-char budget, and "
    "the implied per-language epoch count — the diagnostic that "
    "tells you how many times low-resource data repeats before the "
    "head languages see their corpus once.  Scale shape: ONE "
    "partial-agg groupBy to |langs| rows; all temperature math runs "
    "on that tiny table (window over |langs|).",
)
def sample_mixture_temperature(spark, sf_dir):
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w = Window.partitionBy()
    weight = F.pow("n_chars", 0.7) / F.sum(F.pow("n_chars", 0.7)).over(w)
    return (
        counts.withColumn("weight_raw", weight)
        .select(
            "lang",
            "n_docs",
            "n_chars",
            F.round("weight_raw", 6).alias("weight"),
            F.round(100000 * F.col("weight_raw"), 1).alias(
                "expected_draws"
            ),
            F.round(
                100000 * F.col("weight_raw") / F.col("n_chars"), 4
            ).alias("epochs"),
        )
        .orderBy("lang")
    )


@register(
    "shard_assignment_token_balance",
    oracle="""
    WITH sharded AS (
      SELECT (((doc_id % 16777216) * 1103515245 + 12345) % 16777216) % 16
               AS shard,
             len(string_split(text, ' ')) AS tok
      FROM documents
    ),
    per_shard AS (
      SELECT shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tok) AS BIGINT) AS n_tokens
      FROM sharded GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens,
           round(n_tokens * 16.0 / (sum(n_tokens) OVER ()), 4)
             AS balance_ratio
    FROM per_shard ORDER BY shard
    """,
    doc="Training-shard builder audit: every document is assigned to "
    "one of 16 output shards by a DETERMINISTIC multiplicative hash "
    "of doc_id (same LCG arithmetic on both engines — no engine hash "
    "builtin, those differ), and the report shows per-shard document "
    "count, whitespace-token mass, and the balance ratio vs the ideal "
    "1/16 share.  This is the audit a webdataset/shard-writing job "
    "runs before 1000 trainers stream the shards: a ratio far from "
    "1.0 means stragglers.  Scale shape: map-only hash + ONE "
    "partial-agg groupBy to 16 cells; the window runs on 16 rows.  "
    "The same expression feeds DataFrameWriter.partitionBy(shard) to "
    "actually write the shards.",
)
def shard_assignment_token_balance(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    # bound doc_id to 2^24 BEFORE the LCG multiply: the product then
    # peaks at ~1.85e16 << int64, so Spark (non-ANSI wrap) and DuckDB
    # (HUGEINT promotion) agree at ANY doc_id scale, not just sf0.01
    shard = (
        ((F.col("doc_id") % F.lit(16777216)) * F.lit(1103515245)
         + F.lit(12345))
        % F.lit(16777216)
    ) % F.lit(16)
    per = (
        d.select(
            shard.alias("shard"),
            F.size(F.split("text", " ")).cast("long").alias("tok"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
        )
    )
    wall = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") * 16.0 / F.sum("n_tokens").over(wall), 4
        ).alias("balance_ratio"),
    ).orderBy("shard")


@register(
    "curriculum_stage_assignment",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN n_chars < 500 THEN 'short'
                  WHEN n_chars < 1500 THEN 'medium'
                  ELSE 'long' END AS len_bucket,
             CASE WHEN ttr < 0.5 THEN 'repetitive'
                  WHEN ttr < 0.75 THEN 'mixed'
                  ELSE 'diverse' END AS diversity,
             tok
      FROM (
        SELECT n_chars,
               len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')) AS ttr,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        FROM documents
      )
    )
    SELECT len_bucket, diversity,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           round(sum(tok) * 1.0
                 / (SELECT sum(tok) FROM scored), 4) AS token_share
    FROM scored
    GROUP BY len_bucket, diversity
    ORDER BY len_bucket, diversity
    """,
    doc="Curriculum staging grid: every document lands in a "
    "(length bucket x lexical-diversity tier) cell — type-token "
    "ratio tiers at fixed 0.5/0.75 cuts, length at 500/1500 chars — "
    "with doc count, token mass, and token share per cell; the table "
    "a curriculum schedule samples from (short-diverse early, "
    "long-everything late) and the mixture-weighting twin of "
    "sample_mixture_temperature.  TTR is a ratio of small exact "
    "integers (identical double on both engines), so the tier cuts "
    "are deterministic.  Scale shape: map-side scoring, ONE "
    "partial-agg groupBy to <=9 cells.",
)
def curriculum_stage_assignment(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        F.when(F.col("n_chars") < 500, "short")
        .when(F.col("n_chars") < 1500, "medium")
        .otherwise("long")
        .alias("len_bucket"),
        (
            F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
        ).alias("ttr"),
        F.size(toks).cast("long").alias("tok"),
    ).select(
        "len_bucket",
        F.when(F.col("ttr") < 0.5, "repetitive")
        .when(F.col("ttr") < 0.75, "mixed")
        .otherwise("diverse")
        .alias("diversity"),
        "tok",
    )
    per = scored.groupBy("len_bucket", "diversity").agg(
        F.count("*").alias("n_docs"), F.sum("tok").alias("n_tokens")
    )
    wall = Window.partitionBy()
    return per.select(
        "len_bucket",
        "diversity",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(wall), 4
        ).alias("token_share"),
    ).orderBy("len_bucket", "diversity")


@register(
    "curation_ccnet_ppl_buckets",
    tier="extra",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])
               AS bg
      FROM t WHERE len(ts) >= 2
    ),
    uni AS (SELECT unnest(ts) AS w1 FROM t),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w1),
    c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY bg),
    v AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM uni),
    sc AS (
      SELECT big.doc_id, (c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v) AS p
      FROM big JOIN c2 USING (bg)
      JOIN c1 ON string_split(bg, ' ')[1] = c1.w1
      CROSS JOIN v
    ),
    ppl AS (
      SELECT doc_id,
             round(exp(round(sum(-ln(p)) / count(*), 4)), 2) AS ppl
      FROM sc GROUP BY doc_id
    ),
    lp AS (
      SELECT d.lang, p.ppl, CAST(round(p.ppl * 100) AS BIGINT) AS ppl_c
      FROM ppl p JOIN documents d USING (doc_id)
    ),
    cuts AS (
      SELECT lang,
             round(quantile_cont(ppl, 1.0/3), 4) AS p33,
             round(quantile_cont(ppl, 2.0/3), 4) AS p67
      FROM lp GROUP BY lang
    )
    SELECT lp.lang,
           CASE WHEN ppl <= p33 THEN 'head'
                WHEN ppl <= p67 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(ppl_c) AS DOUBLE) / count(*) / 100.0, 4)
             AS avg_ppl
    FROM lp JOIN cuts USING (lang)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="CCNet head/middle/tail corpus split (Wenzek et al. '20): score "
    "every document's perplexity under the corpus bigram LM (the same "
    "model text_bigram_lm_score certifies), cut each LANGUAGE at its "
    "own perplexity terciles, and report per-(lang, bucket) volumes — "
    "the standard quality-stratification a pretraining pipeline feeds "
    "into mixture weights (head oversampled, tail dropped or "
    "down-weighted).  Per-language cuts matter: a single global cut "
    "would mislabel whole languages whose LM coverage differs.  Scale "
    "shape: LM fit is two partial-agg count tables + token-keyed "
    "joins; the tercile cut is a |langs|-row broadcast; per-doc ppl "
    "is round(·,2) so the tercile comparison and the cent-quantized "
    "average are engine-exact.",
)
def curation_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str):
    from ..functions import text as T

    d = table(spark, sf_dir, "documents")
    sc = T.bigram_surprisal(d).select("doc_id", "ppl")
    lp = sc.join(d.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "ppl",
        F.round(F.col("ppl") * 100).cast("long").alias("ppl_c"),
    )
    _ps = F.percentile("ppl", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3)))
    cuts = lp.groupBy("lang").agg(
        F.round(_ps[0], 4).alias("p33"),  # one buffer, not two (r16)
        F.round(_ps[1], 4).alias("p67"),
    )
    b = lp.join(F.broadcast(cuts), "lang").select(
        "lang",
        F.when(F.col("ppl") <= F.col("p33"), "head")
        .when(F.col("ppl") <= F.col("p67"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        "ppl_c",
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("ppl_c").cast("double")
                / F.count(F.lit(1))
                / F.lit(100.0),
                4,
            ).alias("avg_ppl"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "transform_fim_split",
    tier="extra",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, text, length(text) AS n
      FROM documents WHERE length(text) >= 3
    ),
    cuts AS (
      SELECT doc_id, lang, text, n,
             ('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % (n - 1) + 1 AS h1,
             ('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 8))
               ::BIGINT % (n - 1) + 1 AS h2
      FROM d
    ),
    parts AS (
      SELECT doc_id, lang, n,
             least(h1, h2) AS lo, greatest(h1, h2) AS hi,
             substring(text, 1, least(h1, h2)) AS pre,
             substring(text, least(h1, h2) + 1,
                       greatest(h1, h2) - least(h1, h2)) AS mid,
             substring(text, greatest(h1, h2) + 1,
                       n - greatest(h1, h2)) AS suf
      FROM cuts
    ),
    reordered AS (
      SELECT lang,
             length(pre) AS lp, length(mid) AS lm, length(suf) AS ls,
             ('0x' || substr(md5(pre || '<SUF>' || suf || '<MID>' || mid),
                             1, 8))::BIGINT AS csum
      FROM parts
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(lp) AS BIGINT) AS prefix_chars,
           CAST(sum(lm) AS BIGINT) AS middle_chars,
           CAST(sum(ls) AS BIGINT) AS suffix_chars,
           CAST(sum(csum) AS BIGINT) AS content_checksum
    FROM reordered GROUP BY lang ORDER BY lang
    """,
    doc="Fill-in-the-middle transformation (Bavarian et al. '22): each "
    "document splits at two md5-derived character positions into "
    "(prefix, middle, suffix) and is re-serialized in PSM order "
    "prefix⟨SUF⟩suffix⟨MID⟩middle — the data-prep rewrite that "
    "teaches a causal LM to infill.  Cut points are deterministic "
    "(salted md5 of doc_id), so the same document splits identically "
    "on every run/engine/retry, and the graded surface certifies the "
    "CONTENT, not just sizes: per-language totals of each part plus "
    "an md5-prefix checksum over every reordered document (any "
    "character out of place changes the sum).  Pure map-side string "
    "arithmetic + one partial-agg groupBy; no shuffle of text.",
)
def transform_fim_split(spark: SparkSession, sf_dir: str):
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("doc_id", "lang", "text", F.length("text").alias("n"))
    )

    def cut(salt: str):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return h % (F.col("n") - 1) + 1

    cuts = d.select(
        "lang",
        "text",
        "n",
        F.least(cut("fim1:"), cut("fim2:")).alias("lo"),
        F.greatest(cut("fim1:"), cut("fim2:")).alias("hi"),
    )
    parts = cuts.select(
        "lang",
        F.expr("substring(text, 1, lo)").alias("pre"),
        F.expr("substring(text, lo + 1, hi - lo)").alias("mid"),
        F.expr("substring(text, hi + 1, n - hi)").alias("suf"),
    )
    reordered = parts.select(
        "lang",
        F.length("pre").alias("lp"),
        F.length("mid").alias("lm"),
        F.length("suf").alias("ls"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("pre"),
                        F.lit("<SUF>"),
                        F.col("suf"),
                        F.lit("<MID>"),
                        F.col("mid"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("csum"),
    )
    return (
        reordered.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("lp").cast("long").alias("prefix_chars"),
            F.sum("lm").cast("long").alias("middle_chars"),
            F.sum("ls").cast("long").alias("suffix_chars"),
            F.sum("csum").cast("long").alias("content_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "pack_length_bucketing_waste",
    tier="extra",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(doc_id % 4 AS INT) AS shard,
             len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS toks
      FROM documents
    ),
    arrival AS (
      SELECT lang, shard, toks,
             CAST((row_number() OVER (PARTITION BY lang, shard
                                      ORDER BY doc_id) - 1) // 8 AS BIGINT)
               AS batch
      FROM d
    ),
    bucketed AS (
      SELECT lang, shard, toks,
             CAST((row_number() OVER (PARTITION BY lang, shard
                                      ORDER BY toks, doc_id) - 1) // 8
                  AS BIGINT) AS batch
      FROM d
    ),
    pols AS (
      SELECT 'arrival' AS policy, lang, shard, batch,
             CAST(max(toks) * count(*) AS BIGINT) AS padded,
             CAST(sum(toks) AS BIGINT) AS real_toks
      FROM arrival GROUP BY lang, shard, batch
      UNION ALL
      SELECT 'bucketed', lang, shard, batch,
             CAST(max(toks) * count(*) AS BIGINT),
             CAST(sum(toks) AS BIGINT)
      FROM bucketed GROUP BY lang, shard, batch
    )
    SELECT policy, lang,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(padded) AS BIGINT) AS padded_tokens,
           CAST(sum(real_toks) AS BIGINT) AS real_tokens,
           round((CAST(sum(padded) AS DOUBLE) - CAST(sum(real_toks) AS DOUBLE))
                 / CAST(sum(padded) AS DOUBLE), 4) AS waste_frac
    FROM pols GROUP BY policy, lang ORDER BY policy, lang
    """,
    doc="Padding-waste audit for batched training/inference: documents "
    "batch 8-at-a-time per (lang, shard) under two policies — "
    "arrival order vs length-bucketed (sort by token count first) — "
    "and each batch pads to its longest member; the output compares "
    "padded vs real token totals per policy (length bucketing "
    "routinely cuts padding waste 2-5×, which is exactly that much "
    "wasted GPU compute).  Batch assignment is deterministic "
    "(row_number inside a (lang, doc_id%4) shard), so the windows "
    "parallelize across shard-partitions instead of one global "
    "sort — the same shard trick a real loader uses so data-parallel "
    "workers batch independently.  All integer arithmetic.",
)
def pack_length_bucketing_waste(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 4).cast("int").alias("shard"),
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda w: w != F.lit("")
            )
        ).alias("toks"),
    )
    wa = Window.partitionBy("lang", "shard").orderBy("doc_id")
    wb = Window.partitionBy("lang", "shard").orderBy("toks", "doc_id")

    def batched(win, policy):
        return (
            d.withColumn(
                "batch",
                F.floor((F.row_number().over(win) - 1) / 8).cast("long"),
            )
            .groupBy("lang", "shard", "batch")
            .agg(
                (F.max("toks") * F.count("*")).cast("long").alias("padded"),
                F.sum("toks").cast("long").alias("real"),
            )
            .select(F.lit(policy).alias("policy"), "lang", "padded", "real")
        )

    both = batched(wa, "arrival").unionByName(batched(wb, "bucketed"))
    return (
        both.groupBy("policy", "lang")
        .agg(
            F.count("*").alias("n_batches"),
            F.sum("padded").cast("long").alias("padded_tokens"),
            F.sum("real").cast("long").alias("real_tokens"),
            F.round(
                (
                    F.sum("padded").cast("double")
                    - F.sum("real").cast("double")
                )
                / F.sum("padded").cast("double"),
                4,
            ).alias("waste_frac"),
        )
        .orderBy("policy", "lang")
    )


@register(
    "corpus_build_pipeline_v2",
    tier="extra",
    oracle="""
    WITH t0 AS (
      SELECT doc_id, lang, text,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS toks,
             length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
               AS n_sym
      FROM documents
    ),
    flags AS (
      SELECT doc_id, lang, text, len(toks) AS n_toks,
             CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 0 ELSE 1 END
               AS f_len,
             CASE WHEN CAST(list_sum(list_transform(toks, w -> length(w)))
                           AS DOUBLE) / len(toks) BETWEEN 3.0 AND 5.0
                  THEN 0 ELSE 1 END AS f_wl,
             CASE WHEN CAST(list_sum(list_transform(toks,
                         w -> CASE WHEN regexp_matches(w, '[a-z]')
                                   THEN 1 ELSE 0 END)) AS DOUBLE)
                       / len(toks) > 0.8 THEN 0 ELSE 1 END AS f_alpha,
             CASE WHEN CAST(list_sum(list_transform(toks,
                         w -> CASE WHEN w IN
                              ('the','and','of','to','a','in','is','for')
                              THEN 1 ELSE 0 END)) AS INT) >= 2
                  THEN 0 ELSE 1 END AS f_stop,
             CASE WHEN CAST(n_sym AS DOUBLE) / length(text) < 0.1
                  THEN 0 ELSE 1 END AS f_sym
      FROM t0 WHERE len(toks) > 0
    ),
    survivors AS (
      SELECT doc_id, lang, text, n_toks FROM flags
      WHERE f_len + f_wl + f_alpha + f_stop + f_sym = 0
    ),
    -- bigram LM fit on the FULL corpus (same model the ccnet row holds)
    big AS (
      SELECT doc_id,
             unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])
               AS bg
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
            FROM documents) WHERE len(ts) >= 2
    ),
    uni AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w1 FROM documents
    ),
    c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w1),
    c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM big GROUP BY bg),
    v AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM uni),
    sc AS (
      SELECT big.doc_id, (c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v) AS p
      FROM big JOIN c2 USING (bg)
      JOIN c1 ON string_split(bg, ' ')[1] = c1.w1
      CROSS JOIN v
    ),
    ppl AS (
      SELECT doc_id,
             round(exp(round(sum(-ln(p)) / count(*), 4)), 2) AS ppl
      FROM sc GROUP BY doc_id
    ),
    lp AS (
      SELECT s.doc_id, s.lang, s.text, s.n_toks, p.ppl
      FROM survivors s JOIN ppl p USING (doc_id)
    ),
    cuts AS (
      SELECT lang,
             round(quantile_cont(ppl, 1.0/3), 4) AS p33,
             round(quantile_cont(ppl, 2.0/3), 4) AS p67
      FROM lp GROUP BY lang
    ),
    kept AS (
      SELECT lp.doc_id, lp.lang, lp.text, lp.n_toks,
             CASE WHEN ppl <= p33 THEN 'head' ELSE 'middle' END AS bucket
      FROM lp JOIN cuts USING (lang)
      WHERE ppl <= p67
    ),
    deduped AS (
      SELECT lang, bucket, n_toks FROM (
        SELECT lang, bucket, n_toks,
               row_number() OVER (PARTITION BY md5(lower(text))
                                  ORDER BY doc_id) AS rn
        FROM kept
      ) WHERE rn = 1
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS token_mass
    FROM deduped GROUP BY lang, bucket ORDER BY lang, bucket
    """,
    doc="Corpus-build capstone v2 — the round-11 curation shelf "
    "COMPOSED end-to-end the way a pretraining data pipeline chains "
    "them: Gopher rule gate (shared gopher_flags expressions, so the "
    "capstone certifies the exact rules the stats row certifies) → "
    "CCNet perplexity split fit on the full corpus, keep head+middle "
    "per language → exact dedup (md5 fingerprint, first-doc keeper) → "
    "per-(lang, bucket) document counts and token mass, the numbers a "
    "mixture-weight schedule consumes.  Scale shape: rule gate is "
    "map-side; LM fit is two partial-agg count tables; tercile cuts "
    "broadcast; dedup is one fingerprint-keyed shuffle; final reduce "
    "|langs|×2 cells.",
)
def corpus_build_pipeline_v2(spark: SparkSession, sf_dir: str):
    from ..functions import text as T
    from .features import gopher_flags

    d = table(spark, sf_dir, "documents")
    flags = gopher_flags(d)
    survivors = flags.filter(
        F.col("f_len")
        + F.col("f_wl")
        + F.col("f_alpha")
        + F.col("f_stop")
        + F.col("f_sym")
        == 0
    ).select(
        "doc_id",
        "lang",
        "text",
        F.size(
            F.filter(
                F.split(F.lower("text"), " "), lambda w: w != F.lit("")
            )
        ).alias("n_toks"),
    )
    ppl = T.bigram_surprisal(d).select("doc_id", "ppl")
    lp = survivors.join(ppl, "doc_id")
    _ps = F.percentile("ppl", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3)))
    cuts = lp.groupBy("lang").agg(
        F.round(_ps[0], 4).alias("p33"),  # one buffer, not two (r16)
        F.round(_ps[1], 4).alias("p67"),
    )
    kept = (
        lp.join(F.broadcast(cuts), "lang")
        .filter(F.col("ppl") <= F.col("p67"))
        .select(
            "doc_id",
            "lang",
            "text",
            "n_toks",
            F.when(F.col("ppl") <= F.col("p33"), "head")
            .otherwise("middle")
            .alias("bucket"),
        )
    )
    w = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("token_mass"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "sample_dsir_importance",
    tier="extra",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(CAST(('0x' || substr(md5(unnest(
               string_split(lower(text), ' '))), 2, 4)) AS INTEGER) % 64
               AS INT) AS bucket
      FROM documents
    ),
    raw AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM toks
      GROUP BY bucket
    ),
    tgt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM toks
      WHERE lang = 'en' GROUP BY bucket
    ),
    tot AS (
      SELECT (SELECT CAST(sum(c) AS BIGINT) FROM raw) AS n_raw,
             (SELECT CAST(sum(c) AS BIGINT) FROM tgt) AS n_tgt
    ),
    lr AS (
      -- per-bucket log importance ratio, quantized to integer
      -- micro-units so per-doc weights are EXACT integer sums
      SELECT r.bucket,
             CAST(round(1000000.0 * (
               ln((coalesce(t.c, 0) + 1.0) / (tot.n_tgt + 64.0))
               - ln((r.c + 1.0) / (tot.n_raw + 64.0)))) AS BIGINT)
               AS lr_micro
      FROM raw r LEFT JOIN tgt t ON r.bucket = t.bucket, tot
    ),
    per_doc AS (
      SELECT k.doc_id,
             CAST(sum(k.n * lr.lr_micro) AS BIGINT) AS w_micro
      FROM (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY doc_id, bucket) k
      JOIN lr ON k.bucket = lr.bucket
      GROUP BY k.doc_id
    )
    SELECT CAST(row_number() OVER (
             ORDER BY p.w_micro DESC, p.doc_id) AS INT) AS rk,
           p.doc_id, d.lang, p.w_micro
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    ORDER BY p.w_micro DESC, p.doc_id LIMIT 10
    """,
    doc="DSIR data selection (Xie et al., NeurIPS'23 'Data Selection "
    "for Language Models via Importance Resampling'): fit hashed "
    "bag-of-unigrams models on the TARGET distribution (here the "
    "English slice, standing in for the paper's Wikipedia-quality "
    "corpus) and the RAW pool, score every document by its log "
    "importance ratio sum_b n_b(d)*(ln p_tgt(b) - ln p_raw(b)) over "
    "the same engine-portable 64-bucket md5 feature space as "
    "feature_hashing_trick, and keep the top-k — the standard "
    "pretraining-data targeting step between quality gates and "
    "mixture weighting.  Laplace-smoothed bucket models; each "
    "bucket's log-ratio is quantized to integer MICRO-UNITS once (a "
    "64-row table), so per-doc weights are exact integer dot "
    "products — no float fold-order anywhere in the ranking.  Scale "
    "shape: one explode -> partial-agg to (doc, bucket) cells "
    "(<= 64x|docs|), two 64-row model aggregates broadcast back, one "
    "|docs|-row weight table, TakeOrderedAndProject top-k.  The "
    "model is O(buckets) wide regardless of vocabulary — the "
    "hashing-trick property that makes DSIR one map-reduce pass at "
    "100 TB.",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (F.conv(F.substring(F.md5("tok"), 2, 4), 16, 10).cast("int") % 64)
        .cast("int")
        .alias("bucket"),
    )
    raw = toks.groupBy("bucket").agg(F.count("*").alias("c_raw"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.count("*").alias("c_tgt"))
    )
    tot = raw.agg(F.sum("c_raw").alias("n_raw")).crossJoin(
        tgt.agg(F.sum("c_tgt").alias("n_tgt"))
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                1000000.0
                * (
                    F.log(
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1.0)
                        / (F.col("n_tgt") + 64.0)
                    )
                    - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + 64.0))
                )
            )
            .cast("long")
            .alias("lr_micro"),
        )
    )
    cells = toks.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    per_doc = (
        cells.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("lr_micro")).alias("w_micro"))
    )
    top = (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("w_micro").desc(), "doc_id")
        .limit(10)
    )
    w = Window.orderBy(F.col("w_micro").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rk"),
        "doc_id",
        "lang",
        "w_micro",
    ).orderBy("rk")


@register(
    "sample_neyman_allocation",
    tier="extra",
    oracle="""
    WITH f AS (
      SELECT o_orderkey, o_orderpriority AS stratum,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    s AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS n_pop,
             round(stddev_samp(CAST(cents AS DOUBLE)), 2) AS sigma
      FROM f GROUP BY stratum
    ),
    w AS (
      SELECT stratum, n_pop, sigma,
             round(n_pop * sigma, 6) AS wt,
             (SELECT round(sum(round(n_pop * sigma, 6)), 6) FROM s) AS wtot
      FROM s
    ),
    alloc AS (
      SELECT stratum, n_pop, sigma,
             CAST(round(1000.0 * wt / wtot) AS BIGINT) AS alloc_n,
             round(round(1000.0 * wt / wtot) / n_pop, 9) AS rate
      FROM w
    )
    SELECT a.stratum, a.n_pop,
           round(a.sigma, 4) AS sigma_cents,
           a.alloc_n,
           CAST(count(CASE WHEN
                  ('0x' || substr(md5('ney:' || f.o_orderkey), 1, 8))::BIGINT
                    / 4294967296.0 < a.rate THEN 1 END) AS BIGINT)
             AS realized_n
    FROM alloc a JOIN f ON f.stratum = a.stratum
    GROUP BY a.stratum, a.n_pop, a.sigma, a.alloc_n
    ORDER BY a.stratum
    """,
    doc="Neyman-optimal stratified allocation (Neyman 1934): a fixed "
    "budget of 1000 samples is split across order-priority strata "
    "proportional to N_h*sigma_h — the variance-minimizing design "
    "every survey/eval-set builder wants instead of proportional "
    "allocation when strata differ in spread; the existing "
    "stratified row uses FIXED rates, this one derives them from the "
    "data.  Per-stratum sigma is cents-scale (~1e6), so it rounds at "
    "2 decimals — ~8 significant digits, a grid comfortably wider "
    "than cross-engine fold-order noise in a distributed variance "
    "(round(,6) on this magnitude was ~12 sig digits, tighter than "
    "the noise floor) — before the N_h*sigma_h weight product; the "
    "allocation is integer, and the realized "
    "sample admits rows via a seeded md5 uniform against the "
    "stratum's rate — deterministic, reproducible, map-side.  The "
    "graded surface reconciles allocation vs realized counts.  Scale "
    "shape: ONE partial-agg pass builds the stratum moment table "
    "(|strata| rows), rates broadcast back, admission is a map-side "
    "comparison — the fact table shuffles once for the moments and "
    "once for the realized count (the admission scan could fold into "
    "any downstream consumer).",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str):
    o = table(spark, sf_dir, "orders")
    f = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("stratum"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    s = f.groupBy("stratum").agg(
        F.count("*").alias("n_pop"),
        F.round(F.stddev_samp(F.col("cents").cast("double")), 2).alias(
            "sigma"
        ),
    )
    wtot = s.agg(
        F.round(F.sum(F.round(F.col("n_pop") * F.col("sigma"), 6)), 6).alias(
            "wtot"
        )
    )
    alloc = s.crossJoin(F.broadcast(wtot)).select(
        "stratum",
        "n_pop",
        "sigma",
        F.round(
            1000.0 * F.round(F.col("n_pop") * F.col("sigma"), 6) / F.col("wtot")
        )
        .cast("long")
        .alias("alloc_n"),
        F.round(
            F.round(
                1000.0
                * F.round(F.col("n_pop") * F.col("sigma"), 6)
                / F.col("wtot")
            )
            / F.col("n_pop"),
            9,
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ney:"), F.col("o_orderkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        f.join(F.broadcast(alloc), "stratum")
        .groupBy("stratum", "n_pop", "sigma", "alloc_n")
        .agg(
            F.count(F.when(u < F.col("rate"), 1)).alias("realized_n")
        )
        .select(
            "stratum",
            "n_pop",
            F.round("sigma", 4).alias("sigma_cents"),
            "alloc_n",
            "realized_n",
        )
        .orderBy("stratum")
    )
