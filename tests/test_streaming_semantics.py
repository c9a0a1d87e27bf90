"""Watermark semantics under genuinely-late data.

The oracle-checked streaming queries replay in order, so nothing is
ever late there (by design — results must match batch SQL).  This test
constructs the opposite: two source files consumed one per microbatch
(maxFilesPerTrigger=1), where the second file carries an event OLDER
than the watermark advanced by the first — the aggregate state for its
window has been evicted, so the late row must be dropped, and the
streaming result must differ from the batch answer by exactly that
row."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def test_late_event_dropped_after_watermark_advance(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: events far ahead (watermark advances to max(ts) - 10m)
    early = [
        ("2024-01-01 10:00:00", 1),
        ("2024-01-01 12:00:00", 2),
    ]
    # batch 2: any on-time event; entering this batch the watermark
    # (11:50) has passed the 10:00 window's end, so that window is
    # emitted and its state EVICTED at this batch's commit
    mid = [
        ("2024-01-01 12:05:00", 9),
    ]
    # batch 3: a row for the already-evicted window → must be dropped
    # (a late row arriving in the SAME batch as the eviction would
    # still have merged — state-present lateness is accepted; only
    # post-eviction arrivals are dropped)
    late = [
        ("2024-01-01 10:05:00", 3),
        ("2024-01-01 12:06:00", 4),
    ]

    def write_file(rows, name, mtime):
        import glob
        import os
        import shutil

        tmp = str(tmp_path / ("t_" + name))
        spark.createDataFrame(rows, "ts string, v int").select(
            F.col("ts").cast("timestamp").alias("ts"), "v"
        ).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))  # file source orders by mod time

    write_file(early, "b1.parquet", 1_700_000_000)
    write_file(mid, "b2.parquet", 1_700_000_100)
    write_file(late, "b3.parquet", 1_700_000_200)

    stream = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    )
    name = "late" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # append emits only FINALIZED windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1  # exactly the post-eviction 10:05 arrival
    out = {
        r["window"]["start"].strftime("%H:%M"): (r["n"], r["sv"])
        for r in spark.table(name).collect()
    }
    # the 10:00 window finalized with ONLY the on-time event: the late
    # v=3 arrival was dropped, not merged
    assert out.get("10:00") == (1, 1), out
    # batch over the same data would count 2 events in that window
    batch = (
        spark.read.parquet(str(src))
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    batch_out = {
        r["window"]["start"].strftime("%H:%M"): r["n"] for r in batch.collect()
    }
    assert batch_out["10:00"] == 2


def test_tws_operator_gated_on_protobuf(spark, tmp_path):
    """transformWithStateInPandas needs google.protobuf, absent in this
    container.  The operator builds its plan fine; starting the query
    must fail with the documented initialization error (not silently
    mis-run), unless protobuf is importable, in which case it must
    produce the batch-equivalent answer."""
    import uuid as _uuid

    import pytest as _pytest

    from hadoop_formats_spark.streaming import tws_group_minmax

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "user_id bigint, value double"
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("user_id bigint, value double").parquet(
        str(src / "b1")
    )
    out = tws_group_minmax(stream, "user_id", "value")
    name = "tws" + _uuid.uuid4().hex[:6]
    try:
        import google.protobuf  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if not have_protobuf:
        with _pytest.raises(Exception, match="STREAM|crashed|Python"):
            q.start().awaitTermination()
    else:
        q.start().awaitTermination()
        got = {r["user_id"]: (r["n_events"], r["min_value"], r["max_value"])
               for r in spark.table(name).collect()}
        assert got == {1: (2, 10.0, 20.0), 2: (1, 5.0, 5.0)}


def test_stream_band_registry_order_insensitive(spark, tmp_path):
    """The streaming MinHash band registry must converge to the SAME
    owners under any micro-batching: replay the same docs as 3 files
    in two different orders (maxFilesPerTrigger=1 → 3 micro-batches)
    and compare the final registries with each other and with batch."""
    from hadoop_formats_spark.queries.streaming_q import _minhash_banded
    from hadoop_formats_spark.streaming import run_available_now

    docs = [
        (1, "spark scans the table fast and loose"),
        (2, "spark scans the table fast and loose"),       # dup of 1
        (3, "rows merge into wide batches during the scan"),
        (4, "rows merge into wide batches during the scan honest"),
        (5, "completely unrelated text about window functions here"),
    ]
    schema = "doc_id long, text string"

    def replay(order):
        d = str(tmp_path / ("replay_" + uuid.uuid4().hex[:6]))
        import os

        os.makedirs(d)
        for i, row in enumerate(order):
            spark.createDataFrame([row], schema).coalesce(1).write.mode(
                "append"
            ).parquet(d)
        s = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        owners = run_available_now(
            _minhash_banded(s)
            .groupBy("band_id", "band_key")
            .agg(F.min("doc_id").alias("owner")),
            spark,
            output_mode="complete",
            state_partitions=2,
        )
        return sorted(map(tuple, owners.collect()))

    fwd = replay(docs)
    rev = replay(list(reversed(docs)))
    batch = sorted(
        map(
            tuple,
            _minhash_banded(spark.createDataFrame(docs, schema))
            .groupBy("band_id", "band_key")
            .agg(F.min("doc_id").alias("owner"))
            .collect(),
        )
    )
    assert fwd == rev == batch
    owners_of = {}
    for _, key, owner in fwd:
        owners_of.setdefault(owner, 0)
        owners_of[owner] += 1
    assert 2 not in owners_of  # the dup owns nothing — doc 1 holds its bands


def _ttl_replay(spark, tmp_path, batches, ttl_seconds, watermark_delay="0 seconds"):
    """Replay ``batches`` (list of row-lists) as one file each
    (maxFilesPerTrigger=1 → one micro-batch per file, mtimes forced
    increasing so the file source preserves batch order) through
    ttl_min_registry; returns final owner per key (max last_seen wins)."""
    import os
    import time

    from hadoop_formats_spark.streaming import run_available_now, ttl_min_registry

    schema = "band_key string, doc_id long, ts timestamp"
    d = str(tmp_path / ("ttl_" + uuid.uuid4().hex[:6]))
    os.makedirs(d)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        # file source orders pending files by mtime: force strict order
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                if st.st_mtime >= time.time() - 0.001:
                    os.utime(p, (st.st_atime, time.time() + i * 2))
    s = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    out = run_available_now(
        ttl_min_registry(
            s,
            ["band_key"],
            "doc_id",
            "ts",
            ttl_seconds=ttl_seconds,
            # callers replay in event-time order unless a test is
            # deliberately exercising lateness; the assert proves it
            watermark_delay=watermark_delay,
        ),
        spark,
        output_mode="update",
        state_partitions=2,
        assert_no_watermark_drops=True,
    )
    final = {}
    for r in out.collect():
        prev = final.get(r["band_key"])
        # max last_seen wins; on ties the owner is monotonically
        # non-increasing within an epoch, so min(owner) is the fold
        if (
            prev is None
            or r["last_seen"] > prev[1]
            or (r["last_seen"] == prev[1] and r["doc_id"] < prev[0])
        ):
            final[r["band_key"]] = (r["doc_id"], r["last_seen"])
    return {k: v[0] for k, v in final.items()}


def test_ttl_registry_within_horizon_matches_unbounded(spark, tmp_path):
    """With every arrival inside the retention horizon, the TTL'd band
    registry must assign the SAME owners as the unbounded min-registry —
    eviction cannot fire before last_seen + ttl (VERDICT r5 #6)."""
    from datetime import datetime

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    batches = [
        [("K", 10, t(12)), ("L", 5, t(12))],
        [("J", 77, t(14, 30))],
        [("J", 78, t(15))],
        [("K", 20, t(15, 30))],  # dup of K, 3.5h after the owner
    ]
    owners = _ttl_replay(spark, tmp_path, batches, ttl_seconds=100 * 3600)
    assert owners == {"K": 10, "L": 5, "J": 77}  # identical to groupBy-min


def test_ttl_registry_evicts_past_horizon(spark, tmp_path):
    """Past the horizon the key is forgotten and the next arrival
    re-registers as owner: same replay, 1h TTL — K's state (last seen
    12:00, timeout 13:00) is evicted once the watermark passes 13:00
    (the J batches advance it), so doc 20 re-registers K at 15:30."""
    from datetime import datetime

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    batches = [
        [("K", 10, t(12)), ("L", 5, t(12))],
        [("J", 77, t(14, 30))],  # watermark (for next batch) → 14:30
        [("J", 78, t(15))],      # runs at wm 14:30 > 13:00 → K evicted
        [("K", 20, t(15, 30))],  # K re-registers under the new epoch
    ]
    owners = _ttl_replay(spark, tmp_path, batches, ttl_seconds=3600)
    assert owners["K"] == 20  # unbounded registry would say 10
    assert owners["J"] == 77  # J stayed live throughout — still min()


def test_ttl_registry_late_arrival_detected_not_silent(spark, tmp_path):
    """Rows behind the watermark are dropped BEFORE the stateful update
    (ADVICE r6 #1) — with a lateness bound smaller than the ingest's
    disorder that silently corrupts ownership, so the replay asserts
    numRowsDroppedByWatermark == 0 and must FAIL loudly instead.  The
    late-input filter lags the eviction watermark by ONE batch (the
    12:00 row survives a 15:00 watermark if its batch starts right
    after, but not one batch later — that lag is why the bound must be
    sized to the disorder, never to observed luck).  A delay covering
    the disorder admits the row and restores the unbounded answer."""
    from datetime import datetime

    import pytest

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    batches = [
        [("K", 10, t(15))],      # watermark -> 15:00 after this batch
        [("L", 50, t(15, 10))],  # spacer: late-filter wm now 15:00
        [("K", 2, t(12))],       # 3h late: silently dropped -> detected
    ]
    with pytest.raises(AssertionError, match="watermark dropped"):
        _ttl_replay(spark, tmp_path, batches, ttl_seconds=100 * 3600)
    # a lateness bound covering the disorder admits the row: min re-folds
    owners = _ttl_replay(
        spark, tmp_path, batches, ttl_seconds=100 * 3600,
        watermark_delay="4 hours",
    )
    assert owners == {"K": 2, "L": 50}


def test_ttl_registry_late_row_for_evicted_key_no_crash(spark, tmp_path):
    """The crash window the timeout clamp guards: a row that PASSES the
    (one-batch-lagging) late filter but whose last_seen + ttl is
    already at-or-behind the current eviction watermark.  Without the
    clamp setTimeoutTimestamp throws (timestamps must exceed the
    watermark) and kills the query; clamped, the key registers and
    evicts at the next watermark advance."""
    from datetime import datetime

    t = lambda h, m=0: datetime(2026, 1, 1, h, m)
    batches = [
        [("A", 70, t(10))],       # watermark -> 10:00
        [("B", 80, t(16))],       # watermark -> 16:00; late-filter wm 10:00
        # K@10:30 passes the lagging late filter (>= 10:00) but its
        # timeout 11:30 is far behind the 16:00 eviction watermark
        [("K", 2, t(10, 30))],
        [("C", 90, t(17))],       # advances watermark; K evicts quietly
    ]
    owners = _ttl_replay(spark, tmp_path, batches, ttl_seconds=3600)
    assert owners["K"] == 2   # registered and emitted, not a query crash
    assert owners["A"] == 70 and owners["B"] == 80 and owners["C"] == 90


def test_stateful_last_touch_state_carries_across_batches(spark, tmp_path):
    """A touch in batch 1 must be credited for a purchase in batch 2
    (the whole point of the O(1) carried state), and a purchase with
    no prior touch attributes to 'direct'."""
    import glob
    import os
    import shutil

    from hadoop_formats_spark.streaming import (
        run_available_now,
        stateful_last_touch,
    )

    src = tmp_path / "lt_src"
    src.mkdir()
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    def write_file(rows, name, mtime):
        tmp = str(tmp_path / ("t_" + name))
        spark.createDataFrame(
            rows,
            "event_id bigint, ts string, user_id bigint, "
            "event_type string, value double",
        ).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value",
        ).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    t = "2024-01-01 10:0{}:00"
    # batch 1: user 1 clicks; user 2 purchases cold (direct)
    write_file(
        [
            (1, t.format(0), 1, "click", 0.0),
            (2, t.format(1), 2, "purchase", 5.0),
        ],
        "b1.parquet",
        1_700_000_000,
    )
    # batch 2: user 1 purchases (credit: click from batch 1), then
    # views, then purchases again (credit: view from this batch)
    write_file(
        [
            (3, t.format(2), 1, "purchase", 10.0),
            (4, t.format(3), 1, "view", 0.0),
            (5, t.format(4), 1, "purchase", 20.0),
        ],
        "b2.parquet",
        1_700_000_100,
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = run_available_now(
        stateful_last_touch(stream), spark, output_mode="append",
        state_partitions=2,
    )
    got = {
        (r.user_id, r.channel, r.value) for r in out.collect()
    }
    assert got == {
        (2, "direct", 5.0),
        (1, "click", 10.0),
        (1, "view", 20.0),
    }


def test_stateful_group_stats_carries_and_emits_touched_only(spark, tmp_path):
    """r17 bucketed rewrite pin: a key's running (count, sum) must
    accumulate across micro-batches, and each batch must emit exactly
    the keys that had input in it (a bucket's untouched members stay
    in state but are not re-emitted)."""
    import glob
    import os
    import shutil

    from hadoop_formats_spark.streaming import (
        run_available_now,
        stateful_group_stats,
    )

    src = tmp_path / "gs_src"
    src.mkdir()
    schema = "user_id bigint, value_cents bigint"

    def write_file(rows, name, mtime):
        tmp = str(tmp_path / ("t_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: user 1 twice, user 2 once; batch 2: user 1 again,
    # user 3 new — user 2 must NOT re-emit in batch 2 even though it
    # shares a bucket-keyed state group with active users
    write_file([(1, 10), (1, 20), (2, 5)], "b1.parquet", 1_700_000_000)
    write_file([(1, 30), (3, 7)], "b2.parquet", 1_700_000_100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = run_available_now(
        stateful_group_stats(stream, "user_id", "value_cents"),
        spark,
        output_mode="update",
        state_partitions=2,
    )
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    assert got == {
        (1, 2, 30.0),  # batch 1
        (2, 1, 5.0),  # batch 1
        (1, 3, 60.0),  # batch 2: carried state + new row
        (3, 1, 7.0),  # batch 2
    }


def test_stateful_group_stats_null_key_and_value(spark, tmp_path):
    """count(*) GROUP BY semantics across two micro-batches: the NULL
    key is its own group carried in state, a NULL value counts as an
    event but adds nothing to the sum, and a key that has seen only
    NULL values has a NULL total."""
    import glob
    import os
    import shutil

    from hadoop_formats_spark.streaming import (
        run_available_now,
        stateful_group_stats,
    )

    src = tmp_path / "gs_null_src"
    src.mkdir()
    schema = "user_id bigint, value_cents bigint"

    def write_file(rows, name, mtime):
        tmp = str(tmp_path / ("t_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    write_file([(1, 10), (None, 5), (1, None)], "b1.parquet", 1_700_000_000)
    write_file([(None, 7), (2, None)], "b2.parquet", 1_700_000_100)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = run_available_now(
        stateful_group_stats(stream, "user_id", "value_cents"),
        spark,
        output_mode="update",
        state_partitions=2,
    )
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}
    assert got == {
        (1, 2, 10.0),  # batch 1: the NULL value is counted, not summed
        (None, 1, 5.0),  # batch 1
        (None, 2, 12.0),  # batch 2: the NULL key's state carried over
        (2, 1, None),  # batch 2: no non-NULL value yet
    }


def test_foreach_batch_upsert_idempotent_under_replay(spark, tmp_path):
    # foreachBatch is at-least-once: a FULL replay of every batch
    # (checkpoint wiped, idempotence markers kept) must leave the state
    # table bit-identical — the markers, not the checkpoint, are the
    # exactly-once mechanism
    import shutil

    from pyspark.sql import functions as F

    from hadoop_formats_spark.streaming import (
        foreach_batch_upsert,
        parquet_replay_stream,
    )

    src = str(tmp_path / "src")
    for i in range(3):  # 3 files => 3 micro-batches at 1 file/trigger
        spark.createDataFrame(
            [(f"k{j % 2}", float(i * 10 + j)) for j in range(4)],
            "k string, v double",
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")

    def run():
        foreach_batch_upsert(
            parquet_replay_stream(spark, src, ts_col="none"),
            spark,
            ["k"],
            ["v"],
            state,
        )
        return sorted(
            tuple(r)
            for r in spark.read.parquet(state + "/current").collect()
        )

    first = run()
    batch = sorted(
        tuple(r)
        for r in spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_v"))
        .collect()
    )
    assert first == batch
    # wipe the checkpoint so the stream replays EVERY batch from zero
    shutil.rmtree(state + "/_checkpoint")
    assert run() == first


def _fbu_state(spark, tmp_path, n_files=3):
    # shared fixture: 3 source files => 3 micro-batches; returns
    # (src, state, batch_answer, run) where run() replays and reads state
    import shutil

    from pyspark.sql import functions as F

    from hadoop_formats_spark.streaming import (
        foreach_batch_upsert,
        parquet_replay_stream,
    )

    src = str(tmp_path / "src")
    for i in range(n_files):
        spark.createDataFrame(
            [(f"k{j % 2}", float(i * 10 + j)) for j in range(4)],
            "k string, v double",
        ).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")

    def run():
        foreach_batch_upsert(
            parquet_replay_stream(spark, src, ts_col="none"),
            spark,
            ["k"],
            ["v"],
            state,
        )
        return sorted(
            tuple(r)
            for r in spark.read.parquet(state + "/current").collect()
        )

    batch = sorted(
        tuple(r)
        for r in spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_v"))
        .collect()
    )
    return src, state, batch, run


def test_foreach_batch_upsert_crash_between_swap_renames(spark, tmp_path):
    # Crash window 1: die between rename(cur->old_<id>) and
    # rename(next_<id>->cur).  On disk: no `current`, a fully-written
    # sentineled next_<id>, a stranded old_<id>, NO _done_<id> marker.
    # recover() must promote the sentineled snapshot (NOT rebuild state
    # from the replayed batch alone) and back-fill the marker.
    import os
    import shutil

    src, state, batch, run = _fbu_state(spark, tmp_path)
    assert run() == batch
    last = max(
        int(f.split("_")[-1])
        for f in os.listdir(state)
        if f.startswith("_done_")
    )
    # manufacture the crash state from the healthy end state
    shutil.move(state + "/current", state + f"/next_{last}")
    os.makedirs(state + f"/old_{last}")
    open(state + f"/old_{last}/junk", "w").close()
    os.remove(state + f"/_done_{last}")
    shutil.rmtree(state + "/_checkpoint")  # full replay
    assert run() == batch
    assert not os.path.isdir(state + f"/old_{last}")
    assert not os.path.isdir(state + f"/next_{last}")


def test_foreach_batch_upsert_crash_before_marker(spark, tmp_path):
    # Crash window 2: die between the completed swap and the _done_<id>
    # marker write.  The sentinel inside `current` proves the batch is
    # merged; recovery must back-fill the marker so the replayed batch
    # is NOT merged twice.
    import os
    import shutil

    src, state, batch, run = _fbu_state(spark, tmp_path)
    assert run() == batch
    last = max(
        int(f.split("_")[-1])
        for f in os.listdir(state)
        if f.startswith("_done_")
    )
    assert os.path.exists(state + f"/current/_merged_{last}")
    os.remove(state + f"/_done_{last}")
    shutil.rmtree(state + "/_checkpoint")
    assert run() == batch  # double-merge would inflate sums by batch `last`


def test_foreach_batch_upsert_crash_partial_next(spark, tmp_path):
    # Crash window 0: die mid-write of next_<id> (no sentinel yet).
    # The partial snapshot must be discarded, never promoted.
    import os
    import shutil

    src, state, batch, run = _fbu_state(spark, tmp_path)
    assert run() == batch
    os.makedirs(state + "/next_99")
    open(state + "/next_99/part-00000.parquet", "w").close()  # torn write
    shutil.rmtree(state + "/_checkpoint")
    assert run() == batch
    assert not os.path.isdir(state + "/next_99")


def test_foreach_batch_upsert_all_null_key_batching_invariant(
    spark, tmp_path
):
    # A key whose values are ALL NULL must end at sum 0.0 whether it
    # arrives in one batch or across several (the first-batch branch
    # used to keep NULL; merged-across-batches coalesced to 0.0).
    from hadoop_formats_spark.streaming import (
        foreach_batch_upsert,
        parquet_replay_stream,
    )

    def final_state(path_suffix, files):
        src = str(tmp_path / f"src{path_suffix}")
        for rows in files:
            spark.createDataFrame(
                rows, "k string, v double"
            ).coalesce(1).write.mode("append").parquet(src)
        state = str(tmp_path / f"state{path_suffix}")
        foreach_batch_upsert(
            parquet_replay_stream(spark, src, ts_col="none"),
            spark,
            ["k"],
            ["v"],
            state,
        )
        return {
            r.k: (r.n_events, r.sum_v)
            for r in spark.read.parquet(state + "/current").collect()
        }

    one = final_state("a", [[("n", None), ("n", None), ("x", 1.0)]])
    split = final_state(
        "b", [[("n", None), ("x", 1.0)], [("n", None)]]
    )
    assert one == split == {"n": (2, 0.0), "x": (1, 1.0)}


def test_dedup_within_watermark_expires_state(spark, tmp_path):
    # dropDuplicatesWithinWatermark vs plain dropDuplicates: a
    # duplicate arriving AFTER the watermark passed the first
    # occurrence's horizon is KEPT (state expired); plain
    # dropDuplicates would still drop it.  Batch 2's fresh event
    # advances the watermark far past batch 1 before the batch-3
    # duplicate arrives.
    import datetime as dt

    from pyspark.sql import functions as F

    from hadoop_formats_spark.streaming import (
        parquet_replay_stream,
        run_available_now,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "ev")
    batches = [
        [(1, "k", t0)],                           # first occurrence
        # pushes the watermark to t0+2h, past the key's t0+1h horizon
        [(9, "w", t0 + dt.timedelta(hours=3))],
        # state eviction happens at batch END, so one more batch runs
        # with the advanced watermark to actually expire the key...
        [(9, "w2", t0 + dt.timedelta(hours=3, minutes=10))],
        # ...and only THEN the on-time duplicate finds no state
        [(1, "k", t0 + dt.timedelta(hours=4))],
    ]
    import glob
    import os

    seen = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "user_id int, kind string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        # the file source orders batches by mod time; writes can land in
        # the same clock tick, so stamp strictly increasing times
        new = set(glob.glob(src + "/*.parquet")) - seen
        for f in new:
            os.utime(f, (1700000000 + i * 100, 1700000000 + i * 100))
        seen |= new

    def run(op):
        s = parquet_replay_stream(spark, src).withWatermark("ts", "1 hour")
        dedup = getattr(s, op)(["user_id", "kind"])
        return run_available_now(
            dedup, spark, output_mode="append", state_partitions=2
        ).filter(F.col("kind") == "k").count()

    assert run("dropDuplicatesWithinWatermark") == 2  # state expired -> kept
    assert run("dropDuplicates") == 1  # unbounded state -> dropped


def test_foreach_batch_upsert_crash_matrix(spark, tmp_path, monkeypatch):
    # inject a crash at EVERY os.rename call-site index in turn, each
    # into a FRESH state dir, then resume clean with the checkpoint
    # intact: recovery must converge to the batch answer from any
    # interruption point (the full crash matrix, not just the
    # hand-picked windows of the scenario tests)
    import os as _os

    from pyspark.sql import functions as F

    from hadoop_formats_spark.streaming import (
        foreach_batch_upsert,
        parquet_replay_stream,
    )

    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame(
            [(f"k{j % 2}", float(i * 10 + j)) for j in range(4)],
            "k string, v double",
        ).coalesce(1).write.mode("append").parquet(src)
    batch = sorted(
        tuple(r)
        for r in spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_v"))
        .collect()
    )
    real_rename = _os.rename

    def attempt(state):
        foreach_batch_upsert(
            parquet_replay_stream(spark, src, ts_col="none"),
            spark,
            ["k"],
            ["v"],
            state,
        )

    for crash_at in range(1, 7):
        state = str(tmp_path / f"state_cr{crash_at}")
        calls = {"n": 0}

        def boom(a, b, crash_at=crash_at, calls=calls):
            calls["n"] += 1
            if calls["n"] == crash_at:
                raise OSError(f"injected crash at rename #{crash_at}")
            return real_rename(a, b)

        monkeypatch.setattr(_os, "rename", boom)
        try:
            attempt(state)
            crashed = False
        except Exception:
            crashed = True
        finally:
            monkeypatch.setattr(_os, "rename", real_rename)
        # resume clean (checkpoint intact -> failed batch replays)
        attempt(state)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(state + "/current").collect()
        )
        assert got == batch, (
            f"state diverged after crash at rename #{crash_at} "
            f"(crashed={crashed})"
        )
