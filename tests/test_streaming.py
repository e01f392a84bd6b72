"""Structured Streaming tests: the windowed aggregation runs as a real
stream (memory sink) and agrees with its batch twin."""

import time

from pyspark.sql import functions as F

from osmcoastline_spark.streaming.events import (
    segment_stream_diff,
    windowed_counts_batch,
    windowed_counts_stream,
)


def _events_df(spark):
    rows = [
        (1, "2024-01-01 00:10:00", "click", 1.0),
        (2, "2024-01-01 00:50:00", "click", 2.0),
        (3, "2024-01-01 01:10:00", "view", 3.0),
        (4, "2024-01-01 01:20:00", "click", 4.0),
    ]
    return spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_stream_matches_batch(spark):
    batch = _events_df(spark)
    expected = {
        (r.window_start, r.event_type): (r.n, r.total_value_micros)
        for r in windowed_counts_batch(batch, minutes=60).withColumn(
            "window_start", F.to_timestamp("window_start")
        ).collect()
    }

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "4").load()
        .withColumn("event_id", F.col("value").cast("long"))
        .filter(F.col("event_id") < 4)
        .withColumn("ts", F.expr(
            "CASE value % 4 WHEN 0 THEN timestamp'2024-01-01 00:10:00' "
            "WHEN 1 THEN timestamp'2024-01-01 00:50:00' "
            "WHEN 2 THEN timestamp'2024-01-01 01:10:00' "
            "ELSE timestamp'2024-01-01 01:20:00' END"))
        .withColumn("event_type", F.expr("CASE value % 4 WHEN 2 THEN 'view' ELSE 'click' END"))
        .withColumn("value", F.col("value").cast("double") + 1.0)
    )
    agg = windowed_counts_stream(stream, minutes=60, watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = {}
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM win_agg").collect()
            got = {(r.window_start, r.event_type): (r.n, r.total_value_micros) for r in rows}
            if set(got) == set(expected) and all(got[k][0] == expected[k][0] for k in got):
                break
            time.sleep(1)
        assert set(got) == set(expected), (got, expected)
        for k in expected:
            assert got[k][0] == expected[k][0]
            # int64 micro-sums are exact — equality, no tolerance
            assert got[k][1] == expected[k][1]
    finally:
        q.stop()


def test_segment_stream_diff_plan(spark):
    baseline = spark.createDataFrame(
        [(0.0, 0.0, 1.0, 1.0)], "x1 double, y1 double, x2 double, y2 double"
    )
    incoming = spark.createDataFrame(
        [(0.0, 0.0, 1.0, 1.0), (2.0, 2.0, 3.0, 3.0)],
        "x1 double, y1 double, x2 double, y2 double",
    )
    # batch semantics of the stream-static anti-join
    out = segment_stream_diff(incoming, baseline).collect()
    assert len(out) == 1 and out[0].x1 == 2.0


def test_stream_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates split across MICRO-BATCHES
    still produce exactly one row per content hash (keyed state survives
    between batches); agrees with the batch dedup_exact twin."""
    import json
    import os

    from osmcoastline_spark.functions.dedup import dedup_exact
    from osmcoastline_spark.streaming.events import stream_dedup_first_seen

    src = tmp_path / "docs_in"
    src.mkdir()
    # batch 1: two docs, one duplicate pair within the batch
    with open(src / "b1.json", "w") as f:
        for doc_id, text in [(3, "alpha"), (7, "alpha"), (5, "beta")]:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_dedup_first_seen(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2 arrives later: a cross-batch duplicate + a new doc
        with open(src / "b2.json", "w") as f:
            for doc_id, text in [(9, "alpha"), (2, "gamma")]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        q.processAllAvailable()
        got = {
            r.content_hash: r.keep_id for r in spark.sql("select * from dedup_out").collect()
        }
    finally:
        q.stop()

    batch = spark.createDataFrame(
        [(3, "alpha"), (7, "alpha"), (5, "beta"), (9, "alpha"), (2, "gamma")],
        "doc_id long, text string",
    )
    expected = {r.content_hash: r.keep_id for r in dedup_exact(batch).collect()}
    # stream keeps FIRST-SEEN min id; 'alpha' was first seen in batch 1 via
    # ids {3,7} -> 3 (the batch twin also picks 3 since 3 < 9)
    assert got == expected
    assert len(got) == 3


def test_stream_phash_near_dup(spark, tmp_path):
    """Banded stateful near-dup: pairs split across micro-batches are
    found via keyed band state; a pair colliding on MULTIPLE bands is
    emitted exactly once (first-matching-band suppression); the emitted
    set equals the batch operator on the same rows."""
    import json

    from osmcoastline_spark.functions.image import phash_near_dup_pairs
    from osmcoastline_spark.streaming.events import stream_phash_near_dup

    h = 0x5A5A5A5A5A5A5A
    rows_b1 = [
        (1, h),
        (2, h ^ (1 << 3) ^ (1 << 50)),   # d=2 vs 1, bands {0,3} differ: matches bands 1,2
        (5, 0x3FFFFFFFFFFFFF),
    ]
    rows_b2 = [
        (9, h ^ (1 << 20)),              # d=1 vs 1 (cross-batch), d=3 vs 2
        (11, 0x123456789ABCD),
    ]
    src = tmp_path / "imgs_in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i, ph in rows_b1:
            f.write(json.dumps({"image_id": i, "phash": ph}) + "\n")

    stream = (
        spark.readStream.schema("image_id long, phash long")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_phash_near_dup(stream, max_distance=3)
        .writeStream.format("memory")
        .queryName("phash_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src / "b2.json", "w") as f:
            for i, ph in rows_b2:
                f.write(json.dumps({"image_id": i, "phash": ph}) + "\n")
        q.processAllAvailable()
        got = [
            (r.a, r.b, r.hamming)
            for r in spark.sql("select * from phash_out").collect()
        ]
    finally:
        q.stop()

    batch = spark.createDataFrame(
        rows_b1 + rows_b2, "image_id long, phash long"
    )
    expected = {
        (r.a, r.b, r.hamming)
        for r in phash_near_dup_pairs(batch, max_distance=3).collect()
    }
    assert len(got) == len(set(got)), "multi-band pair emitted more than once"
    assert set(got) == expected
    assert (1, 2, 2) in expected and (1, 9, 1) in expected and (2, 9, 3) in expected


def test_stream_phash_bit63_and_replay(spark, tmp_path):
    """Two review regressions pinned: (1) hashes with bit 63 set (negative
    longs) must use the unsigned 64-bit pattern — signed bin() both
    misses true near-dups and emits false ones; (2) an at-least-once
    replay of an image id must not duplicate future pair emissions."""
    import json

    from osmcoastline_spark.functions.image import phash_near_dup_pairs
    from osmcoastline_spark.streaming.events import stream_phash_near_dup

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows_b1 = [
        (1, signed(0x8000000000000001)),  # bit 63 + bit 0
        (2, signed(0x8000000000000003)),  # true hamming 1 vs id 1
        (3, 0x0000000000000001),          # vs id 1: true hamming 1... bit63 differs -> 1
    ]
    # replay id 1 in batch 2 (same hash), plus a fresh near-dup of id 2
    rows_b2 = [
        (1, signed(0x8000000000000001)),
        (9, signed(0x8000000000000007)),  # hamming 1 vs id 2, 2 vs id 1
    ]
    src = tmp_path / "imgs63_in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i, ph in rows_b1:
            f.write(json.dumps({"image_id": i, "phash": ph}) + "\n")
    stream = (
        spark.readStream.schema("image_id long, phash long")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_phash_near_dup(stream, max_distance=3)
        .writeStream.format("memory")
        .queryName("phash63_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(src / "b2.json", "w") as f:
            for i, ph in rows_b2:
                f.write(json.dumps({"image_id": i, "phash": ph}) + "\n")
        q.processAllAvailable()
        got = [
            (r.a, r.b, r.hamming)
            for r in spark.sql("select * from phash63_out").collect()
        ]
    finally:
        q.stop()

    batch = spark.createDataFrame(
        rows_b1 + [rows_b2[1]], "image_id long, phash long"
    )
    expected = {
        (r.a, r.b, r.hamming)
        for r in phash_near_dup_pairs(batch, max_distance=3).collect()
    }
    assert len(got) == len(set(got)), "replay duplicated an emission"
    assert set(got) == expected
    # the bit-63 pair the signed form missed, and the cross-bit-63 pair
    # (true hamming 2) the signed form would inflate to 62 and drop
    assert (1, 2, 1) in expected
    assert (1, 3, 1) in expected


def test_stream_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions emit only when the
    event-time watermark passes end+gap (never earlier — a late event
    could still bridge an in-batch gap), numbered in time order; results
    equal the batch twin (functions.temporal.sessionize) over the same
    replay."""
    import json

    from osmcoastline_spark.functions.temporal import sessionize
    from osmcoastline_spark.streaming.events import stream_sessionize

    def ev(eid, uid, sec, v):
        return {
            "event_id": eid,
            "user_id": uid,
            "ts": f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}",
            "value": v,
        }

    src = tmp_path / "sess_in"
    src.mkdir()
    # batch 1, user 1: two events 10 s apart, then an in-batch gap of
    # 300 s > 100 s → first session closes inside the batch
    b1 = [ev(1, 1, 0, 1.0), ev(2, 1, 10, 2.0), ev(3, 1, 310, 4.0)]
    with open(src / "b1.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in b1)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_sessionize(stream, gap_seconds=100)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("select * from sess_out").collect()
        # the data batch itself emits nothing (watermark still 0 while it
        # runs — a late event could in principle bridge the in-batch gap),
        # but the trailing no-data micro-batch sees the advanced watermark
        # (310s − 100s = 210s > 10s + 100s) and fires session 1's timeout;
        # session 2's close (410s) is still ahead of the watermark
        assert [
            (r.user_id, r.session_idx, r.n_events, r.sum_value_micros)
            for r in got1
        ] == [(1, 1, 2, 3_000_000)]
        # batch 2: far-future event (another user) advances the watermark
        # to 2900s > 410s → session 2's timeout fires
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps(ev(4, 2, 3000, 8.0)) + "\n")
        q.processAllAvailable()
        # a third batch only nudges user 2's own state; user 1 is done
        with open(src / "b3.json", "w") as f:
            f.write(json.dumps(ev(5, 2, 3010, 16.0)) + "\n")
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.session_idx, r.start_us, r.end_us, r.n_events,
             r.sum_value_micros)
            for r in spark.sql("select * from sess_out").collect()
        )
    finally:
        q.stop()

    # user 1 fully emitted: both sessions; user 2's session still open
    assert [g for g in got if g[0] == 1] == [
        (1, 1, 1704067200000000, 1704067210000000, 2, 3_000_000),
        (1, 2, 1704067510000000, 1704067510000000, 1, 4_000_000),
    ]
    # batch twin agrees on the emitted (closed) sessions
    batch = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", 1.0), (2, 1, "2024-01-01 00:00:10", 2.0),
         (3, 1, "2024-01-01 00:05:10", 4.0)],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts AS timestamp) AS ts", "value")
    twin = sorted(
        (r.user_id, r.session_idx, r.n_events, r.sum_value)
        for r in sessionize(batch, gap_seconds=100).collect()
    )
    assert twin == [(1, 1, 2, 3.0), (1, 2, 1, 4.0)]


def test_stream_sessionize_late_event_splits_sessions(spark, tmp_path):
    """A late-but-within-watermark event that precedes the open session's
    start by more than the gap must form its OWN session (the batch twin
    splits there) — the un-buffered single-open-session formulation
    instead folded it into the open session via min(start, us)."""
    import json

    from osmcoastline_spark.functions.temporal import sessionize
    from osmcoastline_spark.streaming.events import stream_sessionize

    def ev(eid, uid, sec, v):
        return {
            "event_id": eid,
            "user_id": uid,
            "ts": f"2024-01-01 {sec // 3600:02d}:{(sec % 3600) // 60:02d}:{sec % 60:02d}",
            "value": v,
        }

    src = tmp_path / "sess_late"
    src.mkdir()

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_sessionize(stream, gap_seconds=60, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sess_late_out")
        .outputMode("append")
        .start()
    )
    try:
        # incremental write+process pins the arrival order (same-mtime
        # files can be reordered by the file source, which would make the
        # "late" event arrive beyond-watermark and be dropped)
        # b1: user 1 events at 1000s and 1010s open a session
        with open(src / "b1.json", "w") as f:
            f.writelines(
                json.dumps(r) + "\n"
                for r in [ev(1, 1, 1000, 1.0), ev(2, 1, 1010, 2.0)]
            )
        q.processAllAvailable()
        # b2: LATE event at 100s — within the 2h watermark, gap to 1000s
        # is 900s > 60s, so it is a separate (earlier) session
        with open(src / "b2.json", "w") as f:
            f.write(json.dumps(ev(3, 1, 100, 4.0)) + "\n")
        q.processAllAvailable()
        # b3+b4: far-future events advance the watermark past every
        # close, then fire the timeout on the following trigger
        with open(src / "b3.json", "w") as f:
            f.write(json.dumps(ev(4, 2, 20000, 8.0)) + "\n")
        q.processAllAvailable()
        with open(src / "b4.json", "w") as f:
            f.write(json.dumps(ev(5, 2, 20010, 16.0)) + "\n")
        q.processAllAvailable()
        got = sorted(
            (r.user_id, r.session_idx, r.start_us, r.end_us, r.n_events,
             r.sum_value_micros)
            for r in spark.sql("select * from sess_late_out").collect()
            if r.user_id == 1
        )
    finally:
        q.stop()

    T0 = 1704067200000000  # 2024-01-01 00:00:00 UTC in epoch micros
    want = [
        (1, 1, T0 + 100_000_000, T0 + 100_000_000, 1, 4_000_000),
        (1, 2, T0 + 1000_000_000, T0 + 1010_000_000, 2, 3_000_000),
    ]
    assert got == want
    # and the batch twin on the same replay agrees exactly
    batch = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:16:40", 1.0), (2, 1, "2024-01-01 00:16:50", 2.0),
         (3, 1, "2024-01-01 00:01:40", 4.0)],
        "event_id long, user_id long, ts string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts AS timestamp) AS ts", "value")
    twin = sorted(
        (r.user_id, r.session_idx, r.n_events, r.sum_value)
        for r in sessionize(batch, gap_seconds=60).collect()
    )
    assert twin == [(1, 1, 1, 4.0), (1, 2, 2, 3.0)]


def test_stream_sessionize_idx_survives_timeout(spark, tmp_path):
    """Session numbering continues after a timeout-closed session: the
    state keeps the running index when the buffer drains (state.remove()
    would restart the key's next session at 1, colliding with the
    first session in any downstream (key, session_idx) join)."""
    import json

    from osmcoastline_spark.streaming.events import stream_sessionize

    def ev(eid, uid, sec, v):
        return {
            "event_id": eid,
            "user_id": uid,
            "ts": f"2024-01-01 {sec // 3600:02d}:{(sec % 3600) // 60:02d}:{sec % 60:02d}",
            "value": v,
        }

    src = tmp_path / "sess_idx"
    src.mkdir()

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_sessionize(stream, gap_seconds=100)
        .writeStream.format("memory")
        .queryName("sess_idx_out")
        .outputMode("append")
        .start()
    )
    try:
        # incremental writes pin the arrival order (see the late test)
        batches = [
            # session 1 for user 1, closed by watermark advance via user 2
            [ev(1, 1, 0, 1.0)],
            [ev(2, 2, 5000, 1.0)],
            [ev(3, 2, 5010, 1.0)],
            # session 2 for user 1, after its first was fully emitted
            [ev(4, 1, 10000, 2.0)],
            [ev(5, 2, 30000, 1.0)],
            [ev(6, 2, 30010, 1.0)],
        ]
        for i, rows in enumerate(batches):
            with open(src / f"b{i}.json", "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            q.processAllAvailable()
        got = sorted(
            (r.session_idx, r.n_events, r.sum_value_micros)
            for r in spark.sql("select * from sess_idx_out").collect()
            if r.user_id == 1
        )
    finally:
        q.stop()
    assert got == [(1, 1, 1_000_000), (2, 1, 2_000_000)]


def test_windowed_counts_batch_pre_epoch_floor(spark):
    """Pre-epoch sub-second timestamps bucket with FLOOR semantics,
    matching the streaming twin's F.window — a unix_timestamp-based
    bucket truncates toward zero and would put 1969-12-31 23:59:59.5
    into the 1970-01-01 00:00 window instead of 1969-12-31 23:00."""
    batch = spark.createDataFrame(
        [(1, "1969-12-31 23:59:59.5", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = windowed_counts_batch(batch, minutes=60).collect()
    # F.window in batch mode is the ground truth for the streaming twin
    want = batch.select(
        F.window("ts", "60 minutes").start.alias("ws")
    ).collect()[0].ws
    assert len(got) == 1
    assert got[0].window_start == want
    assert str(got[0].window_start) == "1969-12-31 23:00:00"


def test_stream_sessionize_null_ts_and_value_tolerated(spark, tmp_path):
    """A null-ts row is dropped in the plan (it cannot be placed in any
    session) and a null value counts as 0 micros — neither crashes the
    task nor poisons the session sum to NaN."""
    import json

    from osmcoastline_spark.streaming.events import stream_sessionize

    src = tmp_path / "sess_null"
    src.mkdir()
    rows = [
        {"event_id": 1, "user_id": 1, "ts": "2024-01-01 00:00:00", "value": 1.5},
        {"event_id": 2, "user_id": 1, "ts": "2024-01-01 00:00:10", "value": None},
        {"event_id": 3, "user_id": 1, "ts": None, "value": 99.0},
    ]
    with open(src / "b1.json", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = (
        stream_sessionize(stream, gap_seconds=100)
        .writeStream.format("memory")
        .queryName("sess_null_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # far-future event closes user 1's session via watermark advance
        with open(src / "b2.json", "w") as f:
            f.write(
                json.dumps(
                    {"event_id": 4, "user_id": 2,
                     "ts": "2024-01-01 10:00:00", "value": 0.0}
                )
                + "\n"
            )
        q.processAllAvailable()
        with open(src / "b3.json", "w") as f:
            f.write(
                json.dumps(
                    {"event_id": 5, "user_id": 2,
                     "ts": "2024-01-01 10:00:10", "value": 0.0}
                )
                + "\n"
            )
        q.processAllAvailable()
        got = [
            (r.user_id, r.session_idx, r.n_events, r.sum_value_micros)
            for r in spark.sql("select * from sess_null_out").collect()
            if r.user_id == 1
        ]
    finally:
        q.stop()
    # 2 events (the null-ts row dropped), null value adds 0 micros
    assert got == [(1, 1, 2, 1_500_000)]
