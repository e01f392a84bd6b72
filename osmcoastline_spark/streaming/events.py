"""Structured Streaming surface.

The reference is batch-only; its only incremental feature is the
segment-diff workflow (S4/S5+J13, man/osmcoastline_segments.md). We expose
that as a streaming-native pipeline: a stream of segment (or event) rows →
watermarked tumbling-window aggregation → append sink. The same windowed
aggregation has a batch twin (`windowed_counts_batch`) used by the DuckDB
oracle — streaming and batch share one logical plan, which is the
Structured Streaming contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _value_micros(col: str = "value"):
    """Per-row exact quantization to integer micro-units: one correctly-
    rounded double multiply, +0.5, floor — bit-identical on Spark, DuckDB
    and numpy (the cluster.quantize_expr idiom). Summing the resulting
    int64s is order-independent, unlike round(sum(double), 6), whose
    float sum is reassociation-dependent across partition orders and
    whose final round differs between engines near a 0.5e-6 boundary."""
    return F.floor(F.col(col) * F.lit(1e6) + F.lit(0.5)).cast("long")


def windowed_counts_batch(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Batch twin of the streaming aggregation: tumbling window via
    floor-division arithmetic (portable to the SQL oracle).

    Bucket on unix_micros, not unix_timestamp: unix_timestamp truncates
    sub-second parts TOWARD ZERO, so a pre-epoch ts like
    1969-12-31 23:59:59.5 would yield 0 and bucket to 1970-01-01 00:00,
    while the streaming twin's F.window (floor semantics) assigns
    1969-12-31 23:00. floor over exact integer micros keeps the twins —
    and the DuckDB oracle's floor(epoch(ts)/w) — aligned on both sides
    of the epoch."""
    sec = minutes * 60
    bucket = F.timestamp_seconds(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(sec * 1_000_000)
        )
        * sec
    )
    return (
        events.groupBy(bucket.alias("window_start"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_value_micros()).alias("total_value_micros"),
        )
    )


def windowed_counts_stream(stream: DataFrame, minutes: int = 60, watermark: str = "2 hours") -> DataFrame:
    """Streaming variant: watermark bounds state for late data."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(_value_micros()).alias("total_value_micros"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n",
            "total_value_micros",
        )
    )


def segment_stream_diff(stream: DataFrame, baseline: DataFrame) -> DataFrame:
    """Streaming change detection: incoming segments not present in the
    baseline snapshot (stream-static anti-join — Spark keeps the static side
    broadcast/fresh per micro-batch)."""
    return stream.join(baseline, ["x1", "y1", "x2", "y2"], "left_anti")


def stream_dedup_first_seen(stream: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Custom stateful operator (north-rule applyInPandasWithState surface):
    exact-dedup over an unbounded document stream — for each content hash,
    emit exactly ONE row (the first-seen doc id); duplicates arriving in
    any later micro-batch are swallowed by the keyed state.

    State per key is a single boolean-sized row, so state size is
    O(distinct hashes) — the streaming twin of dedup_exact's groupBy.
    """
    import pandas as pd

    hashed = stream.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col).alias("doc_id")
    )

    def first_seen(key, pdfs, state):
        if state.exists:
            # hash already emitted in an earlier batch — swallow
            for _ in pdfs:
                pass
            return iter(())
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                best = m if best is None else min(best, m)
        if best is None:
            return iter(())
        state.update((1,))
        return iter([pd.DataFrame({"content_hash": [key[0]], "keep_id": [best]})])

    return hashed.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        outputStructType="content_hash string, keep_id long",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_phash_near_dup(
    stream: DataFrame,
    max_distance: int = 3,
    band_bits: int = 15,
    hash_col: str = "phash",
    id_col: str = "image_id",
) -> DataFrame:
    """Streaming image near-dup detection — the unbounded twin of
    image.phash_near_dup_pairs: the perceptual hash explodes into the
    same multi-index bands; keyed state per (band, key) bucket holds
    every (id, hash) seen in that bucket, and a new arrival emits one
    (a, b, hamming) row per state match within max_distance (banding
    stays lossless for d < n_bands, so the emitted set over a bounded
    prefix equals the batch operator's pairs on the same rows).

    Cross-band duplicate suppression runs IN-OPERATOR — no second
    stateful stage: a pair within distance d can collide on several
    bands, but each band group holds the FULL hashes, so every group
    can compute the pair's first matching band and only that one emits.

    State is O(rows seen) per band — inherent to unbounded near-dup
    (every past image stays matchable); production bounds it with state
    TTL / snapshot-compaction, which this surface leaves to the caller.
    A replayed image id (at-least-once source) is swallowed: the first
    (id, hash) wins, later arrivals of the same id neither match nor
    re-enter state — without this, each replay duplicates every future
    pair emission the batch operator's dropDuplicates would collapse.
    """
    import pandas as pd

    from osmcoastline_spark.functions.dedup import hash_band_structs

    n_bands = 64 // band_bits
    if max_distance >= n_bands:
        raise ValueError(
            f"max_distance {max_distance} needs >= {max_distance + 1} bands; "
            f"band_bits {band_bits} gives {n_bands} — banding would miss pairs"
        )
    mask = (1 << band_bits) - 1
    M64 = (1 << 64) - 1

    bands = stream.select(
        F.col(id_col).alias("img"),
        F.col(hash_col).alias("h"),
        F.explode(hash_band_structs(hash_col, band_bits)).alias("bk"),
    ).select("img", "h", "bk.band", "bk.key")

    def first_band(a: int, b: int) -> int:
        # operate on the unsigned 64-bit pattern — a negative long's
        # Python >> would sign-extend, disagreeing with the Spark-side
        # shiftrightunsigned band keys
        a &= M64
        b &= M64
        for t in range(n_bands):
            if (a >> (t * band_bits)) & mask == (b >> (t * band_bits)) & mask:
                return t
        return -1  # unreachable for rows that met on some band

    def matcher(key, pdfs, state):
        band = int(key[0])
        if state.exists:
            st_ids, st_hashes = state.get
            seen = [(int(i), int(h)) for i, h in zip(st_ids, st_hashes)]
        else:
            seen = []
        seen_ids = {i for i, _ in seen}
        arrivals = []
        for pdf in pdfs:
            arrivals.extend((int(r.img), int(r.h)) for r in pdf.itertuples(index=False))
        arrivals.sort()  # deterministic within-batch order
        out = []
        for i, h in arrivals:
            if i in seen_ids:  # at-least-once replay: first arrival won
                continue
            for j, g in seen:
                # unsigned-pattern xor: bin() on a negative Python int
                # counts the magnitude's bits, not the 64-bit two's-
                # complement pattern (bit-63 hashes would both emit false
                # pairs and miss true ones vs the batch bit_count(xor))
                d = bin((g ^ h) & M64).count("1")
                if d <= max_distance and first_band(g, h) == band:
                    out.append((min(i, j), max(i, j), d))
            seen.append((i, h))
            seen_ids.add(i)
        state.update(([i for i, _ in seen], [h for _, h in seen]))
        if not out:
            return iter(())
        return iter([pd.DataFrame(out, columns=["a", "b", "hamming"])])

    return bands.groupBy("band", "key").applyInPandasWithState(
        matcher,
        outputStructType="a long, b long, hamming int",
        stateStructType="ids array<long>, hashes array<long>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_sessionize(
    stream: DataFrame,
    gap_seconds: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str | None = None,
):
    """Streaming twin of functions.temporal.sessionize: gap-based sessions
    over an unbounded event stream (EventTimeTimeout
    applyInPandasWithState).

    A session is emitted only once the event-time watermark passes
    session_end + gap — never earlier, even when a later event already
    opened the next session inside the same batch. That restraint is what
    makes the operator EXACT under out-of-order arrival: until the
    watermark passes, a late-but-within-watermark event can still land
    inside a session's span, extend it, or bridge two provisional
    sessions into one, so un-closed events stay buffered in state and the
    session walk is recomputed from the buffer each invocation. Emitted
    rows therefore match the batch operator exactly over the events that
    arrived within the watermark (events older than the current watermark
    are dropped, the standard streaming guarantee boundary; the batch
    twin's trailing sessions are the stream's still-open buffer).

    State per key is the un-emitted event buffer plus the running session
    index: O(events inside the watermark horizon) while a key is active —
    the price of exactness with late data — and one integer counter
    forever after (the index must survive session closes so numbering
    stays parity with the batch twin instead of restarting at 1; a
    production deployment that accepts per-burst renumbering can clear
    idle keys with state TTL).

    Output: key, session_idx, start_us, end_us, n_events,
    sum_value_micros. The value sum is per-row quantized to exact int64
    micro-units in the plan (_value_micros) and accumulated as Python
    ints — order-independent, so it matches the batch twin bit-for-bit
    when the batch side applies the same quantization before its
    F.sum (the q_sessionize idiom); a float accumulation here would
    differ from the batch sum in the last ulp depending on arrival
    order. Null-ts rows are dropped; null values count as 0 micros.
    """
    import pandas as pd

    wm = watermark or f"{gap_seconds} seconds"
    # the watermarked event-time column must SURVIVE the projection —
    # EventTimeTimeout requires it to reach the stateful operator.
    # Null-ts rows are dropped in the plan (an event without a time
    # cannot be placed in any session; letting it through would crash
    # the task in the NaN→int64 buffer conversion). The value is
    # per-row quantized to exact int64 micros (_value_micros — the same
    # discipline as the batch oracles) with null→0, which matches the
    # batch twin's null-skipping F.sum for any session that has at
    # least one non-null value (an all-null session sums to 0 here vs
    # NULL in the batch twin — documented divergence).
    ev = (
        stream.withWatermark(ts_col, wm)
        .filter(F.col(ts_col).isNotNull())
        .select(
            F.col(key_col),
            F.col(ts_col),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
            F.coalesce(_value_micros(value_col), F.lit(0).cast("long")).alias(
                "_vus"
            ),
        )
    )
    gap_us = gap_seconds * 1_000_000
    key_type = stream.schema[key_col].dataType.simpleString()

    def upd(key, pdfs, state):
        wm_us = state.getCurrentWatermarkMs() * 1000

        if state.hasTimedOut:
            us_buf, v_buf, idx = state.get
            buf = sorted(zip(us_buf, v_buf))
        else:
            if state.exists:
                us_buf, v_buf, idx = state.get
                buf = list(zip(us_buf, v_buf))
            else:
                buf, idx = [], 0
            for pdf in pdfs:
                if len(pdf):
                    # events older than the watermark are dropped (they may
                    # belong to an already-emitted session; merging them
                    # could never retro-correct an append-mode emission)
                    for us, v in zip(
                        pdf["_us"].astype("int64"), pdf["_vus"].astype("int64")
                    ):
                        if int(us) >= wm_us or wm_us == 0:
                            buf.append((int(us), int(v)))
            buf.sort()
        if not buf:
            return iter(())

        # session walk over the full buffer, then emit the closed PREFIX:
        # session ends are increasing, so the first session with
        # end + gap >= watermark blocks everything after it (a future
        # event could still extend or bridge it)
        sessions = []
        start = end = None
        n, sumv, first_i = 0, 0, 0
        for i, (us, v) in enumerate(buf):
            if start is None:
                start, end, n, sumv, first_i = us, us, 1, v, i
            elif us - end > gap_us:
                sessions.append((start, end, n, sumv, first_i))
                start, end, n, sumv, first_i = us, us, 1, v, i
            else:
                end, n, sumv = us, n + 1, sumv + v
        sessions.append((start, end, n, sumv, first_i))

        out = []
        keep_from = len(buf)
        pending_close_us = None
        for start, end, n, sumv, first_i in sessions:
            if pending_close_us is None and end + gap_us < wm_us:
                idx += 1
                out.append((key[0], idx, start, end, n, sumv))
            elif pending_close_us is None:
                pending_close_us = end + gap_us
                keep_from = first_i
        buf = buf[keep_from:]

        state.update(([u for u, _ in buf], [v for _, v in buf], idx))
        if pending_close_us is not None:
            # fire when the watermark passes the earliest pending close;
            # Spark requires a strictly-future timeout — clamp forward
            state.setTimeoutTimestamp(
                max(pending_close_us // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        # else: buffer drained — state keeps only the index, no timeout
        if not out:
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    out,
                    columns=[
                        key_col, "session_idx", "start_us", "end_us",
                        "n_events", "sum_value_micros",
                    ],
                )
            ]
        )

    return ev.groupBy(key_col).applyInPandasWithState(
        upd,
        outputStructType=(
            f"{key_col} {key_type}, session_idx long, start_us long, "
            "end_us long, n_events long, sum_value_micros long"
        ),
        stateStructType="us array<long>, v array<long>, idx long",
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
