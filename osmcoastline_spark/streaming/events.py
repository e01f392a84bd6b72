"""Tumbling-window event aggregation in batch.

This is the aggregation behind the bench query `q_window_agg`. No
streaming plan remains: the reference is batch-only, and the Structured
Streaming twins went with the families they mirrored. The bucket uses
floor semantics, so it agrees with Spark's `F.window` (the ground truth
its test checks) and with the DuckDB oracle's `floor(epoch(ts)/w)` on
both sides of the epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _value_micros(col: str = "value"):
    """Per-row exact quantization to integer micro-units: one correctly-
    rounded double multiply, +0.5, floor — bit-identical on Spark, DuckDB
    and numpy. Summing the resulting int64s is order-independent, unlike
    round(sum(double), 6), whose float sum is reassociation-dependent
    across partition orders and whose final round differs between
    engines near a 0.5e-6 boundary."""
    return F.floor(F.col(col) * F.lit(1e6) + F.lit(0.5)).cast("long")


def windowed_counts_batch(events: DataFrame, minutes: int = 60) -> DataFrame:
    """Per (window_start, event_type): event count and the int64 sum of
    micro-quantized values, over tumbling windows of `minutes`.

    Bucket on unix_micros, not unix_timestamp: unix_timestamp truncates
    sub-second parts TOWARD ZERO, so a pre-epoch ts like
    1969-12-31 23:59:59.5 would yield 0 and bucket to 1970-01-01 00:00,
    while `F.window` (floor semantics) assigns 1969-12-31 23:00. floor
    over exact integer micros matches `F.window` and the DuckDB oracle's
    floor(epoch(ts)/w) on both sides of the epoch."""
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
