"""The batch tumbling-window aggregation behind the bench query
`q_window_agg`: its buckets agree with Spark's own `F.window`."""

from pyspark.sql import functions as F

from osmcoastline_spark.streaming.events import windowed_counts_batch


def test_windowed_counts_batch_pre_epoch_floor(spark):
    """Pre-epoch sub-second timestamps bucket with FLOOR semantics,
    matching `F.window` — a unix_timestamp-based bucket truncates toward
    zero and would put 1969-12-31 23:59:59.5 into the 1970-01-01 00:00
    window instead of 1969-12-31 23:00."""
    batch = spark.createDataFrame(
        [(1, "1969-12-31 23:59:59.5", "click", 1.0)],
        "event_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = windowed_counts_batch(batch, minutes=60).collect()
    # F.window is the floor-semantics ground truth
    want = batch.select(
        F.window("ts", "60 minutes").start.alias("ws")
    ).collect()[0].ws
    assert len(got) == 1
    assert got[0].window_start == want
    assert str(got[0].window_start) == "1969-12-31 23:00:00"
