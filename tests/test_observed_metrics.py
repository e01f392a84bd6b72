"""Metrics observed while a frame is materialized (util.materialize, the
sink writes, split's round checkpoints) and the loud-fail and cleanup
contracts that ride on them."""

import os
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from osmcoastline_spark.util import materialize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# job-id delta of one run_pipeline call on synth_nodes_ways(spark, 200,
# seed=42) with the benchmark's `islands` options (local[4], 8 shuffle
# partitions). An upper bound: later reductions pass.
ISLANDS_200_MAX_JOBS = 50


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _frame(spark, n: int):
    # a shuffle below the observation, as in the pipeline's checkpoints
    return (
        spark.range(n)
        .withColumn("g", F.col("id") % 5)
        .groupBy("id")
        .agg(F.sum("g").alias("v"))
    )


@pytest.mark.parametrize("n", [0, 37])
def test_materialize_metrics_equal_separate_actions(spark, n):
    df = _frame(spark, n)
    cp, seen = materialize(
        df,
        rows=F.count(F.lit(1)),
        total=F.sum("v"),
        low=F.min("v"),
        big=F.count_if(F.col("v") > 2),
    )
    want = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("v").alias("total"),
        F.min("v").alias("low"),
        F.count_if(F.col("v") > 2).alias("big"),
    ).first().asDict()
    assert seen == want
    assert seen["rows"] == cp.count() == n
    if n == 0:
        assert seen["low"] is None and seen["total"] is None


def test_materialize_costs_no_extra_job(spark):
    j = _next_job_id(spark)
    _frame(spark, 50).localCheckpoint(eager=True)
    bare = _next_job_id(spark) - j
    j = _next_job_id(spark)
    _cp, seen = materialize(_frame(spark, 50), rows=F.count(F.lit(1)), low=F.min("v"))
    assert _next_job_id(spark) - j == bare
    assert seen["rows"] == 50
    # no metrics: a plain checkpoint
    cp, seen = materialize(_frame(spark, 3))
    assert seen == {} and cp.count() == 3


def test_materialize_observed_count_survives_task_retry(tmp_path):
    """A Python UDF below the observed node fails attempt 0 of partition 0;
    Spark retries it (local[2,2] allows one retry) and the observed count
    must still count every row exactly once."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from pyspark import TaskContext
        from pyspark.sql import functions as F
        from osmcoastline_spark.session import get_spark
        from osmcoastline_spark.util import materialize

        spark = get_spark("retry", master="local[2,2]", shuffle_partitions=3)

        @F.udf("long")
        def flaky(x):
            tc = TaskContext.get()
            if tc.partitionId() == 0 and tc.attemptNumber() == 0:
                raise RuntimeError("injected first-attempt failure")
            return x

        df = spark.range(0, 200, 1, 4).withColumn("y", flaky("id"))
        cp, seen = materialize(df, rows=F.count(F.lit(1)), total=F.sum("y"))
        print("RESULT", seen["rows"], cp.count(), seen["total"], sum(range(200)))
        spark.stop()
        """
        % ROOT
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
    )
    assert "injected first-attempt failure" in out.stderr, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    assert line, out.stderr[-2000:]
    observed, counted, total, want_total = map(int, line[0].split()[1:])
    assert observed == counted == 200
    assert total == want_total


def test_checkpoint_sink_write_counts_without_rereading(spark, tmp_path):
    from osmcoastline_spark.sinks import CheckpointSink

    sink = CheckpointSink(str(tmp_path / "sink"))
    df = spark.range(123).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("env_minx"),
        (F.col("id") % 7).cast("double").alias("env_maxx"),
        (F.col("id") % 3).cast("double").alias("env_miny"),
        (F.col("id") % 3).cast("double").alias("env_maxy"),
    )
    j = _next_job_id(spark)
    n = sink.write("t", df, spatial=True)
    jobs = _next_job_id(spark) - j
    assert n == 123 == sink.read(spark, "t").count()
    assert sink.manifest("t")["rows"] == 123
    # the write itself: no re-read, no count job
    assert jobs == 1


def test_observed_rows_of_a_v2_write(spark):
    """The DataFrameWriterV2 path IcebergSink takes reports the observed
    count (the session catalog stands in for an Iceberg one); a write that
    never runs the observed plan yields None instead of blocking."""
    from osmcoastline_spark.sinks import _counted, _observed_rows

    out, obs = _counted(spark.range(17))
    try:
        out.writeTo("observed_v2_rows").using("parquet").create()
        assert _observed_rows(spark, obs) == 17
    finally:
        spark.sql("DROP TABLE IF EXISTS observed_v2_rows")
    _out, never = _counted(spark.range(3))
    assert _observed_rows(spark, never) is None


def test_close_rings_fails_before_collect(spark, monkeypatch):
    from osmcoastline_spark.operators.close import close_rings

    rows = [
        (i, [10 * i, 10 * i + 1], [float(i), float(i) + 0.5], [0.0, 0.0], 1, False, 10 * i)
        for i in range(1, 6)
    ]
    open_rings = spark.createDataFrame(
        rows,
        "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
        "nways int, fixed boolean, lead long",
    )
    collected = []

    def no_collect(self):
        collected.append(self)
        raise AssertionError("collect() ran before the cap check")

    monkeypatch.setattr(type(open_rings), "collect", no_collect)
    # the observed open-ring count (5) exceeds the cap: one bounded probe
    # decides, and the call raises before any row is collected
    with pytest.raises(RuntimeError, match="max_driver_endpoints=3"):
        close_rings(open_rings, 1.0, max_driver_endpoints=3, max_rows=5)
    # no bound known: the same probe runs
    with pytest.raises(RuntimeError, match="max_driver_endpoints=3"):
        close_rings(open_rings, 1.0, max_driver_endpoints=3)
    assert collected == []


def test_close_rings_bound_within_cap_skips_probe(spark):
    from osmcoastline_spark.operators.close import close_rings

    # two open halves of one square, 0.01 apart: one gap-close merge
    a = (1, [1, 2, 3], [0.0, 1.0, 1.0], [0.0, 0.0, 1.0], 1, False, 1)
    b = (4, [4, 5, 6], [1.0, 0.0, 0.0], [1.01, 1.0, 0.01], 1, False, 4)
    open_rings = spark.createDataFrame(
        [a, b],
        "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
        "nways int, fixed boolean, lead long",
    )
    j = _next_job_id(spark)
    _merged, with_bound = close_rings(open_rings, 0.01, max_rows=2)
    jobs_bound = _next_job_id(spark) - j
    j = _next_job_id(spark)
    _merged, probed = close_rings(open_rings, 0.01)
    jobs_probe = _next_job_id(spark) - j
    assert with_bound.plan == probed.plan and with_bound.fixed_rings == probed.fixed_rings
    assert jobs_bound < jobs_probe


def test_run_pipeline_leaves_no_job_running_on_error(spark, monkeypatch):
    """An error raised while the error-accounting count runs on a driver
    thread must not leave that count running past run_pipeline."""
    from osmcoastline_spark.plans import pipeline
    from osmcoastline_spark.synth import synth_nodes_ways

    sc = spark.sparkContext

    def boom(*args, **kwargs):
        # the accounting count is submitted just before split: fail once
        # its first job is running
        deadline = time.monotonic() + 60
        while not sc.statusTracker().getActiveJobsIds():
            assert time.monotonic() < deadline, "the accounting count never started"
            time.sleep(0.01)
        raise ValueError("split failed")

    monkeypatch.setattr(pipeline, "split_polygons", boom)
    nodes, ways = synth_nodes_ways(spark, 40, seed=3)
    with pytest.raises(ValueError, match="split failed"):
        pipeline.run_pipeline(
            spark,
            nodes,
            ways,
            pipeline.Options(output_polygons="land", max_points_in_polygon=50),
        )
    after = _next_job_id(spark)
    # job-end events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    time.sleep(1)
    assert _next_job_id(spark) == after


def _polys(spark, shells):
    rows = [
        (i, xs, ys, [], [], len(xs), min(xs), min(ys), max(xs), max(ys))
        for i, (xs, ys) in enumerate(shells, 1)
    ]
    return spark.createDataFrame(
        rows,
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, env_maxx double, env_maxy double",
    )


@pytest.mark.parametrize("max_rounds", [48, 1, 0])
def test_split_observations_match_separate_counts(spark, max_rounds):
    from osmcoastline_spark.operators.repair import check_counts
    from osmcoastline_spark.operators.split import split_polygons

    n = 400  # a 1600-vertex square needs two rounds at max_points=60
    side = [i / n for i in range(n)]
    big = (
        side + [1.0] * n + [1.0 - v for v in side] + [0.0] * n + [0.0],
        [0.0] * n + side + [1.0] * n + [1.0 - v for v in side] + [0.0],
    )
    small = ([0.0, 1.0, 1.0, 0.0], [5.0, 5.0, 6.0, 6.0])
    df = _polys(spark, [big, small])
    out, seen = split_polygons(
        df, max_points=60, max_rounds=max_rounds, observe=check_counts("cut_suspect")
    )
    want = out.filter("was_split").agg(
        *[F.sum(c).alias(k) for k, c in check_counts("cut_suspect").items()]
    ).first()
    assert seen["rows_added"] == out.count() - 2
    assert (seen["nb"], seen["ns"]) == (want["nb"] or 0, want["ns"] or 0)
    if max_rounds == 0:
        assert seen["rows_added"] == 0
    else:
        assert seen["rows_added"] > 0


def _square_part(own=None, as_row=False):
    d = {
        "poly_id": 1,
        "shell_x": [0.0, 0.0, 2.0, 2.0, 0.0],
        "shell_y": [0.0, 2.0, 2.0, 0.0, 0.0],
        "holes_x": [],
        "holes_y": [],
    }
    if own is not None:
        d.update(zip(("own_minx", "own_miny", "own_maxx", "own_maxy"), own))
    return Row(**d) if as_row else d


def test_tile_water_clips_row_parts_to_owned_box():
    from osmcoastline_spark.operators.water import tile_water

    tile = (0.0, 0.0, 4.0, 4.0)
    own = (0.0, 0.0, 1.0, 4.0)
    want = tile_water(0, tile, [_square_part(own)], clip_owned=True)
    got = tile_water(0, tile, [_square_part(own, as_row=True)], clip_owned=True)
    assert got == want
    # the owned box cut the 2x2 land square to 1x2
    assert max(max(h) for h in got["holes_x"]) == 1.0
    unclipped = tile_water(0, tile, [_square_part(as_row=True)], clip_owned=False)
    assert max(max(h) for h in unclipped["holes_x"]) == 2.0
    # a part that lacks the owned box under a clipping schema fails loudly
    with pytest.raises((KeyError, ValueError)):
        tile_water(0, tile, [_square_part(as_row=True)], clip_owned=True)
    with pytest.raises(TypeError):
        tile_water(0, tile, [_square_part((None, 0.0, 1.0, 4.0))], clip_owned=True)


def test_islands_job_floor(spark):
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.synth import synth_nodes_ways

    nodes, ways = synth_nodes_ways(spark, 200, seed=42)
    opts = Options(output_polygons="both", water_cell_deg=4.0, max_points_in_polygon=500)
    j = _next_job_id(spark)
    res = run_pipeline(spark, nodes, ways, opts)
    jobs = _next_job_id(spark) - j
    res.unpersist()
    assert res.stats["rings"] == 200
    assert jobs <= ISLANDS_200_MAX_JOBS, jobs
