"""Tests of the benchmark itself: `python3 -m pytest perfbench -q`."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.WORK = tmp_path_factory.mktemp("work")
    s = run.start_spark(2)
    yield s
    run.stop_spark(s)


def _input_digests(spark, dirs, partitions):
    return [check.digest(df.repartition(partitions)) for df in run._read(spark, dirs)]


@pytest.mark.parametrize(
    "workload,kw", [("islands", {"n_islands": 60}), ("dirty", {"n_islands": 60, "star_points": 400})]
)
def test_same_seed_same_inputs_at_two_partition_counts(spark, tmp_path, workload, kw):
    gen = inputs.GENERATORS[workload]
    a = inputs.write_parquet(gen(7, **kw), str(tmp_path / "a"))
    b = inputs.write_parquet(gen(7, **kw), str(tmp_path / "b"))
    assert _input_digests(spark, a, 1) == _input_digests(spark, b, 5)
    c = inputs.write_parquet(gen(8, **kw), str(tmp_path / "c"))
    assert _input_digests(spark, a, 1) != _input_digests(spark, c, 1)


def test_islands_match_synth_nodes_ways(spark, tmp_path):
    from osmcoastline_spark.synth import synth_nodes_ways

    dirs = inputs.write_parquet(inputs.islands(7, n_islands=60), str(tmp_path / "i"))
    assert _input_digests(spark, dirs, 3) == [
        check.digest(df) for df in synth_nodes_ways(spark, 60, seed=7)
    ]


def test_patched_restores_every_attribute():
    targets = list(spans._targets())
    originals = [owner.__dict__[name] for owner, name, _ in targets]
    with pytest.raises(RuntimeError):
        with spans.patched(spans.Tracer(sc=None)):
            for (owner, name, _), orig in zip(targets, originals):
                assert owner.__dict__[name] is not orig
                assert owner.__dict__[name].__wrapped__ is orig
            raise RuntimeError("leave the block by an exception")
    assert [owner.__dict__[name] for owner, name, _ in targets] == originals


def test_traced_and_untraced_runs_agree(spark, tmp_path):
    dirs = inputs.write_parquet(inputs.islands(3, n_islands=40), str(tmp_path / "i"))
    plain = run.run_once(spark, "islands", dirs, run._no_span, "untraced", all_digests=True)
    tracer = spans.Tracer(spark.sparkContext)
    with spans.patched(tracer):
        traced = run.run_once(spark, "islands", dirs, tracer.span, "traced", all_digests=True)
    assert plain.bad == traced.bad == []
    assert plain.outcome == traced.outcome
    jobs = traced.meter.jobs
    assert jobs == plain.meter.jobs > 0
    metrics = tracer.layer_metrics(traced.meter.job0, traced.end_job)
    assert sum(metrics[f"{layer}.jobs"] for layer in spans.SPARK_LAYERS) == jobs
    assert metrics["rings.jobs"] > 0 and metrics["split.jobs"] > 0
    assert metrics["pipeline.self_s"] > 0 and tracer.overhead_s > 0
    names = {s.name for s in tracer.spans}
    assert {"run_pipeline", "assemble_rings", "split_polygons", "water_polygons"} <= names


def test_check_rejects_perturbed_table(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [float(i), i + 0.5], [1.0, 2.0]) for i in range(50)], "poly_id long, xs array<double>, ys array<double>"
    )
    perturbed = df.withColumn(
        "xs", F.when(F.col("poly_id") == 17, F.array(F.lit(17.0), F.lit(17.5 + 1e-9))).otherwise(F.col("xs"))
    )
    reordered = df.repartition(7).orderBy(F.rand(1))

    class Result:
        stats, warnings, errors, exit_code = {"rings": 50}, 0, 0, 0

    pinned = check.outcome(Result, {"land_polygons": check.digest(df)})
    assert check.compare(pinned, check.outcome(Result, {"land_polygons": check.digest(reordered)}), "pin") == []
    bad = check.compare(pinned, check.outcome(Result, {"land_polygons": check.digest(perturbed)}), "pin")
    assert bad and "digests[land_polygons]" in bad[0]


def test_invariants_catch_a_miscounted_gap():
    facts = {"islands": 10, "open_islands": 1, "small_gaps": 2, "large_gaps": 1}
    out = {
        "stats": {"rings_fixed": 3, "unconnected_nodes": 2, "antarctica_closed": True},
        "counts": {"rings": 12, "lines": 4},
    }
    assert check.invariants("dirty", out, facts) == []
    out["stats"]["rings_fixed"] = 2
    assert check.invariants("dirty", out, facts) == ["stats[rings_fixed]=2, generator says 3"]
