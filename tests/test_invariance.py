"""Outputs depend only on inputs and options, not on how Spark partitions
the work: on a small `dirty`-shaped input (crossing rings, figure eights,
duplicate ways, gaps, Antarctica), the crossing and overlap counts, the
error tables and the exit code are the same under several shuffle
partition counts and with adaptive execution off."""

import pytest

from osmcoastline_spark.plans.pipeline import Options, run_pipeline

# the benchmark's `dirty` options
DIRTY_OPTIONS = Options(output_rings=True, output_lines=True, output_polygons="none")

CONFIGS = [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.shuffle.partitions": "64"},
    {"spark.sql.adaptive.enabled": "false"},
]


def _outcome(spark, nodes, ways) -> dict:
    from perfbench.check import digest

    res = run_pipeline(spark, nodes, ways, DIRTY_OPTIONS)
    try:
        return {
            "intersections": res.stats["intersections"],
            "overlaps": res.stats["overlaps"],
            "error_points": digest(res.tables["error_points"])[1],
            "error_lines": digest(res.tables["error_lines"])[1],
            "exit_code": res.exit_code,
        }
    finally:
        res.unpersist()


@pytest.fixture(scope="module")
def dirty_inputs(spark, tmp_path_factory):
    from perfbench.inputs import dirty, write_parquet

    nodes_dir, ways_dir = write_parquet(dirty(7, n_islands=40), str(tmp_path_factory.mktemp("dirty")))
    nodes, ways = spark.read.parquet(nodes_dir), spark.read.parquet(ways_dir)
    base = _outcome(spark, nodes, ways)
    # 3 figure eights and 2 crossing ring pairs; a ring drawn twice and a
    # repeated way
    assert base["intersections"] >= 7 and base["overlaps"] > 0
    return nodes, ways, base


@pytest.mark.parametrize("conf", CONFIGS, ids=lambda c: "-".join(f"{k[10:]}={v}" for k, v in c.items()))
def test_error_outputs_independent_of_partitioning(spark, dirty_inputs, conf):
    nodes, ways, base = dirty_inputs
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        assert _outcome(spark, nodes, ways) == base
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
