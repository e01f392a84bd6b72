"""Outputs depend only on inputs and options, not on how Spark partitions
the work: on a small `dirty`-shaped input (crossing rings, figure eights,
duplicate ways, gaps, Antarctica), the error, ring, line and segment
tables, the stats and the exit code are the same under several shuffle
partition counts and with adaptive execution off; so are the land,
water, line, segment and error tables and the stats of a small
`islands`-shaped run that splits its polygons."""

import pytest

from osmcoastline_spark.plans.pipeline import Options, run_pipeline

# the benchmark's `dirty` options
DIRTY_OPTIONS = Options(output_rings=True, output_lines=True, output_polygons="none")
DIRTY_TABLES = ("error_points", "error_lines", "rings", "lines", "segments")
# `islands` with lines, and polygons small enough that split runs several
# rounds; water then clips split pieces to their owned boxes
ISLANDS_OPTIONS = Options(output_polygons="both", output_lines=True, max_points_in_polygon=16)
ISLANDS_TABLES = ("land_polygons", "water_polygons", "lines", "segments", "error_points", "error_lines")

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
            **{t: digest(res.tables[t])[1] for t in DIRTY_TABLES},
            "stats": res.stats,
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
    assert base["stats"]["intersections"] >= 7 and base["stats"]["overlaps"] > 0
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


def _islands_outcome(spark, nodes, ways) -> dict:
    from perfbench.check import digest

    res = run_pipeline(spark, nodes, ways, ISLANDS_OPTIONS)
    try:
        return {
            **{t: digest(res.tables[t])[1] for t in ISLANDS_TABLES},
            "stats": res.stats,
            "exit_code": res.exit_code,
        }
    finally:
        res.unpersist()


@pytest.fixture(scope="module")
def islands_inputs(spark, tmp_path_factory):
    from perfbench.inputs import islands, write_parquet

    # island 0 is a giant ring of hundreds of points, the rest have 4-23
    nodes_dir, ways_dir = write_parquet(islands(7, n_islands=60), str(tmp_path_factory.mktemp("islands")))
    nodes, ways = spark.read.parquet(nodes_dir), spark.read.parquet(ways_dir)
    base = _islands_outcome(spark, nodes, ways)
    s = base["stats"]
    assert s["rings"] == 60 and s["land_polygons_after_split"] > s["land_polygons_before_split"]
    return nodes, ways, base


@pytest.mark.parametrize("conf", CONFIGS, ids=lambda c: "-".join(f"{k[10:]}={v}" for k, v in c.items()))
def test_split_water_lines_independent_of_partitioning(spark, islands_inputs, conf):
    nodes, ways, base = islands_inputs
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        assert _islands_outcome(spark, nodes, ways) == base
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
