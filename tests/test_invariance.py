"""Outputs depend only on inputs and options, not on how Spark partitions
the work: on a small `dirty`-shaped input (crossing rings, figure eights,
duplicate ways, gaps, Antarctica), the error, ring, line and segment
tables, the stats and the exit code are the same under several shuffle
partition counts, with adaptive execution off and on one core; so are
the land, water, line, segment and error tables and the stats of a small
`islands`-shaped run that splits its polygons. Every Python stage but
the sweep runs one task per core, so one core against four changes how
their rows are grouped into tasks. Both runs also compare the `options`
table and the `meta` table without its wall-clock columns."""

import os
import pickle
import subprocess
import sys
import textwrap

import pytest

from osmcoastline_spark.plans.pipeline import Options, run_pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the benchmark's `dirty` options
DIRTY_OPTIONS = Options(output_rings=True, output_lines=True, output_polygons="none")
DIRTY_TABLES = ("error_points", "error_lines", "rings", "lines", "segments")
# `islands` with lines, and polygons small enough that split runs several
# rounds; water then clips split pieces to their owned boxes
ISLANDS_OPTIONS = Options(output_polygons="both", output_lines=True, max_points_in_polygon=16)
ISLANDS_TABLES = ("land_polygons", "water_polygons", "lines", "segments", "error_points", "error_lines")
# the `meta` columns that measure the run rather than its output
META_WALL_CLOCK = ("timestamp", "runtime", "memory_usage")

CONFIGS = [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.shuffle.partitions": "7"},
    {"spark.sql.shuffle.partitions": "64"},
    {"spark.sql.adaptive.enabled": "false"},
]


def _run_outcome(spark, nodes, ways, options, tables) -> dict:
    """Digests of `tables`, the `options` table and `meta` without its
    wall-clock columns, plus the stats and exit code of one run."""
    from perfbench.check import digest

    res = run_pipeline(spark, nodes, ways, options)
    try:
        frames = {t: res.tables[t] for t in tables}
        frames["options"] = res.tables["options"]
        frames["meta"] = res.tables["meta"].drop(*META_WALL_CLOCK)
        return {
            **{t: digest(df)[1] for t, df in frames.items()},
            "stats": res.stats,
            "exit_code": res.exit_code,
        }
    finally:
        res.unpersist()


def _outcome(spark, nodes, ways) -> dict:
    return _run_outcome(spark, nodes, ways, DIRTY_OPTIONS, DIRTY_TABLES)


@pytest.fixture(scope="module")
def dirty_inputs(spark, tmp_path_factory):
    from perfbench.inputs import dirty, write_parquet

    nodes_dir, ways_dir = write_parquet(dirty(7, n_islands=40), str(tmp_path_factory.mktemp("dirty")))
    nodes, ways = spark.read.parquet(nodes_dir), spark.read.parquet(ways_dir)
    base = _outcome(spark, nodes, ways)
    # 3 figure eights and 2 crossing ring pairs; a ring drawn twice and a
    # repeated way
    assert base["stats"]["intersections"] >= 7 and base["stats"]["overlaps"] > 0
    return nodes, ways, base, (nodes_dir, ways_dir)


@pytest.mark.parametrize("conf", CONFIGS, ids=lambda c: "-".join(f"{k[10:]}={v}" for k, v in c.items()))
def test_error_outputs_independent_of_partitioning(spark, dirty_inputs, conf):
    nodes, ways, base, _dirs = dirty_inputs
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        assert _outcome(spark, nodes, ways) == base
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _islands_outcome(spark, nodes, ways) -> dict:
    return _run_outcome(spark, nodes, ways, ISLANDS_OPTIONS, ISLANDS_TABLES)


@pytest.fixture(scope="module")
def islands_inputs(spark, tmp_path_factory):
    from perfbench.inputs import islands, write_parquet

    # island 0 is a giant ring of hundreds of points, the rest have 4-23
    nodes_dir, ways_dir = write_parquet(islands(7, n_islands=60), str(tmp_path_factory.mktemp("islands")))
    nodes, ways = spark.read.parquet(nodes_dir), spark.read.parquet(ways_dir)
    base = _islands_outcome(spark, nodes, ways)
    s = base["stats"]
    assert s["rings"] == 60 and s["land_polygons_after_split"] > s["land_polygons_before_split"]
    return nodes, ways, base, (nodes_dir, ways_dir)


@pytest.mark.parametrize("conf", CONFIGS, ids=lambda c: "-".join(f"{k[10:]}={v}" for k, v in c.items()))
def test_split_water_lines_independent_of_partitioning(spark, islands_inputs, conf):
    nodes, ways, base, _dirs = islands_inputs
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        assert _islands_outcome(spark, nodes, ways) == base
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def one_core_outcomes(dirty_inputs, islands_inputs, tmp_path_factory):
    """The outcomes of both runs in a local[1] driver of their own (the
    tests' session is local[4]), with the same shuffle partitions."""
    out = tmp_path_factory.mktemp("local1") / "outcomes.pickle"
    script = textwrap.dedent(
        """
        import pickle, sys
        sys.path.insert(0, %r)
        from osmcoastline_spark.session import get_spark
        from tests.test_invariance import _islands_outcome, _outcome

        spark = get_spark("invariance-local1", master="local[1]", shuffle_partitions=8)
        read = spark.read.parquet
        (dn, dw), (inn, iw) = %r, %r
        outcomes = {
            "dirty": _outcome(spark, read(dn), read(dw)),
            "islands": _islands_outcome(spark, read(inn), read(iw)),
        }
        with open(%r, "wb") as f:
            pickle.dump(outcomes, f)
        spark.stop()
        """
        % (ROOT, dirty_inputs[3], islands_inputs[3], str(out))
    )
    run = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=out.parent,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"},
    )
    assert run.returncode == 0 and out.exists(), run.stderr[-3000:]
    with open(out, "rb") as f:
        return pickle.load(f)


def test_error_outputs_same_on_one_core(dirty_inputs, one_core_outcomes):
    assert one_core_outcomes["dirty"] == dirty_inputs[2]


def test_split_water_lines_same_on_one_core(islands_inputs, one_core_outcomes):
    assert one_core_outcomes["islands"] == islands_inputs[2]
