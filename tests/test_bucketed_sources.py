"""Bucketed source tables for the J2 location join (sources.tables
write_bucketed/register_bucketed + locations.ways_with_locations_from_refs).

The reference re-joins every way-node ref against the node store on every
run (src/osmcoastline.cpp:276-297); storing nodes and exploded refs
bucket-hashed on node_id removes both join-side shuffles permanently —
the 100 TB lever (production path: Iceberg bucket(N, node_id) transform)."""

import pytest

from osmcoastline_spark.operators.filter import coastline_ways
from osmcoastline_spark.operators.locations import (
    ways_with_locations,
    ways_with_locations_from_refs,
)
from osmcoastline_spark.sources.tables import (
    register_bucketed,
    ways_refs,
    write_bucketed,
)
from osmcoastline_spark.synth import synth_nodes_ways


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("bucketed"))
    nodes, ways = synth_nodes_ways(spark, 200, seed=42)
    write_bucketed(
        nodes.select("node_id", "lon", "lat"), "t_nodes_b", f"{tmp}/nodes_b", buckets=8
    )
    write_bucketed(
        ways_refs(coastline_ways(ways)), "t_refs_b", f"{tmp}/refs_b", buckets=8
    )
    yield tmp, nodes, ways
    spark.sql("DROP TABLE IF EXISTS t_nodes_b")
    spark.sql("DROP TABLE IF EXISTS t_refs_b")


def test_bucketed_join_plan_no_join_exchange(spark, bucketed):
    """With both sides bucketed and broadcast disabled (the planet-scale
    regime), the join plans with NO Exchange and NO Sort — the only shuffle
    in the kernel is the way_id regroup."""
    _tmp, _nodes, _ways = bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_ord = spark.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # sortBy order is only consumed behind this flag since Spark 3.0 (one
    # file per bucket — write_bucketed's repartition guarantees that);
    # without it the join still plans ZERO exchanges, just re-sorts each
    # bucket in memory
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        out = ways_with_locations_from_refs(
            spark.table("t_refs_b"), spark.table("t_nodes_b")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # way_id regroup only
        assert "Sort " not in plan  # sortBy layout: SMJ needs no re-sort
        assert plan.count("Bucketed: true") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", old_ord
        )


def test_bucketed_join_matches_unbucketed(spark, bucketed):
    _tmp, nodes, ways = bucketed
    out = ways_with_locations_from_refs(
        spark.table("t_refs_b"), spark.table("t_nodes_b")
    )
    base = ways_with_locations(coastline_ways(ways), nodes)
    a = {r.way_id: (list(r.node_ids), list(r.xs), list(r.ys)) for r in out.collect()}
    b = {r.way_id: (list(r.node_ids), list(r.xs), list(r.ys)) for r in base.collect()}
    assert a == b and len(a) > 0


def test_register_bucketed_roundtrip(spark, bucketed):
    """A fresh-session catalog re-attach (register_bucketed) preserves the
    bucket metadata: the re-registered table still scans bucketed."""
    tmp, _nodes, _ways = bucketed
    df = register_bucketed(
        spark,
        "t_nodes_b2",
        f"{tmp}/nodes_b",
        "node_id long, lon double, lat double",
        buckets=8,
    )
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "t_nodes_b2" in plan
        n = df.count()
        assert n == spark.table("t_nodes_b").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nodes_b2")


def test_pipeline_runs_from_bucketed_sources(spark, bucketed):
    """run_pipeline(prebucketed=...) produces the same rings/polygons as
    the standard nodes/ways path."""
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline

    _tmp, nodes, ways = bucketed
    opt = Options(output_polygons="land")
    base = run_pipeline(spark, nodes, ways, opt)
    bkt = run_pipeline(
        spark,
        nodes,
        ways,
        opt,
        prebucketed=(spark.table("t_refs_b"), spark.table("t_nodes_b")),
    )
    assert bkt.stats["rings"] == base.stats["rings"]
    assert bkt.stats["ways"] == base.stats["ways"]
    a = {r.poly_id for r in base.tables["land_polygons"].select("poly_id").collect()}
    b = {r.poly_id for r in bkt.tables["land_polygons"].select("poly_id").collect()}
    assert a == b and len(a) > 0


def test_pipeline_bucketed_outputs_bit_identical(spark, bucketed):
    """Round-5 VERDICT #1: the bucketed path is the default-capable path —
    every output table is BIT-identical to the flat path (full rows
    including coordinate arrays, not just id sets), and stats match
    (modulo nothing: same ways count on this fixture)."""
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline

    _tmp, nodes, ways = bucketed
    opt = Options(
        output_polygons="both",
        output_rings=True,
        water_cell_deg=30.0,
        max_points_in_polygon=500,
    )
    base = run_pipeline(spark, nodes, ways, opt)
    bkt = run_pipeline(
        spark,
        nodes,
        ways,
        opt,
        prebucketed=(spark.table("t_refs_b"), spark.table("t_nodes_b")),
    )
    assert base.stats == bkt.stats
    assert base.warnings == bkt.warnings and base.errors == bkt.errors
    assert set(base.tables) == set(bkt.tables)
    for name in base.tables:
        if name in ("meta", "options"):
            continue  # run metadata (wall timestamp, runtime, rss) — not data
        a = base.tables[name]
        cols = a.columns
        rows_a = sorted(map(repr, a.select(*cols).collect()))
        rows_b = sorted(map(repr, bkt.tables[name].select(*cols).collect()))
        assert rows_a == rows_b, f"table {name} differs between paths"
        assert len(rows_a) > 0 or name in ("error_points", "error_lines", "segments")
