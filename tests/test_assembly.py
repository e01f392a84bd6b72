"""Ring assembly (R1) in the reference's pass order — the merge plan from
way node ids, then one location regroup straight into rings — checked
against the locate-then-merge assembly it replaced, kept here as the
reference: every way located into its own arrays first, the plan built
from the located chains, the arrays merged in a second shuffle."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmcoastline_spark import util
from osmcoastline_spark.operators.filter import coastline_ways
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.merge_apply import _merge_catalyst
from osmcoastline_spark.operators.rings import _driver_finish_plan, assemble_rings
from osmcoastline_spark.plans.pipeline import run_pipeline
from osmcoastline_spark.synth import fixture_df, synth_nodes_ways

WAYS = "way_id long, node_ids array<long>"
NODES = "node_id long, lon double, lat double"


def _reference_assemble(ways, nodes, driver_threshold=2_000_000, max_rounds=64):
    """Locate-then-merge assembly: (rings, nmiss)."""
    refs = ways.select("way_id", F.posexplode("node_ids").alias("pos", "node_id"))
    joined = refs.join(
        nodes.select("node_id", "lon", "lat").hint("SHUFFLE_HASH"), "node_id", "left"
    )
    located = (
        joined.groupBy("way_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("lon").isNotNull(), F.struct("pos", "node_id", "lon", "lat"))
                )
            ).alias("pts"),
            F.sum(F.col("lon").isNull().cast("int")).alias("nmiss"),
        )
        .select(
            "way_id",
            F.col("pts.node_id").alias("node_ids"),
            F.col("pts.lon").alias("xs"),
            F.col("pts.lat").alias("ys"),
            "nmiss",
        )
    )
    located, loc_seen = util.materialize(located, nmiss=F.sum("nmiss"))
    chains = located.select(
        F.col("way_id").alias("ring_id"),
        "node_ids",
        "xs",
        "ys",
        F.lit(1).alias("nways"),
        F.lit(False).alias("fixed"),
        F.element_at("node_ids", 1).alias("lead"),
    )
    closed_expr = F.element_at("node_ids", 1) == F.element_at("node_ids", -1)
    closed = chains.filter(closed_expr)
    open_ = chains.filter(~closed_expr)

    ep_cols = ["ring_id", "members", "first_node", "last_node"]
    ep = open_.select(
        "ring_id",
        F.array("ring_id").alias("members"),
        F.element_at("node_ids", 1).alias("first_node"),
        F.element_at("node_ids", -1).alias("last_node"),
    )
    closed_groups: list[DataFrame] = []
    driver_plan = None
    n_known = None
    for rnd in range(max_rounds):
        n_open = n_known if n_known is not None else ep.count()
        if n_open == 0:
            break
        if n_open <= driver_threshold:
            pdf = ep.select("ring_id", "first_node", "last_node").toPandas()
            driver_plan = _driver_finish_plan(
                list(zip(pdf["ring_id"].tolist(), pdf["first_node"].tolist(),
                         pdf["last_node"].tolist()))
            )
            break
        a = ep.withColumn(
            "own_start",
            F.col("ring_id") == F.max("ring_id").over(Window.partitionBy("first_node")),
        ).withColumn(
            "own_end",
            F.col("ring_id") == F.max("ring_id").over(Window.partitionBy("last_node")),
        )
        coin = F.pmod(F.xxhash64(F.col("ring_id"), F.lit(rnd)), F.lit(2))
        heads = a.filter(F.col("own_end")).select(
            *[F.col(c).alias(f"a_{c}") for c in ep_cols], (coin == 0).alias("a_coin")
        )
        tails = a.filter(F.col("own_start")).select(
            *[F.col(c).alias(f"b_{c}") for c in ep_cols], (coin == 1).alias("b_coin")
        )
        mate = F.col("a_coin") & F.col("b_coin")
        pairs_all, seen = util.materialize(
            heads.join(tails, heads.a_last_node == tails.b_first_node).filter(
                F.col("a_ring_id") != F.col("b_ring_id")
            ),
            n_pairs=F.count(F.lit(1)),
            n_mates=F.count_if(mate),
        )
        if seen["n_pairs"] == 0:
            break
        pairs = pairs_all.filter(mate)
        if seen["n_mates"] == 0:
            n_known = n_open
            continue
        merged = pairs.select(
            F.least("a_ring_id", "b_ring_id").alias("ring_id"),
            F.concat("a_members", "b_members").alias("members"),
            F.col("a_first_node").alias("first_node"),
            F.col("b_last_node").alias("last_node"),
        )
        consumed = pairs.select(F.col("a_ring_id").alias("ring_id")).unionAll(
            pairs.select(F.col("b_ring_id").alias("ring_id"))
        )
        ep = ep.join(consumed, "ring_id", "left_anti").select(*ep_cols).unionByName(merged)
        ep, seen = util.materialize(
            ep, n_open=F.count_if(F.col("first_node") != F.col("last_node"))
        )
        n_known = seen["n_open"]
        closed_groups.append(ep.filter(F.col("first_node") == F.col("last_node")))
        ep = ep.filter(F.col("first_node") != F.col("last_node"))

    def groups_to_plan(groups):
        return groups.select(
            F.col("ring_id").alias("group_id"),
            F.posexplode("members").alias("seq2", "member"),
        ).select(
            F.col("member").alias("ring_id"),
            "group_id",
            F.lit(0).alias("seq"),
            "seq2",
            (F.col("seq2") > 0).alias("skip_first"),
        )

    plan_parts = [groups_to_plan(g) for g in closed_groups]
    if driver_plan is not None:
        spark = ways.sparkSession
        repr_plan = spark.createDataFrame(
            pd.DataFrame(driver_plan[0], columns=["repr", "group_id", "seq", "rskip"]),
            "repr long, group_id long, seq int, rskip boolean",
        )
        plan_parts.append(
            ep.select(F.col("ring_id").alias("repr"), "members")
            .join(repr_plan, "repr")
            .select("group_id", "seq", "rskip", F.posexplode("members").alias("seq2", "member"))
            .select(
                F.col("member").alias("ring_id"),
                "group_id",
                "seq",
                "seq2",
                F.when(F.col("seq2") == 0, F.col("rskip")).otherwise(True).alias("skip_first"),
            )
        )
    else:
        plan_parts.append(groups_to_plan(ep))
    plan = plan_parts[0]
    for p in plan_parts[1:]:
        plan = plan.unionByName(p)
    fin = plan.select("group_id").distinct().select(
        "group_id",
        F.lit(False).alias("append_first"),
        F.lit(False).alias("fake_close"),
        F.lit(False).alias("grp_fixed"),
    )
    merged = _merge_catalyst(open_.join(plan, "ring_id").join(fin, "group_id"))
    return closed.unionByName(merged), loc_seen["nmiss"] or 0


def _ring_set(df) -> set:
    return {
        (
            r.ring_id,
            tuple(r.node_ids),
            tuple(x.hex() for x in r.xs),
            tuple(y.hex() for y in r.ys),
            r.nways,
            r.fixed,
            r.lead,
        )
        for r in df.collect()
    }


def _assemble(ways, nodes, **kw):
    closed, open_, seen = assemble_rings(ways, ways_with_locations(ways, nodes), **kw)
    return closed.unionByName(open_), seen


def _frames(spark, inp):
    ways = spark.createDataFrame(inp.ways, "way_id long, node_ids array<long>, tags map<string,string>")
    nodes = spark.createDataFrame(inp.nodes[["node_id", "lon", "lat"]], NODES)
    return coastline_ways(ways).select("way_id", "node_ids"), nodes


def _input(spark, case):
    if case == "dirty":
        from perfbench.inputs import dirty

        return _frames(spark, dirty(42, n_islands=40, star_points=300))
    nodes, ways = synth_nodes_ways(spark, 60, seed=case)
    return coastline_ways(ways).select("way_id", "node_ids"), nodes.select("node_id", "lon", "lat")


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver", "rounds"])
@pytest.mark.parametrize("case", [1, 7, 42, "dirty"])
def test_assembly_equals_locate_then_merge(spark, case, threshold):
    """Exactly the same ring rows as the reference, bit for bit, on the
    synth islands (open rings among them) and on the `dirty` rings:
    repeated ways, chains sharing an endpoint (the max-way-id ownership
    rule), figure eights, the Antarctica arc."""
    ways, nodes = _input(spark, case)
    got, seen = _assemble(ways, nodes, driver_threshold=threshold)
    want, want_nmiss = _reference_assemble(ways, nodes, driver_threshold=threshold)
    assert _ring_set(got) == _ring_set(want)
    assert seen["nmiss"] == want_nmiss == 0
    assert seen["ways"] == ways.count()


@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver", "rounds"])
def test_assembly_edge_ways_equal_reference(spark, threshold):
    """A way with an empty node list (counted in `ways`, in no ring), a
    one-node way (a closed one-point ring), a ring of three ways listed
    out of order and an open two-way chain."""
    nodes = spark.createDataFrame(
        [(n, n * 0.5, (n % 7) * 0.25) for n in range(1, 30)], NODES
    )
    ways = spark.createDataFrame(
        [
            (100, []),
            (101, [9]),
            (104, [3, 4, 1]),
            (102, [1, 2]),
            (103, [2, 3]),
            (110, [20, 21, 22]),
            (111, [22, 23]),
        ],
        WAYS,
    )
    got, seen = _assemble(ways, nodes, driver_threshold=threshold)
    want, _ = _reference_assemble(ways, nodes, driver_threshold=threshold)
    assert _ring_set(got) == _ring_set(want)
    assert seen["ways"] == 7 and seen["nmiss"] == 0
    rings = {r[0]: r for r in _ring_set(got)}
    assert sorted(rings) == [101, 102, 110]
    assert rings[101][1] == (9,)
    assert rings[102][1] == (1, 2, 3, 4, 1) and rings[102][4] == 3


def test_skipped_missing_node_counts_in_nmiss(spark):
    """Node 3 has no location. It is the last node of way 10 and the
    skipped first node of way 11: both refs count, as in the reference,
    and the pipeline stops with the J3 error and the same stats."""
    nodes = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (4, 1.0, 1.0), (5, 0.0, 1.0)], NODES
    )
    ways = spark.createDataFrame([(10, [1, 2, 3]), (11, [3, 4, 5, 1])], WAYS)
    _, seen = _assemble(ways, nodes)
    _, want_nmiss = _reference_assemble(ways, nodes)
    assert seen["nmiss"] == want_nmiss == 2

    pnodes, pways = fixture_df(
        spark,
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (4, 1.0, 1.0), (5, 0.0, 1.0)],
        [(10, [1, 2, 3]), (11, [3, 4, 5, 1])],
    )
    res = run_pipeline(spark, pnodes, pways)
    assert res.stats == {"ways": 2, "missing_locations": 2}
    assert res.errors == 1 and res.exit_code == 2

    # a way with no located node at all assembles into an empty ring; the
    # run still ends with the J3 error, not with an array index error
    pnodes, pways = fixture_df(
        spark,
        [(1, 0.0, 0.0), (2, 1.0, 0.0), (4, 1.0, 1.0), (5, 0.0, 1.0)],
        [(10, [1, 2, 3]), (11, [3, 4, 5, 1]), (12, [7, 8])],
    )
    res = run_pipeline(spark, pnodes, pways)
    assert res.stats == {"ways": 3, "missing_locations": 4}
    assert res.errors == 1 and res.exit_code == 2


def test_assembly_job_count(spark):
    """Endpoint checkpoint, endpoint fetch, and the one location regroup
    (its exchanges and checkpoint): at most 7 Spark jobs."""
    nodes, ways = synth_nodes_ways(spark, 40, seed=7)
    nodes, ways = util.materialize(nodes)[0], util.materialize(coastline_ways(ways))[0]
    tracker = spark.sparkContext.statusTracker()
    group = "test-assembly-jobs"
    spark.sparkContext.setJobGroup(group, "assemble_rings job count")
    try:
        closed, open_, seen = assemble_rings(ways, ways_with_locations(ways, nodes))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert len(tracker.getJobIdsForGroup(group)) <= 7
    assert seen["ways"] > 0 and open_.count() > 0 and closed.count() > 0
