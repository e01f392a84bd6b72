"""Ring assembly (R1) in the reference's pass order — the merge plan from
way node ids, then one location regroup straight into rings — checked
against the locate-then-merge assembly it replaced, kept here as the
reference: every way located into its own arrays first, the plan built
from the located chains (by the driver chaining or by randomized-mating
rounds), the arrays merged in a second shuffle. `_driver_finish_plan` is
also checked on its own, without Spark, by a seeded property test."""

from __future__ import annotations

import random

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

# FIXTURES.md F1: one island from two ways
F1_NODES = [
    (100, 1.01, 1.01),
    (101, 1.02, 1.01),
    (102, 1.03, 1.02),
    (103, 1.04, 1.02),
    (104, 1.05, 1.03),
    (105, 1.01, 1.03),
]
F1_WAYS = [(200, [100, 101, 102]), (201, [102, 103, 104, 105, 100])]


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
            pd.DataFrame(driver_plan, columns=["repr", "group_id", "seq", "rskip"]),
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
    # _merge_catalyst orders a group's parts by one seq: fold (seq, seq2)
    plan = plan.select(
        "ring_id",
        "group_id",
        (
            F.row_number().over(Window.partitionBy("group_id").orderBy("seq", "seq2")) - 1
        ).alias("seq"),
        "skip_first",
    )
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
    if case == "f1":
        nodes, ways = fixture_df(spark, F1_NODES, F1_WAYS)
        return coastline_ways(ways).select("way_id", "node_ids"), nodes.select("node_id", "lon", "lat")
    if case == "dirty":
        from perfbench.inputs import dirty

        return _frames(spark, dirty(42, n_islands=40, star_points=300))
    nodes, ways = synth_nodes_ways(spark, 60, seed=case)
    return coastline_ways(ways).select("way_id", "node_ids"), nodes.select("node_id", "lon", "lat")


@pytest.mark.parametrize(
    "case,threshold",
    [
        pytest.param(case, threshold, id=f"{case}-{name}")
        for case in (1, 7, 42, "dirty", "f1")
        for name, threshold in (("driver", 2_000_000), ("rounds", 0))
        # the rounds' max-way-id ownership does not chain repeated ways as
        # the reference's id-order walk does (a way A→B, its reverse B→A
        # and a copy of A→B under a higher id: the walk closes the first
        # two, the rounds the last two), so `dirty` is checked against the
        # driver chaining only
        if (case, name) != ("dirty", "rounds")
    ],
)
def test_assembly_equals_locate_then_merge(spark, case, threshold):
    """Exactly the same ring rows as the reference, bit for bit, whether
    the reference plans by driver chaining or by mating rounds: on the
    synth islands (open rings among them) and the F1 island of two ways;
    and against the driver chaining on the `dirty` rings (repeated ways,
    chains sharing an endpoint, figure eights, the Antarctica arc)."""
    ways, nodes = _input(spark, case)
    got, seen = _assemble(ways, nodes)
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
    got, seen = _assemble(ways, nodes)
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


def _ring_ways(seed: int, *, dirty: bool) -> tuple[list, list]:
    """Open endpoint triples (way_id, first, last) of seeded random rings,
    each cut into 1-5 ways with shuffled way ids, and the way ids of each
    ring. A one-way ring is closed and, as in assemble_rings, not planned.
    `dirty` also drops ways (gaps), repeats ways under new ids and lets a
    ring start at a node of an earlier ring."""
    rng = random.Random(seed)
    rings, cut_nodes, node = [], [], 0
    for _ in range(rng.randint(5, 30)):
        m = rng.randint(3, 12)
        nodes = list(range(node, node + m))
        node += m
        if dirty and cut_nodes and rng.random() < 0.25:
            nodes[0] = rng.choice(rng.choice(cut_nodes))
        cuts = [0, *sorted(rng.sample(range(1, m), rng.randint(0, min(4, m - 1))))]
        ends = [nodes[c] for c in cuts]
        cut_nodes.append(ends)
        ring = [(ends[i], ends[(i + 1) % len(ends)]) for i in range(len(ends))]
        if dirty:
            ring = [w for w in ring if rng.random() > 0.15]
            ring += [w for w in ring if rng.random() < 0.1]
        rings.append(ring)
    n = sum(len(r) for r in rings)
    ids = iter(rng.sample(range(1, 10 * n + 1), n))
    eps, ring_ids = [], []
    for ring in rings:
        tagged = [(next(ids), a, b) for a, b in ring]
        eps += [t for t in tagged if t[1] != t[2]]
        ring_ids.append({t[0] for t in tagged if t[1] != t[2]})
    return eps, ring_ids


def _check_plan(eps: list) -> dict:
    """The plan invariants of _driver_finish_plan; returns {group id:
    way ids in seq order}."""
    plan = _driver_finish_plan(eps)
    ends = {w: (a, b) for w, a, b in eps}
    assert sorted(r[0] for r in plan) == sorted(ends)
    groups: dict[int, list] = {}
    for way, gid, seq, skip in plan:
        groups.setdefault(gid, []).append((seq, way, skip))
    for gid, parts in groups.items():
        parts.sort()
        assert gid == min(w for _, w, _ in parts)
        assert [s for s, _, _ in parts] == list(range(len(parts)))
        assert all(skip == (s > 0) for s, _, skip in parts)
        assert all(ends[a][1] == ends[b][0] for (_, a, _), (_, b, _) in zip(parts, parts[1:]))
    shuffled = list(eps)
    random.Random(len(eps)).shuffle(shuffled)
    assert _driver_finish_plan(shuffled) == plan
    return {gid: [w for _, w, _ in parts] for gid, parts in groups.items()}


@pytest.mark.parametrize("seed", range(20))
def test_driver_finish_plan_properties(seed):
    """Every open way in exactly one plan row, the group id its minimum
    way id, seq 0..k-1 with skip_first exactly when seq > 0, consecutive
    parts sharing their endpoint node, and a plan independent of input
    order: on gaps, repeated ways and rings sharing a node; on clean
    disjoint rings, one closed group per ring of two or more ways."""
    _check_plan(_ring_ways(seed, dirty=True)[0])
    eps, ring_ids = _ring_ways(seed, dirty=False)
    groups = _check_plan(eps)
    ends = {w: (a, b) for w, a, b in eps}
    assert sorted(map(sorted, groups.values())) == sorted(sorted(r) for r in ring_ids if r)
    assert all(ends[ws[0]][0] == ends[ws[-1]][1] for ws in groups.values())


def test_driver_finish_plan_chains_repeated_ways_in_id_order():
    """A way, its reverse and a copy of the way under a higher id (the
    `dirty` workload's repeated ways): the walk in way-id order closes the
    first two into a ring and leaves the copy open, as the reference's
    endpoint maps do."""
    assert _check_plan([(1, 10, 11), (2, 11, 10), (3, 10, 11)]) == {1: [1, 2], 3: [3]}


def test_driver_finish_plan_prepend_closes_a_ring():
    """A prepend that closes a ring, which disjoint rings never reach: way
    3 extends way 2, the chain that took node 10's end-map slot, so way 4
    (10 → 11) finds no chain ending at 10 and closes way 1 from the front.
    (The closing prev+nxt merge with a later chain at the tombstoned end
    is test_milestone1's duplicate-endpoint regression.)"""
    groups = _check_plan([(1, 11, 10), (2, 12, 10), (3, 10, 13), (4, 10, 11)])
    assert groups == {1: [4, 1], 2: [2, 3]}
