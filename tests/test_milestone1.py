"""Milestone 1: valid-island-from-two-ways end-to-end
(port of /root/reference/test/t/valid-island-from-two-ways.sh, golden from
FIXTURES.md F1)."""

from osmcoastline_spark import geom
from osmcoastline_spark.operators.filter import coastline_ways, tagged_node_errors
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.polygonize import fix_direction, polygonize
from osmcoastline_spark.operators.rings import assemble_rings, route_rings
from osmcoastline_spark.synth import fixture_df

F1_NODES = [
    (100, 1.01, 1.01),
    (101, 1.02, 1.01),
    (102, 1.03, 1.02),
    (103, 1.04, 1.02),
    (104, 1.05, 1.03),
    (105, 1.01, 1.03),
]
F1_WAYS = [
    (200, [100, 101, 102]),
    (201, [102, 103, 104, 105, 100]),
]

GOLDEN = "POLYGON((1.01 1.01, 1.01 1.03, 1.05 1.03, 1.04 1.02, 1.03 1.02, 1.02 1.01, 1.01 1.01))"


def test_island_from_two_ways(spark):
    nodes, ways = fixture_df(spark, F1_NODES, F1_WAYS)
    ways = coastline_ways(ways)
    assert tagged_node_errors(nodes).count() == 0
    closed, open_, seen = assemble_rings(ways, ways_with_locations(ways, nodes))
    assert seen["nmiss"] == 0 and seen["ways"] == 2
    assert open_.count() == 0
    rows = closed.collect()
    assert len(rows) == 1
    ring = rows[0]
    assert ring.ring_id == 200  # min way id
    assert ring.nways == 2
    assert len(ring.node_ids) == 7  # 6 nodes + closing repeat

    routed = route_rings(closed)
    pres = polygonize(routed["polygonizable"])
    assert pres.invalid_count == 0
    polys, direrr = fix_direction(pres.polygons)
    assert direrr.count() == 0
    p = polys.collect()
    assert len(p) == 1
    # reference starts the ring at the first-inserted way's first node; our
    # ring start is deterministic-but-different, so compare rotation- and
    # orientation-canonically (same convention the reference tests rely on
    # after their 3857 round-trip).
    got = geom.wkt_polygon(p[0].shell_x, p[0].shell_y)
    golden_xs = [1.01, 1.01, 1.05, 1.04, 1.03, 1.02]
    golden_ys = [1.01, 1.03, 1.03, 1.02, 1.02, 1.01]
    assert geom.canonical_ring(p[0].shell_x, p[0].shell_y) == geom.canonical_ring(
        golden_xs, golden_ys
    ), got
    # shell must be clockwise (GIS land convention after reversal)
    assert geom.is_clockwise(p[0].shell_x, p[0].shell_y)


def test_closed_single_way_fast_path(spark):
    nodes, ways = fixture_df(
        spark,
        [(100, 1.0, 1.0), (101, 1.1, 1.0), (102, 1.1, 1.1), (103, 1.0, 1.1)],
        [(200, [100, 101, 102, 103, 100])],
    )
    ways = coastline_ways(ways)
    closed, open_, _ = assemble_rings(ways, ways_with_locations(ways, nodes))
    assert closed.count() == 1 and open_.count() == 0


def test_bogus_coastline_excluded(spark):
    nodes, ways = fixture_df(
        spark,
        [(100, 1.0, 1.0), (101, 1.1, 1.0)],
        [
            (200, [100, 101], {"natural": "coastline", "coastline": "bogus"}),
            (201, [100, 101], {"highway": "road"}),
        ],
    )
    assert coastline_ways(ways).count() == 0


def test_rotate_closed_to_lead_catalyst_path(spark):
    """Regression (round-2 advice): rotating [A,B,C,D,A] to lead C through
    the Catalyst expressions must yield [C,D,A,B,C] — the original first
    vertex must survive and the lead must not duplicate."""
    from osmcoastline_spark.operators.rings import rotate_closed_to_lead

    df = spark.createDataFrame(
        [(7, [10, 20, 30, 40, 10], [1.0, 2.0, 3.0, 4.0, 1.0],
          [9.0, 8.0, 7.0, 6.0, 9.0], 1, False, 30)],
        "ring_id long, node_ids array<long>, xs array<double>, "
        "ys array<double>, nways int, fixed boolean, lead long",
    )
    r = rotate_closed_to_lead(df).collect()[0]
    assert r.node_ids == [30, 40, 10, 20, 30]
    assert r.xs == [3.0, 4.0, 1.0, 2.0, 3.0]
    assert r.ys == [7.0, 6.0, 9.0, 8.0, 7.0]


def test_fake_close_preserves_gap_vertex(spark):
    """A fake-closed ring aliases only the last node ID; its distinct last
    COORDINATE is real gap geometry and must survive the merge (no lead
    rotation on coordinate-open rings)."""
    from osmcoastline_spark.operators.merge_apply import apply_merge_plan

    open_rings = spark.createDataFrame(
        [(5, [50, 60, 70], [0.0, 1.0, 2.0], [0.0, 0.5, 0.9], 1, False, 50)],
        "ring_id long, node_ids array<long>, xs array<double>, "
        "ys array<double>, nways int, fixed boolean, lead long",
    )
    merged = apply_merge_plan(
        open_rings,
        [(5, 5, 0, False)],
        [(5, False, True, True)],  # fake_close
    ).collect()[0]
    assert merged.node_ids == [50, 60, 50]  # last id aliased
    assert merged.xs == [0.0, 1.0, 2.0]  # last coordinate NOT touched
    assert merged.ys == [0.0, 0.5, 0.9]


def test_driver_finish_plan_property_random_fragments():
    """Pure-python property check of _driver_finish_plan after the round-5
    tombstone rewrite (list.remove was O(n^2) at a raised threshold): for
    random rings fragmented into chains with shuffled ids, every closed
    ring must come out as exactly one group containing all its fragments,
    and no tombstoned (merged-away) object may leak into the plan."""
    import random

    from osmcoastline_spark.operators.rings import _driver_finish_plan

    rng = random.Random(1234)
    for trial in range(25):
        endpoints = []
        want_groups = []
        next_node = 1
        next_rid = 1
        for ring in range(rng.randint(1, 40)):
            k = rng.randint(1, 6)
            ring_nodes = list(range(next_node, next_node + k))
            next_node += k
            closed = rng.random() < 0.7
            rids = []
            for i in range(k if closed or k > 1 else 1):
                first = ring_nodes[i]
                last = ring_nodes[(i + 1) % k] if (closed or i + 1 < k) else -next_node
                if not closed and i == k - 1:
                    last = -ring_nodes[0] - 10_000_000  # dangling end
                endpoints.append((next_rid, first, last))
                rids.append(next_rid)
                next_rid += 1
            want_groups.append((frozenset(rids), closed))
        rng.shuffle(endpoints)
        plan = _driver_finish_plan(endpoints)
        # every input chain appears in the plan exactly once
        assert sorted(r for r, _, _, _ in plan) == sorted(r for r, _, _ in endpoints)
        groups = {}
        for rid, gid, seq, _ in plan:
            groups.setdefault(gid, set()).add(rid)
        got = {frozenset(v) for v in groups.values()}
        # each ring's fragments end up in one group (closed rings always;
        # open rings may stay split only at genuinely unmatched endpoints)
        for want, closed in want_groups:
            covering = [g for g in got if g & want]
            assert set().union(*covering) >= want
            if closed:
                assert covering == [want]


def test_driver_finish_plan_no_chain_lost_at_duplicate_endpoints():
    """Regression (round-5 self-review): when a both-sided merge closes a
    ring, the end_nodes map could keep pointing at the tombstoned object;
    a later chain attaching at that node was appended to the dead object
    and silently vanished from the plan. Every input chain must appear in
    the plan exactly once, whatever the (bad-data) endpoint sharing."""
    from osmcoastline_spark.operators.rings import _driver_finish_plan

    K, W, X, Y, M = 100, 200, 300, 400, 500
    endpoints = [(1, K, X), (2, K, W), (3, W, K), (4, Y, K), (5, X, Y), (6, K, M)]
    plan = _driver_finish_plan(endpoints)
    assert sorted(r for r, _, _, _ in plan) == [1, 2, 3, 4, 5, 6]
