"""R2 — gap closing: candidate endpoint matching + greedy connection.

Reference: src/coastline_ring_collection.cpp:351-425. The candidate set is
all (open-ring end, open-ring start) pairs with squared-degree distance <
close_distance (default 1.0 — squared, NOT haversine; parity with
src/coastline_ring.cpp:157-164). Greedy matching consumes the shortest
connection first and invalidates connections sharing either endpoint.

Scale split: the *state* of this operator is proportional to the number of
open rings — a data-quality artifact, not a data-volume quantity (planet OSM:
dozens, not millions). So:

  1. endpoints only (ring_id, first/last node id + location) are collected
     to the driver — O(open rings), never coordinate arrays;
  2. the greedy matcher runs as an exact sequential port on that small set
     (greedy matching is inherently order-sensitive; distributing it would
     change results);
  3. the resulting merge *plan* is joined back and the actual coordinate
     array concatenation runs distributed as one groupBy(group) pass of
     JVM array expressions (merge_apply).

Open rings made only of duplicated segments are leftover duplicate-way
artifacts. The reference drops them from closing through its endpoint-map
overwrite (the invalid-duplicate-segments-1 case); here the driver finds
them from the segment sweep's per-ring duplicate counts, collected for
the open rings only, and they pass through the merge unchanged.

If open rings ever exceed `max_driver_endpoints`, we fail loudly rather than
silently OOM the driver.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class _Ring:
    ring_id: int
    first_id: int
    last_id: int
    first_loc: tuple[float, float]
    last_loc: tuple[float, float]
    nways: int
    parts: list = field(default_factory=list)  # [(orig_ring_id, skip_first)]
    append_first: bool = False
    fake_close: bool = False
    fixed: bool = False

    @property
    def closed(self) -> bool:
        return self.first_id == self.last_id


@dataclass
class CloseResult:
    plan: list  # (orig_ring_id, group_id, seq, skip_first)
    finalize: list  # (group_id, append_first, fake_close, fixed)
    error_points: list  # (osm_id, error, x, y)
    error_lines: list  # (osm_id, error, xs, ys)
    fixed_rings: int
    unconnected_nodes: int
    # output ring_ids (min member id per group) of groups that end CLOSED
    # (first_id == last_id after planning) — known exactly on the driver,
    # so downstream passes that only need "which rings changed" can skip
    # re-deriving the set from the merged DataFrame (round-6 optimization)
    closed_group_ids: list = field(default_factory=list)


def plan_close_rings(endpoints: list[dict], max_distance: float) -> CloseResult:
    """Exact sequential port of the reference greedy matcher over ring
    endpoints. `endpoints`: dicts with ring_id, first_id, last_id, fx, fy,
    lx, ly, nways."""
    rings: dict[int, _Ring] = {}
    for e in endpoints:
        r = _Ring(
            ring_id=e["ring_id"],
            first_id=e["first_id"],
            last_id=e["last_id"],
            first_loc=(e["fx"], e["fy"]),
            last_loc=(e["lx"], e["ly"]),
            nways=e["nways"],
        )
        r.parts = [(r.ring_id, False)]
        rings[r.ring_id] = r

    end_nodes: dict[int, _Ring] = {}
    start_nodes: dict[int, _Ring] = {}
    for r in sorted(rings.values(), key=lambda x: x.ring_id):
        start_nodes[r.first_id] = r
        end_nodes[r.last_id] = r

    # Candidate connections — grid-binned instead of the dense n×n matrix
    # (9e8 doubles at 30k open rings ⇒ ~18 s of SERIAL driver time; binning
    # by cells of size sqrt(max_distance) finds the identical candidate set
    # in O(n·k)). Greedy pop order is preserved exactly: ascending
    # (distance, end id, start id) — equal-distance ties resolve to the
    # reference's std::map iteration order (end asc outer, start asc inner).
    import math

    import numpy as np

    eids = sorted(end_nodes)
    sids = sorted(start_nodes)
    conns: list[tuple[float, int, int]] = []
    if eids and sids:
        cell = math.sqrt(max_distance)
        sx = np.array([start_nodes[i].first_loc[0] for i in sids])
        sy = np.array([start_nodes[i].first_loc[1] for i in sids])
        buckets: dict[tuple[int, int], list[int]] = {}
        for j, (x, y) in enumerate(zip(sx, sy)):
            buckets.setdefault((int(x // cell), int(y // cell)), []).append(j)
        for eid in eids:
            ex, ey = end_nodes[eid].last_loc
            cx, cy = int(ex // cell), int(ey // cell)
            js: list[int] = []
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    js.extend(buckets.get((cx + dx, cy + dy), ()))
            if not js:
                continue
            ja = np.asarray(js)
            d2 = (sx[ja] - ex) ** 2 + (sy[ja] - ey) ** 2
            for j, d in zip(ja[d2 < max_distance], d2[d2 < max_distance]):
                conns.append((float(d), eid, sids[int(j)]))
    # shortest at END (popped first); equal distances pop in descending
    # (end, start) — bit-identical to the round-1 stable-sort behavior
    # (the reference's own tie order is unspecified: std::sort on distance)
    conns.sort(key=lambda c: (-c[0], c[1], c[2]))

    error_points: list = []
    error_lines: list = []
    fixed_rings = 0

    # lazy invalidation — exactly the reference's remove_if semantics (every
    # popped connection invalidates later ones sharing its end or start id,
    # applied or not) without the O(k) scan per pop
    used_ends: set[int] = set()
    used_starts: set[int] = set()
    while conns:
        d, end_id, start_id = conns.pop()
        if end_id in used_ends or start_id in used_starts:
            continue
        used_ends.add(end_id)
        used_starts.add(start_id)

        e = end_nodes.get(end_id)
        s = start_nodes.get(start_id)
        if e is None or s is None:
            continue
        fixed_rings += 1
        error_points.append((e.last_id, "fixed_end_point", e.last_loc[0], e.last_loc[1]))
        error_points.append((s.first_id, "fixed_end_point", s.first_loc[0], s.first_loc[1]))
        if e.last_loc != s.first_loc:
            error_lines.append(
                (
                    0,
                    "added_line",
                    [e.last_loc[0], s.first_loc[0]],
                    [e.last_loc[1], s.first_loc[1]],
                )
            )
        e.fixed = True
        if e is s:
            if e.first_loc != e.last_loc:
                e.append_first = True
                e.last_id = e.first_id
                e.last_loc = e.first_loc
            end_nodes.pop(end_id, None)
            start_nodes.pop(start_id, None)
        else:
            skip_first = e.last_loc == s.first_loc
            e.parts.extend((rid, skip_first if i == 0 else sk) for i, (rid, sk) in enumerate(s.parts))
            e.last_id = s.last_id
            e.last_loc = s.last_loc
            e.nways += s.nways
            rings.pop(s.ring_id, None)
            if e.first_loc == e.last_loc:
                error_points.append((e.first_id, "double_node", e.first_loc[0], e.first_loc[1]))
                start_nodes.pop(e.first_id, None)
                end_nodes.pop(end_id, None)
                start_nodes.pop(start_id, None)
                end_nodes.pop(e.last_id, None)
                e.fake_close = True
                e.last_id = e.first_id
            else:
                end_nodes.pop(end_id, None)
                start_nodes.pop(start_id, None)
                end_nodes[e.last_id] = e

    plan = []
    finalize = []
    closed_group_ids = []
    for r in rings.values():
        for seq, (orig, skip) in enumerate(r.parts):
            plan.append((orig, r.ring_id, seq, skip))
        finalize.append((r.ring_id, r.append_first, r.fake_close, r.fixed))
        if r.closed:
            # the merge kernel emits min(member ids) as the output ring_id
            closed_group_ids.append(min(orig for orig, _sk in r.parts))

    return CloseResult(
        plan=plan,
        finalize=finalize,
        error_points=error_points,
        error_lines=error_lines,
        fixed_rings=fixed_rings,
        unconnected_nodes=len(start_nodes) + len(end_nodes),
        closed_group_ids=closed_group_ids,
    )


def close_rings(
    open_rings: DataFrame,
    max_distance: float,
    max_driver_endpoints: int = 1_000_000,
    max_rows: int | None = None,
    ring_duplicates: DataFrame | None = None,
) -> tuple[DataFrame, CloseResult]:
    """Apply R2 to the open rings; returns (rings after closing, CloseResult).

    Output rings keep schema ring_id, node_ids, xs, ys, nways, fixed; rings
    that are now closed have first==last node id.

    `max_rows` is a known upper bound on the rows of `open_rings` (the
    pipeline passes the open-ring count observed at assembly). The
    endpoint collect is checked against `max_driver_endpoints` BEFORE any
    row moves to the driver: a bound within the cap proves the collect
    safe at no cost; otherwise (or with no bound) one bounded probe,
    limit(cap + 1).count(), decides and an input over the cap raises.

    `ring_duplicates` holds (ring_id, ndup) rows as
    `intersections.ring_duplicate_counts` reads them off the segment
    sweep, a ring's count being the sum of its rows; None when the sweep
    found no duplicate segment. Its rows for the collected open rings come
    to the driver in one narrow job, at most one row per open ring and
    slab: the ring ids ride in the filter, as a broadcast frame of them
    would cost a job of its own. An open ring of at least 2 points whose
    every segment is duplicated is an orphan: it stays out of the greedy
    matching, so it adds no error rows and no unconnected nodes, and it
    rides the merge as a one-part group of its own, which leaves it as
    it is.
    """
    if max_rows is None or max_rows > max_driver_endpoints:
        n = open_rings.limit(max_driver_endpoints + 1).count()
        if n > max_driver_endpoints:
            raise RuntimeError(
                f"more than max_driver_endpoints={max_driver_endpoints} open "
                "rings; input data quality is pathological"
            )
    # endpoint-only rows (~60 B/ring), at most the cap checked above
    rows = open_rings.select(
        "ring_id",
        F.element_at("node_ids", 1).alias("first_id"),
        F.element_at("node_ids", -1).alias("last_id"),
        F.element_at("xs", 1).alias("fx"),
        F.element_at("ys", 1).alias("fy"),
        F.element_at("xs", -1).alias("lx"),
        F.element_at("ys", -1).alias("ly"),
        "nways",
        F.size("xs").alias("npoints"),
    ).collect()
    if not rows:
        return open_rings, CloseResult([], [], [], [], 0, 0)

    orphans: set[int] = set()
    if ring_duplicates is not None:
        ndup: Counter = Counter()
        ids = [r["ring_id"] for r in rows]
        for d in ring_duplicates.filter(F.col("ring_id").isin(ids)).collect():
            ndup[d["ring_id"]] += d["ndup"]
        orphans = {
            r["ring_id"]
            for r in rows
            if r["npoints"] >= 2 and ndup[r["ring_id"]] == r["npoints"] - 1
        }
    res = plan_close_rings([r.asDict() for r in rows if r["ring_id"] not in orphans], max_distance)
    for r in sorted(orphans):
        res.plan.append((r, r, 0, False))
        res.finalize.append((r, False, False, False))

    from osmcoastline_spark.operators.merge_apply import apply_merge_plan

    merged = apply_merge_plan(open_rings, res.plan, res.finalize)
    return merged, res
