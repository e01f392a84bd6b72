"""R1 — ring assembly in the reference's pass order: the merge plan from
node ids first, the locations second (reference src/osmcoastline.cpp:
246-259 assembles rings from way node ids in pass 1,
src/coastline_ring_collection.cpp:51-118; pass 2 scatters node
locations into the ring slots, src/osmcoastline.cpp:276-297).

Pass 1 needs only each way's (way_id, first node, last node). One
checkpoint of those endpoints observes the way count and the open-way
count; closed single ways (F4 fast path,
coastline_ring_collection.hpp:82-87) need no plan at all. The driver
chains the open ways (`_driver_finish_plan`, a port of the reference's
endpoint-map chaining), as the reference does on its one node.

Pass 2 applies the plan where the location join regroups its points:
each located point takes its way's (group, seq, skip_first) from the
plan and one groupBy(group) collects the ring in order. Coordinate
arrays are built once and never ride a second shuffle.

Ring id = min(way_id) of the group (reference coastline_ring.hpp:140-144).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import util
from osmcoastline_spark.operators.merge_apply import rotate_closed_to_lead

# (way → group) rows of an assembly merge plan; `ring_id` is the way id
PLAN_SCHEMA = "ring_id long, group_id long, seq int, skip_first boolean"


def _closed() -> Column:
    """first node == last node; null (neither closed nor open) for an
    empty node list."""
    return F.try_element_at("node_ids", F.lit(1)) == F.try_element_at("node_ids", F.lit(-1))


def _driver_finish_plan(endpoints: list[tuple[int, int, int]]) -> list:
    """Sequential chaining over (way_id, first_node, last_node) tuples —
    a port of the reference's add_partial_ring map juggling
    (src/coastline_ring_collection.cpp:51-118), in ascending way_id
    order. Returns the plan rows (way_id, group id, seq, skip_first): the
    group id is the group's minimum way id, seq its position in the chain,
    and every part after the first skips the node it shares with the part
    before. State is O(open ways)."""

    class Obj:
        __slots__ = ("parts", "first", "last", "dead")

        def __init__(self, rid, first, last):
            self.parts = [rid]
            self.first = first
            self.last = last
            self.dead = False

        @property
        def closed(self):
            return self.first == self.last

    start_nodes: dict[int, Obj] = {}
    end_nodes: dict[int, Obj] = {}
    objs: list[Obj] = []

    for rid, first, last in sorted(endpoints):
        prev = end_nodes.get(first)
        nxt = start_nodes.get(last)
        if prev is None and nxt is None:
            o = Obj(rid, first, last)
            objs.append(o)
            start_nodes[first] = o
            end_nodes[last] = o
            continue
        if prev is not None:
            prev.parts.append(rid)
            end_nodes.pop(first, None)
            prev.last = last
            if prev.closed:
                if start_nodes.get(prev.first) is prev:
                    start_nodes.pop(prev.first, None)
                continue
            if nxt is not None and nxt is not prev:
                prev.parts.extend(nxt.parts)
                prev.last = nxt.last
                start_nodes.pop(last, None)
                # tombstone, not list.remove: remove() is O(live objects)
                # per merge, O(n²) over all open ways — the dead flag
                # keeps the whole finish O(n log n)
                nxt.dead = True
                if prev.closed:
                    if start_nodes.get(prev.first) is prev:
                        start_nodes.pop(prev.first, None)
                    # the end_nodes slot at prev.last may still hold the
                    # just-tombstoned nxt (its old entry) — leaving it
                    # would route a later chain into a dead object and
                    # silently drop its ways from the plan
                    if end_nodes.get(prev.last) in (prev, nxt):
                        end_nodes.pop(prev.last, None)
                    continue
            end_nodes[prev.last] = prev
        elif nxt is not None:
            nxt.parts.insert(0, rid)
            start_nodes.pop(last, None)
            nxt.first = first
            if nxt.closed:
                continue
            start_nodes[nxt.first] = nxt

    plan = []
    for o in objs:
        if o.dead:
            continue
        gid = min(o.parts)
        for seq, rid in enumerate(o.parts):
            plan.append((rid, gid, seq, seq > 0))
    return plan


def assemble_rings(
    ways: DataFrame,
    points: DataFrame,
    observe: dict[str, Column] | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """Returns (closed_rings, open_rings, seen): rings with schema
    ring_id, node_ids, xs, ys, nways, fixed, lead, and the values observed
    on the way: `ways` (coastline way rows, empty node lists included) and
    `nmiss` (refs with no node location, J3) plus `observe` ({name:
    aggregate Column}, computed over every assembled ring in the job that
    checkpoints them).

    `ways` are the coastline ways (way_id, node_ids); `points` are their
    located refs (way_id, pos, node_id, lon, lat) as
    locations.ways_with_locations gives them, lon/lat null for a node with
    no location. A ref with no location is left out of its ring.

    Pass 1 (ids only). The plan is built from one endpoint checkpoint: the
    driver fetches the open (way_id, first, last) triples with Arrow
    (~24 bytes per way; the open count observed on the checkpoint bounds
    the transfer) and chains them in an O(n log n) walk. Over 2.4M open
    triples (800k rings of 3 ways) the walk took 14.9 s and raised the
    driver's peak RSS by about 440 MB, 290 MB of it the returned plan
    (best of 2, pure Python on a 4-vCPU host).

    Pass 2 (locations). Each point takes its way's plan row — (group_id,
    seq, skip_first); a way with no plan row is its own group — and one
    groupBy(group_id) collects sort_array(collect_list(struct(seq, pos,
    node_id, lon, lat))), leaving out the pos = 0 point of every
    skip_first part (the node it shares with the part before). That is the
    shuffle the location join pays anyway. The plan is one LocalRelation
    joined by broadcast; ring rows then rotate to their lead like
    gap-close merges do (merge_apply).
    """
    # every coastline way row counts in `ways`; an empty node list has null
    # endpoints and is neither closed nor open (it has no points either)
    ends, ends_seen = util.materialize(
        ways.select(
            F.col("way_id").alias("ring_id"),
            F.try_element_at("node_ids", F.lit(1)).alias("first_node"),
            F.try_element_at("node_ids", F.lit(-1)).alias("last_node"),
        ),
        ways=F.count(F.lit(1)),
        open=F.count_if(F.col("first_node") != F.col("last_node")),
    )
    # Arrow toPandas, not collect(): py4j row materialization is ~10×
    # slower; the observed open count bounds this transfer
    eps = []
    if ends_seen["open"]:
        pdf = (
            ends.filter(F.col("first_node") != F.col("last_node"))
            .select("ring_id", "first_node", "last_node")
            .toPandas()
        )
        eps = list(
            zip(pdf["ring_id"].tolist(), pdf["first_node"].tolist(), pdf["last_node"].tolist())
        )
    plan = util.local_frame(ways.sparkSession, _driver_finish_plan(eps), PLAN_SCHEMA)
    plan = F.broadcast(plan.withColumnRenamed("ring_id", "way_id"))

    rings = _regroup(points.join(plan, "way_id", "left"))
    rings, seen = util.materialize(rings, nmiss=F.sum("nmiss"), **(observe or {}))
    rings = rings.drop("nmiss")
    seen.update(ways=ends_seen["ways"], nmiss=seen["nmiss"] or 0)
    return rings.filter(_closed()), rings.filter(~_closed()), seen


def _regroup(tagged: DataFrame) -> DataFrame:
    """Located points tagged with their plan row (null for a way that is
    its own group) → one ring row per group, rotated to its lead.

    `nmiss` counts every ref with no location, the skipped shared nodes
    among them, so the J3 count stays exact. nways = distinct way ids;
    lead = the first node of the group's minimum way id (the ring start
    of the reference's insertion order, needed for questionable-marking
    and WKT golden parity)."""
    skip = F.coalesce(F.col("skip_first"), F.lit(False)) & (F.col("pos") == 0)
    kept = F.col("lon").isNotNull() & ~skip
    part = F.struct(
        F.coalesce(F.col("seq"), F.lit(0)).alias("seq"),
        "pos",
        "node_id",
        "lon",
        "lat",
    )
    grouped = tagged.groupBy(
        F.coalesce(F.col("group_id"), F.col("way_id")).alias("ring_id")
    ).agg(
        F.sort_array(F.collect_list(F.when(kept, part))).alias("pts"),
        F.size(F.collect_set("way_id")).alias("nways"),
        F.min(F.struct("way_id", "pos", "node_id")).alias("ml"),
        F.sum(F.col("lon").isNull().cast("int")).alias("nmiss"),
    )
    return rotate_closed_to_lead(
        grouped.select(
            "ring_id",
            F.col("pts.node_id").alias("node_ids"),
            F.col("pts.lon").alias("xs"),
            F.col("pts.lat").alias("ys"),
            "nways",
            F.lit(False).alias("fixed"),
            F.col("ml.node_id").alias("lead"),
            "nmiss",
        ),
        keep=("nmiss",),
    )


def route_rings(closed: DataFrame) -> dict[str, DataFrame]:
    """F5 size routing (reference coastline_ring_collection.cpp:176-194):
    npoints>3 ⇒ polygon candidates; ==1 ⇒ single_point_in_ring error point;
    2..3 ⇒ not_a_ring error line+points."""
    with_np = closed.withColumn("npoints", F.size("node_ids"))
    return {
        "polygonizable": with_np.filter(F.col("npoints") > 3),
        "single_point": with_np.filter(F.col("npoints") == 1),
        "not_a_ring": with_np.filter((F.col("npoints") >= 2) & (F.col("npoints") <= 3)),
    }
