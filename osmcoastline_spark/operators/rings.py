"""R1 — ring assembly in the reference's pass order: the merge plan from
node ids first, the locations second (reference src/osmcoastline.cpp:
246-259 assembles rings from way node ids in pass 1,
src/coastline_ring_collection.cpp:51-118; pass 2 scatters node
locations into the ring slots, src/osmcoastline.cpp:276-297).

Pass 1 needs only each way's (way_id, first node, last node). One
checkpoint of those endpoints observes the way count and the open-way
count; closed single ways (F4 fast path,
coastline_ring_collection.hpp:82-87) need no plan at all. The open ways
are chained either sequentially on the driver (`_driver_finish_plan`, a
port of the reference's endpoint-map chaining, when the open count is at
most `driver_threshold`) or by randomized-mating list contraction:

  round k: self-join open chains on (last_node == first_node);
           a pair (a,b) merges iff coin_k(a)=0 and coin_k(b)=1, where coin_k
           is a deterministic per-round hash — so ~1/4 of adjacent pairs
           merge per round and no chain participates in two merges at once;
           expected O(log n) rounds, each one equi-join shuffle on endpoint.

Pass 2 applies the plan where the location join regroups its points:
each located point takes its way's (group, seq, seq2, skip_first) from
the plan and one groupBy(group) collects the ring in order. Coordinate
arrays are built once and never ride a second shuffle.

Ring id = min(way_id) of the group (reference coastline_ring.hpp:140-144).
At 100 TB scale the mating-round state is proportional to the number of
*open* chains, not rows; every round checkpoints to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmcoastline_spark import util
from osmcoastline_spark.operators.merge_apply import rotate_closed_to_lead

# (way → group) rows of an assembly merge plan; `ring_id` is the way id
PLAN_SCHEMA = "ring_id long, group_id long, seq int, seq2 int, skip_first boolean"


def _closed() -> Column:
    """first node == last node; null (neither closed nor open) for an
    empty node list."""
    return F.try_element_at("node_ids", F.lit(1)) == F.try_element_at("node_ids", F.lit(-1))


def _driver_finish_plan(endpoints: list[tuple[int, int, int]]) -> tuple[list, list]:
    """Sequential chaining over (ring_id, first_node, last_node) tuples —
    a port of the reference's add_partial_ring map juggling
    (src/coastline_ring_collection.cpp:51-118) applied to partially
    assembled chains in ascending ring_id order. Returns (plan, finalize)
    rows: (chain id, group id, seq, skip_first) per chain and one
    (group id, False, False, False) per group. State is O(open chains)."""

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
                # per merge, i.e. O(n²) at a raised driver_threshold —
                # the dead flag keeps the whole finish O(n log n)
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
                if end_nodes.get(nxt.last) is nxt:
                    end_nodes.pop(nxt.last, None)
                continue
            start_nodes[nxt.first] = nxt

    plan = []
    finalize = []
    for o in objs:
        if o.dead:
            continue
        gid = min(o.parts)
        for seq, rid in enumerate(o.parts):
            plan.append((rid, gid, seq, seq > 0))
        finalize.append((gid, False, False, False))
    return plan, finalize


def assemble_rings(
    ways: DataFrame,
    points: DataFrame,
    max_rounds: int = 64,
    driver_threshold: int = 2_000_000,
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

    Pass 1 (ids only). The plan is built from one endpoint checkpoint. When
    the open-way count observed there is at most `driver_threshold`, the
    driver chains the (way_id, first, last) triples — ~24 bytes per way,
    ~58 MB of Arrow transfer at 2.4M open ways, plus an O(n log n) walk.
    At 2.4M open chains the immediate driver finish ran 29.8 s / 13 jobs
    against 36.7 s / 77 jobs for distributed rounds first, outputs
    bit-identical (BENCH/BASELINE.md §2c). Otherwise the mating rounds
    contract the endpoint graph, shuffling O(chains × 32 B) per round,
    until the open count drops under the threshold (then the driver
    finishes) or no adjacency is left.

    Pass 2 (locations). Each point takes its way's plan row — (group_id,
    seq, seq2, skip_first); a way with no plan row is its own group — and
    one groupBy(group_id) collects sort_array(collect_list(struct(seq,
    seq2, pos, node_id, lon, lat))), leaving out the pos = 0 point of every
    skip_first part (the node it shares with the part before). That is the
    shuffle the location join pays anyway. The plan joins by broadcast
    when the driver planned every chain (bounded by driver_threshold; a
    LocalRelation when no round ran) and by shuffle hash otherwise; ring
    rows then rotate to their lead like gap-close merges do
    (merge_apply).
    """
    spark = ways.sparkSession
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
    # endpoint state: members = way ids in concatenation order
    ep_cols = ["ring_id", "members", "first_node", "last_node"]
    ep = ends.filter(F.col("first_node") != F.col("last_node")).select(
        "ring_id", F.array("ring_id").alias("members"), "first_node", "last_node"
    )
    n_open = ends_seen["open"]
    closed_groups: list[DataFrame] = []  # (ring_id, members) closed mid-rounds
    driver_plan = None
    rnd = 0
    for rnd in range(max_rounds):
        if n_open <= driver_threshold:
            # Arrow toPandas, not collect(): py4j row materialization is
            # ~10× slower at the default threshold; the observed count
            # bounds this transfer
            eps = []
            if n_open:
                pdf = ep.select("ring_id", "first_node", "last_node").toPandas()
                eps = list(
                    zip(
                        pdf["ring_id"].tolist(),
                        pdf["first_node"].tolist(),
                        pdf["last_node"].tolist(),
                    )
                )
            driver_plan, _ = _driver_finish_plan(eps)
            break
        # Endpoint OWNERSHIP: the reference's endpoint maps are assignments
        # (m_start_nodes[id] = ring, coastline_ring_collection.cpp:59-62),
        # so when bad data makes several chains share an endpoint node id,
        # only the last-inserted (max way id) chain is reachable through it.
        # We replicate that with a per-round max-ring_id window per endpoint
        # — which also makes every (endpoint → chain) match unique.
        a = ep.withColumn(
            "own_start",
            F.col("ring_id") == F.max("ring_id").over(Window.partitionBy("first_node")),
        ).withColumn(
            "own_end",
            F.col("ring_id") == F.max("ring_id").over(Window.partitionBy("last_node")),
        )
        coin = F.pmod(F.xxhash64(F.col("ring_id"), F.lit(rnd)), F.lit(2))
        heads_all = a.filter(F.col("own_end")).select(
            *[F.col(c).alias(f"a_{c}") for c in ep_cols],
            (coin == 0).alias("a_coin"),
        )
        tails_all = a.filter(F.col("own_start")).select(
            *[F.col(c).alias(f"b_{c}") for c in ep_cols],
            (coin == 1).alias("b_coin"),
        )
        mate = F.col("a_coin") & F.col("b_coin")
        pairs_all, pair_seen = util.materialize(
            heads_all.join(
                tails_all, heads_all.a_last_node == tails_all.b_first_node
            ).filter(F.col("a_ring_id") != F.col("b_ring_id")),
            n_pairs=F.count(F.lit(1)),
            n_mates=F.count_if(mate),
        )
        if pair_seen["n_pairs"] == 0:
            break
        if pair_seen["n_mates"] == 0:
            continue  # ep is unchanged; the next round flips other coins
        pairs = pairs_all.filter(mate)
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
        ep, round_seen = util.materialize(
            ep, n_open=F.count_if(F.col("first_node") != F.col("last_node"))
        )
        n_open = round_seen["n_open"]
        closed_groups.append(ep.filter(F.col("first_node") == F.col("last_node")))
        ep = ep.filter(F.col("first_node") != F.col("last_node"))

    def groups_to_plan(groups: DataFrame) -> DataFrame:
        """Pre-merged chain → plan rows: one group per chain, members in
        order, every part after the first drops its shared first node."""
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
    if driver_plan is None:
        # rounds exhausted or no adjacency left: remaining chains
        # materialize as their own groups (possibly still open)
        plan_parts.append(groups_to_plan(ep))
    elif rnd == 0:
        # no round ran: every chain is one way, the driver plan is the plan
        plan_parts.append(
            util.local_frame(
                spark, [(r, g, s, 0, sk) for r, g, s, sk in driver_plan], PLAN_SCHEMA
            )
        )
    else:
        # expand the driver plan (over chain representatives) through each
        # chain's member list: outer seq = driver position, inner seq2 =
        # member position; only the very first part keeps its first node
        repr_plan = util.local_frame(
            spark, driver_plan, "repr long, group_id long, seq int, rskip boolean"
        )
        plan_parts.append(
            ep.select(F.col("ring_id").alias("repr"), "members")
            .join(F.broadcast(repr_plan), "repr")
            .select(
                "group_id",
                "seq",
                "rskip",
                F.posexplode("members").alias("seq2", "member"),
            )
            .select(
                F.col("member").alias("ring_id"),
                "group_id",
                "seq",
                "seq2",
                F.when(F.col("seq2") == 0, F.col("rskip")).otherwise(F.lit(True)).alias(
                    "skip_first"
                ),
            )
        )
    plan = plan_parts[0]
    for p in plan_parts[1:]:
        plan = plan.unionByName(p)
    # a plan that came whole from the driver is bounded by driver_threshold
    # and broadcasts; one that includes distributed-round groups is
    # unbounded (∝ open ways) and joins by shuffle hash, skipping the
    # sort-merge join's sorts of both sides
    plan = plan.withColumnRenamed("ring_id", "way_id")
    if driver_plan is not None and not closed_groups:
        plan = F.broadcast(plan)
    else:
        plan = plan.hint("shuffle_hash")

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
        F.coalesce(F.col("seq2"), F.lit(0)).alias("seq2"),
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
