"""R1 — ring assembly as a distributed fixpoint (reference:
src/coastline_ring_collection.cpp:51-118).

The reference chains ways sequentially through two endpoint hash maps. The
equivalent parallel formulation: ways are nodes of a functional graph with an
edge a→b when a.last_node_id == b.first_node_id; rings are the cycles /
chains of that graph. We contract the graph with randomized-mating list
contraction:

  round k: self-join open chains on (last_node == first_node);
           a pair (a,b) merges iff coin_k(a)=0 and coin_k(b)=1, where coin_k
           is a deterministic per-round hash — so ~1/4 of adjacent pairs
           merge per round and no chain participates in two merges at once;
           expected O(log n) rounds, each one equi-join shuffle on endpoint.

Ring id propagation = min(way_id) (reference coastline_ring.hpp:140-144).
Closed ways skip the loop entirely (F4 fast path,
coastline_ring_collection.hpp:82-87). Arrays ride through the shuffles; only
open chains (a tiny, shrinking set at real data quality) re-shuffle.

At 100 TB scale: the loop state is proportional to the number of *open*
chains, not rows; every round localCheckpoints to truncate lineage (the
Iceberg-snapshot-per-round checkpoint in production — see sinks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmcoastline_spark import util


def _closed():
    return F.element_at("node_ids", 1) == F.element_at("node_ids", -1)


def _with_endpoints(df: DataFrame) -> DataFrame:
    return df.withColumn("first_node", F.element_at("node_ids", 1)).withColumn(
        "last_node", F.element_at("node_ids", -1)
    )


def _init_chains(ways_loc: DataFrame) -> DataFrame:
    return ways_loc.select(
        F.col("way_id").alias("ring_id"),
        "node_ids",
        "xs",
        "ys",
        F.lit(1).alias("nways"),
        F.lit(False).alias("fixed"),
        # 'lead' = first node of the min-way-id chain: closed rings are
        # rotated to start here, mirroring the reference's
        # insertion-order ring start (needed for questionable-marking and
        # WKT golden parity).
        F.element_at("node_ids", 1).alias("lead"),
    )


def rotate_closed_to_lead(df: DataFrame) -> DataFrame:
    """Rotate each CLOSED ring (first==last) so node_ids[0] == lead.

    For ring [A,B,C,D,A] with lead C: slice(pos, n-pos) = [C,D] (drops the
    duplicated last vertex), slice(1, pos-1) = [A,B] (the prefix, INCLUDING
    the original first vertex), then re-append the lead → [C,D,A,B,C].
    """
    pos = F.array_position("node_ids", F.col("lead"))
    n = F.size("node_ids")

    def rot(c):
        col = F.col(c)
        return F.when((pos <= 1) | (pos == 0), col).otherwise(
            F.concat(
                F.slice(col, pos.cast("int"), (n - pos).cast("int")),
                F.slice(col, 1, (pos - 1).cast("int")),
                F.array(F.element_at(col, pos.cast("int"))),
            )
        )

    return (
        df.withColumn("_nids", rot("node_ids"))
        .withColumn("_xs", rot("xs"))
        .withColumn("_ys", rot("ys"))
        .drop("node_ids", "xs", "ys")
        .withColumnRenamed("_nids", "node_ids")
        .withColumnRenamed("_xs", "xs")
        .withColumnRenamed("_ys", "ys")
        .select(*df.columns)
    )


def _driver_finish_plan(endpoints: list[tuple[int, int, int]]) -> tuple[list, list]:
    """Sequential chaining over (ring_id, first_node, last_node) tuples —
    a port of the reference's add_partial_ring map juggling
    (src/coastline_ring_collection.cpp:51-118) applied to partially
    assembled chains in ascending ring_id order. Returns (plan, finalize)
    rows for apply_merge_plan. State is O(open chains)."""

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
    ways_loc: DataFrame,
    max_rounds: int = 64,
    driver_threshold: int = 2_000_000,
    assume_materialized: bool = False,
    max_chains_hint: int | None = None,
    observe: dict[str, Column] | None = None,
) -> tuple:
    """Returns (closed_rings, open_rings) with schema
    ring_id, node_ids, xs, ys, nways, fixed, lead.

    `observe` ({name: aggregate Column}) is computed over the merged
    chains (every ring that was open in `ways_loc`, after assembly) in
    the same job as their checkpoint; the call then returns
    (closed_rings, open_rings, {name: value}).

    driver_threshold default (2M, raised from 200k in round 5): the
    sequential finish moves only (ring_id, first, last) triples — ~24
    bytes/chain, so 2M chains is ~58 MB of Arrow transfer plus an
    O(n log n) chain walk. Measured A/B at 2M islands / 2.4M open chains
    (BENCH/run_assembly_knob.py): immediate driver finish 29.8 s / 13
    jobs vs distributed-rounds-first 36.7 s / 77 jobs, outputs
    bit-identical — the distributed mating rounds remain the fallback
    for inputs whose open-chain count exceeds what the driver holds.

    Endpoint-only fixpoint: the coordinate arrays NEVER ride an iterative
    shuffle. The mating rounds operate on (ring_id, members, first_node,
    last_node) rows — a few dozen bytes per open chain — and only the merge
    PLAN accumulates. At fixpoint (or when the open-chain count drops below
    `driver_threshold` and the remaining graph is solved sequentially on
    the driver, exactly like the reference's endpoint-map chaining), the
    plan is applied to the stationary arrays in ONE
    groupBy(group) pass of JVM array concatenation (merge_apply).

    Chain count ∝ coastline ways, never ∝ rows, so the driver step is
    bounded at any data scale; the distributed rounds exist for inputs
    whose way count itself is huge — and they now shuffle O(chains × 32B)
    per round instead of O(total coordinates).

    `max_chains_hint` is an optional TRUE upper bound on the chain count
    (one chain per input way, so the input's way-row count qualifies);
    when it proves the driver finish applies, round 0 skips its count
    job. A hint that is not actually an upper bound risks an oversized
    driver transfer — callers must only pass provable bounds.
    """
    spark = ways_loc.sparkSession
    # one materialization of the location join; everything derives from
    # this checkpoint instead of recomputing the explode+join (skipped when
    # the caller already checkpointed ways_loc — _init_chains is then a
    # cheap projection and a second array write would buy nothing)
    chains = _init_chains(ways_loc)
    if not assume_materialized:
        chains, _ = util.materialize(chains)
    closed = chains.filter(_closed())
    open_ = chains.filter(~_closed())

    # endpoint state: members = original chain ids in concatenation order.
    # NOT checkpointed up front: it is a cheap projection over the chains
    # checkpoint, and the common case (chain count under driver_threshold)
    # reads it exactly twice (count + collect) before the loop exits —
    # cheaper than an eager checkpoint job + write. Each distributed round
    # re-pins it below.
    ep = _with_endpoints(open_).select(
        "ring_id",
        F.array("ring_id").alias("members"),
        "first_node",
        "last_node",
    )
    ep_cols = ["ring_id", "members", "first_node", "last_node"]
    closed_groups: list[DataFrame] = []  # (ring_id, members) closed mid-rounds
    driver_plan = None

    # a caller-supplied TRUE upper bound on the chain count (chains ≤ input
    # way rows, one chain per way) below driver_threshold proves round 0
    # goes straight to the driver finish — skip its count job and decide
    # emptiness from the fetched frame itself (round 6: one less full pass
    # over the chain projection per assembly)
    hint_ok = (
        max_chains_hint is not None and max_chains_hint <= driver_threshold
    )
    n_known = None  # open-chain count of `ep`, when a checkpoint observed it
    for rnd in range(max_rounds):
        if hint_ok and rnd == 0:
            n_open = None
        else:
            n_open = n_known if n_known is not None else ep.count()
            if n_open == 0:
                break
        if n_open is None or n_open <= driver_threshold:
            # Arrow toPandas, not collect(): py4j row materialization is
            # ~10× slower at the default threshold and dominates at a
            # raised one; the bound on this transfer is driver_threshold
            # (or the caller's hint, whichever applies)
            pdf = ep.select("ring_id", "first_node", "last_node").toPandas()
            if len(pdf) == 0:
                break
            eps = list(
                zip(
                    pdf["ring_id"].tolist(),
                    pdf["first_node"].tolist(),
                    pdf["last_node"].tolist(),
                )
            )
            driver_plan = _driver_finish_plan(eps)
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
        pairs_all, seen = util.materialize(
            heads_all.join(
                tails_all, heads_all.a_last_node == tails_all.b_first_node
            ).filter(F.col("a_ring_id") != F.col("b_ring_id")),
            n_pairs=F.count(F.lit(1)),
            n_mates=F.count_if(mate),
        )
        if seen["n_pairs"] == 0:
            break
        pairs = pairs_all.filter(mate)
        if seen["n_mates"] == 0:
            n_known = n_open  # ep is unchanged
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

    from osmcoastline_spark.operators.merge_apply import (
        FIN_SCHEMA,
        apply_merge_plan_df,
    )

    def groups_to_plan(groups: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Pre-merged chain → plan rows: one group per chain, members in
        order, every part after the first drops its shared first node."""
        plan = groups.select(
            F.col("ring_id").alias("group_id"),
            F.posexplode("members").alias("seq2", "member"),
        ).select(
            F.col("member").alias("ring_id"),
            "group_id",
            F.lit(0).alias("seq"),
            "seq2",
            (F.col("seq2") > 0).alias("skip_first"),
        )
        fin = groups.select(
            F.col("ring_id").alias("group_id"),
            F.lit(False).alias("append_first"),
            F.lit(False).alias("fake_close"),
            F.lit(False).alias("grp_fixed"),
        )
        return plan, fin

    plan_parts: list[DataFrame] = []
    fin_parts: list[DataFrame] = []
    for g in closed_groups:
        p, f = groups_to_plan(g)
        plan_parts.append(p)
        fin_parts.append(f)

    if driver_plan is not None:
        # expand the driver plan (over chain representatives) through each
        # chain's member list: outer seq = driver position, inner seq2 =
        # member position; only the very first part keeps its first node.
        # createDataFrame from a pandas frame rides the Arrow serializer
        # (a list of tuples goes through per-row pickle — measured ~0.14 s
        # for 38k plan rows vs ~0.03 s via Arrow at bench sf0.1).
        plan_rows, fin_rows = driver_plan
        import pandas as _pd

        repr_pdf = _pd.DataFrame(plan_rows, columns=["repr", "group_id", "seq", "skip"])
        repr_plan = F.broadcast(
            spark.createDataFrame(
                _pd.DataFrame(
                    {
                        "repr": repr_pdf["repr"].astype("int64"),
                        "group_id": repr_pdf["group_id"].astype("int64"),
                        "seq": repr_pdf["seq"].astype("int32"),
                        "rskip": repr_pdf["skip"].astype("bool"),
                    }
                ),
                "repr long, group_id long, seq int, rskip boolean",
            )
        )
        plan_parts.append(
            ep.select(F.col("ring_id").alias("repr"), "members")
            .join(repr_plan, "repr")
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
        fin_pdf = _pd.DataFrame(
            fin_rows, columns=["group_id", "append_first", "fake_close", "grp_fixed"]
        )
        fin_parts.append(
            spark.createDataFrame(
                _pd.DataFrame(
                    {
                        "group_id": fin_pdf["group_id"].astype("int64"),
                        "append_first": fin_pdf["append_first"].astype("bool"),
                        "fake_close": fin_pdf["fake_close"].astype("bool"),
                        "grp_fixed": fin_pdf["grp_fixed"].astype("bool"),
                    }
                ),
                FIN_SCHEMA,
            )
        )
    else:
        # rounds exhausted or no adjacency left: remaining chains
        # materialize as their own groups (possibly still open)
        p, f = groups_to_plan(ep)
        plan_parts.append(p)
        fin_parts.append(f)

    # plan_parts is never empty: the driver-finish or fallback branch above
    # always contributes one part (possibly zero-row)
    plan_df = plan_parts[0]
    for p in plan_parts[1:]:
        plan_df = plan_df.unionByName(p)
    fin_df = fin_parts[0]
    for f in fin_parts[1:]:
        fin_df = fin_df.unionByName(f)

    # ONE distributed concatenation: arrays move through exactly one shuffle.
    # closed/open are returned as cheap FILTERS over the two checkpoints
    # (chains, merged) — re-checkpointing the union would rewrite every
    # array a second time for no lineage benefit. The plan sides broadcast
    # when the whole plan came from the driver finish (row count bounded by
    # driver_threshold by construction) — that removes both plan-join
    # exchanges, leaving the groupBy regroup as the only shuffle; plans
    # that include distributed-round groups keep the shuffle-hash hint
    # (their size is unbounded).
    bcast = driver_plan is not None and not closed_groups
    merged = apply_merge_plan_df(open_, plan_df, fin_df, broadcast_plan=bcast)
    merged, seen = util.materialize(merged, **(observe or {}))
    closed = closed.unionByName(merged.filter(_closed()))
    open_ = merged.filter(~_closed())
    if observe is not None:
        return closed, open_, seen
    return closed, open_


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
