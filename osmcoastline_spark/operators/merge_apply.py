"""Distributed application of a chain-merge plan.

Ring assembly's mating rounds, its driver-finish phase, and gap closing (R2)
all reduce to the same shape: a merge plan — (ring_id → group, seq, seq2,
skip_first) plus per-group finalize actions — computed from ENDPOINTS only,
applied to the coordinate arrays in ONE groupBy(group_id) pass of JVM array
expressions. The plan is O(open chains); the arrays never ride an iterative
shuffle.

`seq`/`seq2` order parts within a group lexicographically: `seq` is the
outer position assigned by the planner (driver chain order), `seq2` the
inner position for chains that were pre-merged during the distributed
mating rounds (member order within the pre-merged chain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

RING_SCHEMA = (
    "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
    "nways int, fixed boolean, lead long"
)

PLAN_SCHEMA = "ring_id long, group_id long, seq int, seq2 int, skip_first boolean"
FIN_SCHEMA = "group_id long, append_first boolean, fake_close boolean, grp_fixed boolean"


def apply_merge_plan(
    spark: SparkSession,
    open_rings: DataFrame,
    plan: list[tuple],  # (ring_id, group_id, seq, skip_first)
    finalize: list[tuple],  # (group_id, append_first, fake_close, grp_fixed)
) -> DataFrame:
    """List-based wrapper (driver-computed plans: gap closing, small-input
    assembly finish). The plan is tiny — both joins broadcast."""
    plan_df = spark.createDataFrame(
        [(r, g, s, 0, sk) for r, g, s, sk in plan], PLAN_SCHEMA
    )
    fin_df = spark.createDataFrame(finalize, FIN_SCHEMA)
    return apply_merge_plan_df(open_rings, plan_df, fin_df, broadcast_plan=True)


def apply_merge_plan_df(
    open_rings: DataFrame,
    plan_df: DataFrame,  # PLAN_SCHEMA columns
    fin_df: DataFrame,  # FIN_SCHEMA columns
    broadcast_plan: bool = False,
) -> DataFrame:
    """Concatenate ring parts per group, ordered by (seq, seq2); rotate rings
    that closed so they start at the min-way chain's lead node.

    The concatenation/rotation runs as pure JVM array expressions —
    flatten/slice/concat move longs and doubles without any arithmetic, so
    the output is bit-identical to the original per-part Python merge
    (kept in tests/test_merge_apply.py as the reference) while skipping
    the Arrow round-trip and the per-part Python loop (measured round 6:
    2.0 s → ~0.7 s for the 38.5k part / 8.6k group merge at bench sf0.1).

    Precondition shared by every planner (rings.groups_to_plan, the
    driver-finish expansion, close.plan_close_rings): the FIRST part of a
    group in (seq, seq2) order always has skip_first=false — this form
    drops the first element of every skip_first part
    position-independently, which the Python reference only does once the
    accumulated array is non-empty (equivalent under the precondition;
    pinned by test_merge_apply_engines_agree).
    """
    from pyspark.sql import functions as F

    if broadcast_plan:
        plan_df = F.broadcast(plan_df)
        fin_df = F.broadcast(fin_df)
    else:
        # plan rows ∝ open chains — usually broadcastable, but NEVER risk
        # the planner flipping the join and broadcasting the coordinate-
        # array side (its post-checkpoint size statistics are unreliable;
        # observed driver OOM at 1.6M islands). Force a shuffle hash join.
        plan_df = plan_df.hint("shuffle_hash")
        fin_df = fin_df.hint("shuffle_hash")
    # One shuffle: the groupBy(group_id). Aggregate parts per group JVM-side,
    # then merge the aggregated rows with Catalyst array expressions.
    tagged = open_rings.join(plan_df, "ring_id").join(fin_df, "group_id")
    return _merge_catalyst(tagged)


def _merge_catalyst(tagged: DataFrame) -> DataFrame:
    """JVM-side merge: flatten + slice/concat + conditional rotation.

    Exactly mirrors the Python reference merge's per-group logic; every
    step is pure array restructuring over longs/doubles (zero float
    arithmetic), so bit-equality with it holds by construction.

    Zero interpreted higher-order functions (round-6 follow-up: the first
    cut spent ~1 s of the bench merge in interpreted per-part lambdas):
    the skip_first trim happens BEFORE the collect as a codegen IF/slice
    per input row; nways/fixed/min-rid/lead fold into the aggregate
    itself (sum / bool_or / min(struct)); and the concatenation extracts
    the collected struct fields (`parts.t_ids`, a codegen GetArrayStruct-
    Fields) and flattens the resulting array-of-arrays — every remaining
    expression is a per-GROUP built-in over the assembled arrays.
    """
    from pyspark.sql import functions as F

    trimmed = tagged.selectExpr(
        "group_id",
        "append_first",
        "fake_close",
        "grp_fixed",
        "seq",
        "seq2",
        "nways",
        "fixed",
        "ring_id",
        "lead",
        "IF(skip_first, slice(node_ids, 2, greatest(size(node_ids) - 1, 0)), "
        "node_ids) AS t_ids",
        "IF(skip_first, slice(xs, 2, greatest(size(xs) - 1, 0)), xs) AS t_xs",
        "IF(skip_first, slice(ys, 2, greatest(size(ys) - 1, 0)), ys) AS t_ys",
    )
    # (seq, seq2) is unique per group (planner invariant), so sorting the
    # narrower struct orders parts exactly like the reference's wider one
    agg = trimmed.groupBy("group_id", "append_first", "fake_close", "grp_fixed").agg(
        F.expr("sort_array(collect_list(struct(seq, seq2, t_ids, t_xs, t_ys))) AS parts"),
        F.expr("sum(nways) AS nways_sum"),
        F.expr("bool_or(fixed) AS any_fixed"),
        F.expr("min(struct(ring_id, lead)) AS ml"),
    )
    base = agg.selectExpr(
        "group_id",
        "append_first",
        "fake_close",
        "flatten(parts.t_ids) AS ids0",
        "flatten(parts.t_xs) AS xs0",
        "flatten(parts.t_ys) AS ys0",
        "CAST(nways_sum AS INT) AS nways",
        "(grp_fixed OR any_fixed) AS fixed",
        "ml.ring_id AS ring_id",
        "ml.lead AS lead",
    )
    # append_first appends the first vertex to all three arrays; fake_close
    # aliases ONLY the last node id to the first (locations stay distinct —
    # reference fake_close, src/coastline_ring.cpp)
    closed = base.selectExpr(
        "group_id",
        "fake_close",
        "IF(append_first, concat(ids0, slice(ids0, 1, 1)), ids0) AS ids1",
        "IF(append_first, concat(xs0, slice(xs0, 1, 1)), xs0) AS xs1",
        "IF(append_first, concat(ys0, slice(ys0, 1, 1)), ys0) AS ys1",
        "nways",
        "fixed",
        "ring_id",
        "lead",
    ).selectExpr(
        "group_id",
        "fake_close",
        "IF(fake_close AND size(ids1) >= 1, "
        "concat(slice(ids1, 1, size(ids1) - 1), slice(ids1, 1, 1)), ids1) AS ids2",
        "xs1",
        "ys1",
        "nways",
        "fixed",
        "ring_id",
        "lead",
    )
    # Rotation is only safe when the ring is closed in COORDINATES too:
    # fake_close aliases the last node id while its location stays distinct
    # — rotating such a ring would drop the real last vertex.
    rot = closed.selectExpr(
        "*",
        "IF(size(ids2) < 1, false, "
        "ids2[0] = element_at(ids2, -1) AND NOT fake_close "
        "AND xs1[0] = element_at(xs1, -1) AND ys1[0] = element_at(ys1, -1)) "
        "AS coord_closed",
        "CAST(array_position(ids2, lead) AS INT) AS fp",
        "size(ids2) - 1 AS m",
    )

    def rotate(col: str) -> str:
        core = f"slice({col}, 1, m)"
        return (
            f"IF(coord_closed AND fp > 1, "
            f"concat(slice({core}, fp, m - fp + 1), slice({core}, 1, fp - 1), "
            f"slice({core}, fp, 1)), {col})"
        )

    return rot.selectExpr(
        "ring_id",
        f"{rotate('ids2')} AS node_ids",
        f"{rotate('xs1')} AS xs",
        f"{rotate('ys1')} AS ys",
        "CAST(nways AS INT) AS nways",
        "fixed",
        "lead",
    )
