"""Distributed application of a chain-merge plan (gap closing, R2).

The gap-close planner (close.plan_close_rings) works on ring ENDPOINTS
only and hands over a merge plan — (ring_id → group, seq, skip_first)
plus per-group finalize actions. The plan is applied to the coordinate
arrays in ONE groupBy(group_id) pass of JVM array expressions; the plan
is O(open rings) and reaches the JVM as one Arrow-built LocalRelation
that the array side joins by broadcast.

Ring assembly (rings.assemble_rings) needs no separate application: its
plan is applied while the location join regroups the points, and it
shares this module's lead rotation (`rotate_closed_to_lead`).

`seq`/`seq2` order parts within a group lexicographically: `seq` is the
outer position assigned by the planner, `seq2` an inner position (0 for
every gap-close part).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import util

RING_SCHEMA = (
    "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
    "nways int, fixed boolean, lead long"
)

# one row per part: the group's finalize flags ride on each of its parts
PLAN_SCHEMA = (
    "ring_id long, group_id long, seq int, seq2 int, skip_first boolean, "
    "append_first boolean, fake_close boolean, grp_fixed boolean"
)


def apply_merge_plan(
    open_rings: DataFrame,
    plan: list[tuple],  # (ring_id, group_id, seq, skip_first)
    finalize: list[tuple],  # (group_id, append_first, fake_close, grp_fixed)
) -> DataFrame:
    """Concatenate ring parts per group, ordered by seq; rotate rings
    that closed so they start at the min-way chain's lead node.

    The plan is a driver-computed list, so it is small: each group's
    finalize flags fold into its part rows, the rows become one
    LocalRelation (util.local_frame) and the array side joins it once, by
    broadcast — the groupBy(group_id) is the only shuffle.

    The concatenation/rotation runs as pure JVM array expressions —
    flatten/slice/concat move longs and doubles without any arithmetic, so
    the output is bit-identical to the original per-part Python merge
    (kept in tests/test_merge_apply.py as the reference).

    Precondition of the planner (close.plan_close_rings): the FIRST part
    of a group in seq order always has skip_first=false — this form drops
    the first element of every skip_first part position-independently,
    which the Python reference only does once the accumulated array is
    non-empty (equivalent under the precondition; pinned by
    test_merge_apply_engines_agree).
    """
    flags = {g: rest for g, *rest in finalize}
    rows = [(r, g, s, 0, sk, *flags[g]) for r, g, s, sk in plan]
    plan_df = util.local_frame(open_rings.sparkSession, rows, PLAN_SCHEMA)
    return _merge_catalyst(open_rings.join(F.broadcast(plan_df), "ring_id"))


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
    return rotate_closed_to_lead(closed, "ids2", "xs1", "ys1", fake_close="fake_close")


def rotate_closed_to_lead(
    df: DataFrame,
    ids: str = "node_ids",
    xs: str = "xs",
    ys: str = "ys",
    fake_close: str = "false",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """RING_SCHEMA rows (plus the `keep` columns) from `df`, whose ring
    arrays are the columns `ids`/`xs`/`ys`: each ring that is closed
    rotates so it starts at its `lead` node.

    For ring [A,B,C,D,A] with lead C: the core [A,B,C,D] (the closing
    vertex dropped) splits at C into [C,D] + [A,B], and the lead closes
    it again → [C,D,A,B,C]. Rotation is only safe when the ring is closed
    in COORDINATES too: fake_close (the SQL boolean `fake_close`) aliases
    the last node id while its location stays distinct — rotating such a
    ring would drop the real last vertex. A ring whose lead is its first
    node, or is not in it, stays as it is.
    """
    rot = df.selectExpr(
        "*",
        f"IF(size({ids}) < 1, false, "
        f"{ids}[0] = element_at({ids}, -1) AND NOT {fake_close} "
        f"AND {xs}[0] = element_at({xs}, -1) AND {ys}[0] = element_at({ys}, -1)) "
        "AS coord_closed",
        f"CAST(array_position({ids}, lead) AS INT) AS fp",
        f"size({ids}) - 1 AS m",
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
        f"{rotate(ids)} AS node_ids",
        f"{rotate(xs)} AS xs",
        f"{rotate(ys)} AS ys",
        "CAST(nways AS INT) AS nways",
        "fixed",
        "lead",
        *keep,
    )
