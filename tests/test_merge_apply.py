"""Bit-equality of the Catalyst merge kernel (apply_merge_plan) vs the
original per-part Python merge, kept here as the reference."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmcoastline_spark.operators.merge_apply import RING_SCHEMA, apply_merge_plan

# the reference merge's plan and finalize frames
PLAN_SCHEMA = "ring_id long, group_id long, seq int, seq2 int, skip_first boolean"
FIN_SCHEMA = "group_id long, append_first boolean, fake_close boolean, grp_fixed boolean"


def _rows(df):
    out = []
    for r in df.collect():
        out.append(
            (
                r.ring_id,
                tuple(r.node_ids),
                tuple(r.xs),
                tuple(r.ys),
                r.nways,
                r.fixed,
                r.lead,
            )
        )
    return sorted(out)


def _reference_merge(open_rings, plan_df, fin_df):
    """The original mapInPandas merge kernel: collect each group's parts in
    (seq, seq2) order and concatenate/close/rotate them in Python."""
    agg = (
        open_rings.join(plan_df, "ring_id")
        .join(fin_df, "group_id")
        .groupBy("group_id", "append_first", "fake_close", "grp_fixed")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("seq", "seq2", "skip_first", "node_ids", "xs", "ys",
                             "nways", "fixed", "ring_id", "lead")
                )
            ).alias("parts")
        )
    )

    def merge_batch(it):
        import pandas as pd

        for pdf in it:
            out = {k: [] for k in ("ring_id", "node_ids", "xs", "ys", "nways", "fixed", "lead")}
            for row in pdf.itertuples(index=False):
                node_ids: list[int] = []
                xs: list[float] = []
                ys: list[float] = []
                nways = 0
                fixed = bool(row.grp_fixed)
                min_rid = None
                lead = None
                for part in row.parts:
                    ids = list(part["node_ids"])
                    rxs = list(part["xs"])
                    rys = list(part["ys"])
                    if part["skip_first"] and node_ids:
                        ids, rxs, rys = ids[1:], rxs[1:], rys[1:]
                    node_ids.extend(ids)
                    xs.extend(rxs)
                    ys.extend(rys)
                    nways += part["nways"]
                    fixed = fixed or bool(part["fixed"])
                    if min_rid is None or part["ring_id"] < min_rid:
                        min_rid = part["ring_id"]
                        lead = part["lead"]
                if row.append_first:
                    node_ids.append(node_ids[0])
                    xs.append(xs[0])
                    ys.append(ys[0])
                if row.fake_close:
                    node_ids[-1] = node_ids[0]
                # Rotation is only safe when the ring is closed in
                # COORDINATES too: fake_close aliases the last node id while
                # its location stays distinct (reference fake_close,
                # src/coastline_ring.cpp) — rotating such a ring would drop
                # the real last vertex. Skip it; the gap geometry survives.
                coord_closed = (
                    node_ids
                    and node_ids[0] == node_ids[-1]
                    and not row.fake_close
                    and xs[0] == xs[-1]
                    and ys[0] == ys[-1]
                )
                if coord_closed and lead in node_ids:
                    p = node_ids.index(lead)
                    if p > 0:
                        core_i, core_x, core_y = node_ids[:-1], xs[:-1], ys[:-1]
                        node_ids = core_i[p:] + core_i[:p]
                        xs = core_x[p:] + core_x[:p]
                        ys = core_y[p:] + core_y[:p]
                        node_ids.append(node_ids[0])
                        xs.append(xs[0])
                        ys.append(ys[0])
                out["ring_id"].append(int(min_rid))
                out["node_ids"].append(node_ids)
                out["xs"].append(xs)
                out["ys"].append(ys)
                out["nways"].append(int(nways))
                out["fixed"].append(fixed)
                out["lead"].append(int(lead))
            yield pd.DataFrame(out)

    return agg.mapInPandas(merge_batch, RING_SCHEMA)


def _reference_frames(spark, plan, finalize):
    """apply_merge_plan's (ring_id, group_id, seq, skip_first) plan and
    finalize lists as the reference merge's two frames."""
    plan_df = spark.createDataFrame([(r, g, s, 0, sk) for r, g, s, sk in plan], PLAN_SCHEMA)
    return plan_df, spark.createDataFrame(finalize, FIN_SCHEMA)


@pytest.fixture()
def scenario(spark):
    # chains: groups exercising every feature —
    #   g1: 3-part chain closing into a ring (rotation to min-way lead)
    #   g2: append_first closure (self-close)
    #   g3: fake_close (node id aliased, coords distinct — NO rotation)
    #   g4: single open chain, identity
    rings = spark.createDataFrame(
        [
            # g1 parts: 10 (lead 100), 11, 12 — cycle back to first node
            (10, [100, 101], [0.0, 1.0], [0.0, 0.1], 1, False, 100),
            (11, [101, 102], [1.0, 2.0], [0.1, 0.2], 1, False, 101),
            (12, [102, 100], [2.0, 0.0], [0.2, 0.0], 2, True, 102),
            # g2: open chain closed by append_first
            (20, [200, 201, 202], [5.0, 6.0, 7.0], [5.0, 5.5, 6.0], 3, False, 200),
            # g3 parts: fake-close pair (end meets start by id aliasing)
            (30, [300, 301], [8.0, 9.0], [8.0, 8.5], 1, False, 300),
            (31, [302, 303], [9.5, 10.0], [8.6, 9.0], 1, False, 302),
            # g4: untouched open chain
            (40, [400, 401], [11.0, 12.0], [11.0, 11.5], 1, False, 400),
        ],
        RING_SCHEMA,
    )
    plan = [
        (10, 10, 0, False),
        (11, 10, 1, True),
        (12, 10, 2, True),
        (20, 20, 0, False),
        (30, 30, 0, False),
        (31, 30, 1, False),
        (40, 40, 0, False),
    ]
    fin = [
        (10, False, False, False),
        (20, True, False, True),
        (30, False, True, True),
        (40, False, False, False),
    ]
    return rings, plan, fin


def test_merge_apply_engines_agree(spark, scenario):
    rings, plan, fin = scenario
    cat = _rows(apply_merge_plan(rings, plan, fin))
    ref = _rows(_reference_merge(rings, *_reference_frames(spark, plan, fin)))
    assert cat == ref
    # and the rotation really happened: g1 closes and starts at lead 100
    g1 = [r for r in cat if r[0] == 10][0]
    assert g1[1][0] == 100 and g1[1][-1] == 100


def test_merge_apply_engines_agree_randomized(spark):
    """Random chain populations through the kernel and the reference (seeded)."""
    import random

    rng = random.Random(7)
    rows, plan, fin = [], [], []
    rid = 0
    for g in range(25):
        nparts = rng.randint(1, 5)
        closes = rng.random() < 0.5
        member_ids = []
        node = g * 1000
        for p in range(nparts):
            npts = rng.randint(2, 5)
            ids = [node + i for i in range(npts)]
            node += npts - 1  # chain: next part starts at last node
            xs = [rng.uniform(-10, 10) for _ in range(npts)]
            ys = [rng.uniform(-10, 10) for _ in range(npts)]
            rows.append((rid, ids, xs, ys, rng.randint(1, 3), rng.random() < 0.2, ids[0]))
            member_ids.append(rid)
            plan.append((rid, member_ids[0], p, p > 0))
            rid += 1
        if closes:
            # close the cycle: last part's last node = first part's first
            last = rows[-1]
            ids = list(last[1])
            ids[-1] = rows[-nparts][1][0]
            xs = list(last[2])
            ys = list(last[3])
            xs[-1] = rows[-nparts][2][0]
            ys[-1] = rows[-nparts][3][0]
            rows[-1] = (last[0], ids, xs, ys, last[4], last[5], last[6])
        fin.append((member_ids[0], False, False, rng.random() < 0.3))
    rings = spark.createDataFrame(rows, RING_SCHEMA)
    cat = _rows(apply_merge_plan(rings, plan, fin))
    ref = _rows(_reference_merge(rings, *_reference_frames(spark, plan, fin)))
    assert cat == ref
    assert len(cat) == 25
