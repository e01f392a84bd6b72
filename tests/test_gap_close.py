"""Gap closing (R2) leaves out the open rings made only of duplicated
segments, deciding them on the driver from the segment sweep's per-ring
duplicate counts. Checked against the distributed orphan detection it
replaced, kept here as the reference: the open rings exploded into
segments, semi-joined with the duplicate keys, counted per ring twice,
the orphan ids checkpointed, the open rings split by anti- and semi-join
against them and the orphans unioned back after the merge. Also the job
cost of the close path."""

from __future__ import annotations

import dataclasses
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmcoastline_spark.operators.antarctica import antarctica_window, close_antarctica_ring
from osmcoastline_spark.operators.close import close_rings
from osmcoastline_spark.operators.filter import coastline_ways
from osmcoastline_spark.operators.intersections import (
    duplicate_segment_counts,
    ring_duplicate_counts,
    ring_segments,
    segment_sweep,
    slab_checkpoint,
)
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.rings import _closed, assemble_rings
from osmcoastline_spark.schemas import DEFAULT_CLOSE_DISTANCE
from osmcoastline_spark.synth import fixture_df
from osmcoastline_spark.util import materialize


def _close_state(spark, nodes, ways):
    """The pipeline's state where gap closing starts: the open rings after
    the Antarctica closure, the sweep checkpoint, the open-ring count
    observed at assembly and the sweep's duplicate-key count."""
    cways = coastline_ways(ways)
    closed, open_, seen = assemble_rings(
        cways,
        ways_with_locations(cways, nodes),
        observe={
            "open": F.count_if(~_closed()),
            "antarctica": F.min(F.when(~_closed() & antarctica_window(), F.col("ring_id"))),
        },
    )
    segs, edges = slab_checkpoint(
        ring_segments(closed.unionByName(open_)), spark.sparkContext.defaultParallelism
    )
    swept, sweep_seen = materialize(segment_sweep(segs, edges), n_dup_keys=F.count("k"))
    open_, found = close_antarctica_ring(open_, 4326, target=seen["antarctica"])
    if found:
        open_ = open_.filter(F.element_at("node_ids", 1) != F.element_at("node_ids", -1))
    return open_, swept, seen["open"], sweep_seen["n_dup_keys"]


def _reference_close(open_, swept, n_open, n_dup_keys):
    """The distributed orphan detection: (merged, CloseResult, orphan ids)."""
    orphans, active, orphan_ids = None, open_, []
    if n_dup_keys:
        open_segs = ring_segments(open_)
        dup_keys = duplicate_segment_counts(swept).drop("k")
        per_ring = open_segs.groupBy("ring_id").agg(F.count("*").alias("ntot"))
        dup_per_ring = (
            open_segs.join(dup_keys, ["x1", "y1", "x2", "y2"], "left_semi")
            .groupBy("ring_id")
            .agg(F.count("*").alias("ndup"))
        )
        ids, _ = materialize(
            per_ring.join(dup_per_ring, "ring_id")
            .filter(F.col("ndup") == F.col("ntot"))
            .select("ring_id")
        )
        orphan_ids = sorted(r.ring_id for r in ids.collect())
        orphans = open_.join(ids, "ring_id", "left_semi")
        active = open_.join(ids, "ring_id", "left_anti")
    merged, cres = close_rings(active, DEFAULT_CLOSE_DISTANCE, max_rows=n_open)
    if orphans is not None:
        merged = merged.unionByName(orphans)
    return merged, cres, orphan_ids


def _close(open_, swept, n_open, n_dup_keys):
    return close_rings(
        open_,
        DEFAULT_CLOSE_DISTANCE,
        max_rows=n_open,
        ring_duplicates=ring_duplicate_counts(swept) if n_dup_keys else None,
    )


def _rows(df) -> Counter:
    return Counter(
        (
            r.ring_id,
            tuple(r.node_ids),
            tuple(float(v).hex() for v in r.xs),
            tuple(float(v).hex() for v in r.ys),
            r.nways,
            r.fixed,
            r.lead,
        )
        for r in df.collect()
    )


def _canon(res) -> dict:
    """A CloseResult's fields, each list sorted (the planner lists rings
    in the order the endpoint collect returned them)."""

    def key(row):
        if isinstance(row, tuple):
            return tuple(tuple(c) if isinstance(c, list) else c for c in row)
        return row

    out = {}
    for f in dataclasses.fields(res):
        v = getattr(res, f.name)
        out[f.name] = sorted(map(key, v)) if isinstance(v, list) else v
    return out


def _assert_same_close(state) -> list:
    """Equal merged rings and CloseResult; returns the orphan ids. The
    orphans ride the merge as identity groups, which the reference left
    out of the plan."""
    ref_merged, ref, orphans = _reference_close(*state)
    merged, got = _close(*state)
    assert _rows(merged) == _rows(ref_merged)
    want = dataclasses.replace(
        ref,
        plan=ref.plan + [(r, r, 0, False) for r in orphans],
        finalize=ref.finalize + [(r, False, False, False) for r in orphans],
    )
    assert _canon(got) == _canon(want)
    return orphans


@pytest.fixture(scope="module")
def dirty_state(spark, tmp_path_factory):
    from perfbench.inputs import dirty, write_parquet

    def state(seed, **kw):
        root = str(tmp_path_factory.mktemp(f"dirty{seed}"))
        nodes_dir, ways_dir = write_parquet(dirty(seed, **kw), root)
        return _close_state(spark, spark.read.parquet(nodes_dir), spark.read.parquet(ways_dir))

    return {7: state(7, n_islands=40), 42: state(42)}


@pytest.mark.parametrize("seed", [7, 42])
def test_close_equals_distributed_orphan_detection(dirty_state, seed):
    # `dirty` repeats one way of two two-way rings: the repeat stays an
    # open ring whose every segment a closed ring duplicates
    assert len(_assert_same_close(dirty_state[seed])) == 2


def _arc(cx, cy, r, n, span=1.5 * np.pi):
    t = np.linspace(0.0, span, n)
    return cx + r * np.cos(t), cy + r * np.sin(t)


def test_close_orphans_duplicated_by_closed_and_open_rings(spark):
    """Orphans: an open way along half of a closed ring, and two open arcs
    drawn over each other with distinct nodes, whose gaps would close.
    Not orphans: an open arc sharing only part of its segments with them,
    and a plain gap."""
    nodes, ways = [], []

    def add(xs, ys, base):
        nodes.extend((base + i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys)))
        return [base + i for i in range(len(xs))]

    island = add(*_arc(10.0, 10.0, 0.5, 12, span=2 * np.pi * 11 / 12), 1000)
    ways.append((100, island + [island[0]]))
    ways.append((101, island[:6]))  # every segment in the closed ring
    ax, ay = _arc(20.0, 20.0, 0.3, 10)
    ways.append((102, add(ax, ay, 2000)))
    ways.append((103, add(ax, ay, 3000)))  # the same arc, other nodes
    px, py = np.append(ax[:5], ax[4] + 0.2), np.append(ay[:5], ay[4] - 0.7)
    ways.append((104, add(px, py, 4000)))  # shares 4 of its 5 segments
    ways.append((105, add(*_arc(30.0, 30.0, 0.4, 12), 5000)))  # a gap that closes
    state = _close_state(spark, *fixture_df(spark, nodes, ways))
    assert state[2] == 5
    assert _assert_same_close(state) == [101, 102, 103]


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_close_path_jobs(spark, dirty_state):
    """The endpoint collect, the per-ring duplicate collect and the merge
    checkpoint: at most 5 jobs."""
    j0 = _next_job_id(spark)
    merged, _res = _close(*dirty_state[7])
    materialize(merged)
    assert _next_job_id(spark) - j0 <= 5
