"""The pure-numpy geometry kernels, timed with no Spark around them.

Each kernel makes one pass over the workload's own rings with the call
pattern its operator uses.
"""

from __future__ import annotations

import time

import numpy as np

from osmcoastline_spark import geom

PAIR_BATCH = 65536  # rows per Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch)


def _closed(rings):
    return [(np.append(x, x[0]), np.append(y, y[0])) for x, y in rings]


def _segment_pairs(rings):
    """Pairs (segment i, segment i+2) of every ring, as the eight
    coordinate columns the intersection kernel reads."""
    cols = [[] for _ in range(8)]
    for x, y in rings:
        if len(x) < 4:
            continue
        a, b = slice(0, -3), slice(2, -1)
        for col, v in zip(cols, (x[a], y[a], x[1:-2], y[1:-2], x[b], y[b], x[3:], y[3:])):
            col.append(v)
    return [np.concatenate(c) for c in cols]


def _pass_points_in_ring(rings):
    for x, y in rings:
        gx, gy = np.meshgrid(np.linspace(x.min(), x.max(), 4), np.linspace(y.min(), y.max(), 4))
        geom.points_in_ring(gx.ravel(), gy.ravel(), x, y)


def _pass_segment_intersections(cols):
    for lo in range(0, len(cols[0]), PAIR_BATCH):
        geom.segment_intersections(*(c[lo : lo + PAIR_BATCH] for c in cols))


def _pass_cut_ring_checked(rings):
    for x, y in rings:  # split: both halves at the envelope midline
        mid = (x.min() + x.max()) / 2
        geom.cut_ring_checked(x, y, 0, mid, True)
        geom.cut_ring_checked(x, y, 0, mid, False)


def _pass_clip_ring_rect(rings):
    for x, y in rings:  # water: one tile, the envelope's lower-left quarter
        geom.clip_ring_rect(x, y, x.min(), y.min(), (x.min() + x.max()) / 2, (y.min() + y.max()) / 2)


def _pass_signed_area2(rings):
    for x, y in rings:
        geom.signed_area2(x, y)


def time_kernels(rings) -> dict[str, float]:
    """{metric name: seconds} for one pass of each kernel."""
    closed = _closed(rings)
    passes = {
        "geom.points_in_ring_s": (_pass_points_in_ring, closed),
        "geom.segment_intersections_s": (_pass_segment_intersections, _segment_pairs(closed)),
        "geom.cut_ring_checked_s": (_pass_cut_ring_checked, closed),
        "geom.clip_ring_rect_s": (_pass_clip_ring_rect, closed),
        "geom.signed_area2_s": (_pass_signed_area2, closed),
    }
    out = {}
    for name, (fn, arg) in passes.items():
        t0 = time.perf_counter()
        fn(arg)
        out[name] = time.perf_counter() - t0
    return out
