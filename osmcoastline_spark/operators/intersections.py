"""J5/J6/O1/S4 — segment extraction, duplicate detection, cell-binned
self-intersection join.

The reference sorts every segment globally and sweeps with an x-window
(src/coastline_ring_collection.cpp:277,313-316) — inherently sequential.
Spark-first replacement: bin segments to grid cells (bbox cover, boundary
duplication), self-join on the cell id with `a.seg_id < b.seg_id`, dedupe
cross-cell pairs, then run the exact intersection arithmetic (bit-identical
to the reference, src/coastline_ring_collection.cpp:202-230) as a vectorized
numpy kernel over Arrow batches. Candidates per cell are bounded the same way
the sweep's window bounds them, and cells process in parallel.

Duplicate segments (J6) are a plain groupBy on the normalized coordinates —
map-side partial aggregation, no UDF.

Ring validity (G5/G13) needs only a ring's crossings with itself, so it
does not go through the join: `ring_self_intersections` runs the sweep
per ring, inside one narrow mapInArrow stage, with the join's exact
arithmetic and reporting rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.cells import bbox_cover_cells_expr

DEFAULT_CELL_DEG = 0.5


def ring_segments(rings: DataFrame) -> DataFrame:
    """Explode ring coordinate arrays into normalized undirected segments.

    Pure Catalyst (transform/sequence/posexplode) — no Python. Output:
    ring_id, idx, x1, y1, x2, y2 with (x1,y1) <= (x2,y2) lexicographically
    (the reference's UndirectedSegment normalization).
    """
    # rings with <2 points produce no segments; unguarded, sequence(1, 0)
    # generates the DESCENDING array [1, 0] and xs[1] throws
    # INVALID_ARRAY_INDEX under ANSI (same trap documented at
    # similarity.ivf_cells_expr)
    segs = rings.filter(F.size("xs") >= 2).select(
        "ring_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(xs)-1), "
                "i -> struct(xs[i-1] as ax, ys[i-1] as ay, xs[i] as bx, ys[i] as by))"
            )
        ).alias("idx", "s"),
    ).select("ring_id", "idx", "s.ax", "s.ay", "s.bx", "s.by")
    fwd = (F.col("ax") < F.col("bx")) | ((F.col("ax") == F.col("bx")) & (F.col("ay") <= F.col("by")))
    return segs.select(
        "ring_id",
        "idx",
        F.when(fwd, F.col("ax")).otherwise(F.col("bx")).alias("x1"),
        F.when(fwd, F.col("ay")).otherwise(F.col("by")).alias("y1"),
        F.when(fwd, F.col("bx")).otherwise(F.col("ax")).alias("x2"),
        F.when(fwd, F.col("by")).otherwise(F.col("ay")).alias("y2"),
    )


def duplicate_segment_counts(segments: DataFrame) -> DataFrame:
    """(x1, y1, x2, y2, k) for every segment appearing k>1 times — the
    shared input of the overlap error lines AND the gap-close orphan
    filter (one groupBy shuffle instead of two identical ones)."""
    return (
        segments.groupBy("x1", "y1", "x2", "y2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
    )


def duplicate_segments(segments: DataFrame, dup: DataFrame | None = None) -> DataFrame:
    """J6 → error_lines('overlap'); k copies of a segment yield C(k,2)
    overlap rows, matching the reference's pairwise loop. Pass `dup`
    (duplicate_segment_counts output) to reuse an existing aggregation."""
    if dup is None:
        dup = duplicate_segment_counts(segments)
    return dup.select(
        F.explode(F.sequence(F.lit(1), (F.col("k") * (F.col("k") - 1) / 2).cast("int"))).alias(
            "_n"
        ),
        F.lit(0).cast("long").alias("osm_id"),
        F.lit("overlap").alias("error"),
        F.array("x1", "x2").alias("xs"),
        F.array("y1", "y2").alias("ys"),
    ).drop("_n")


def intersection_errors(segments: DataFrame, cell_deg: float = DEFAULT_CELL_DEG) -> DataFrame:
    """J5 → error_points('intersection').

    segments must carry (ring_id, idx) for a stable per-instance id.
    """
    return intersection_pairs(segments, cell_deg).select(
        F.lit(0).cast("long").alias("osm_id"),
        F.lit("intersection").alias("error"),
        "x",
        "y",
    )


def intersection_pairs(segments: DataFrame, cell_deg: float = DEFAULT_CELL_DEG) -> DataFrame:
    """All crossing segment pairs as (a_ring, b_ring, x, y) — the
    cell-binned join behind the 'intersection' error points. Its
    same-ring rows are the self-intersections `ring_self_intersections`
    finds per ring."""
    # segment identity is the COMPOSITE (ring_id, idx) struct, compared
    # lexicographically — a hashed 64-bit id would make the a_id < b_id
    # pair dedup collision-prone: two distinct crossing segments whose
    # hashes collide would compare equal and their intersection would be
    # silently dropped (at ~1e9 segments a collision existing is a
    # percent-level birthday event)
    with_id = segments.withColumn("seg_id", F.struct("ring_id", "idx"))
    covered = with_id.withColumn(
        "cell",
        F.explode(
            bbox_cover_cells_expr(
                F.least("x1", "x2"), F.least("y1", "y2"),
                F.greatest("x1", "x2"), F.greatest("y1", "y2"),
                cell_deg,
            )
        ),
    )
    a = covered.select(
        "cell",
        F.col("ring_id").alias("a_ring"),
        F.col("seg_id").alias("a_id"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
    )
    b = covered.select(
        "cell",
        F.col("ring_id").alias("b_ring"),
        F.col("seg_id").alias("b_id"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        # identical segments are 'overlap', not 'intersection'
        .filter(
            (F.col("ax1") != F.col("bx1"))
            | (F.col("ay1") != F.col("by1"))
            | (F.col("ax2") != F.col("bx2"))
            | (F.col("ay2") != F.col("by2"))
        )
        # cheap bbox reject BEFORE any further work (reference y-range test)
        .filter(
            (F.least("ax1", "ax2") <= F.greatest("bx1", "bx2"))
            & (F.least("bx1", "bx2") <= F.greatest("ax1", "ax2"))
            & (F.least("ay1", "ay2") <= F.greatest("by1", "by2"))
            & (F.least("by1", "by2") <= F.greatest("ay1", "ay2"))
        )
        # shared-endpoint reject in codegen (round-3 Arrow diet): the exact
        # kernel defines endpoint-sharing pairs as non-intersecting
        # (geom.segment_intersections, reference crc:202-230), and chain
        # neighbors — which always share an endpoint and always pass the
        # bbox test — are the BULK of in-cell candidates. Dropping them
        # here keeps them out of the Arrow batch transfer entirely.
        .filter(
            ~(
                ((F.col("ax1") == F.col("bx1")) & (F.col("ay1") == F.col("by1")))
                | ((F.col("ax1") == F.col("bx2")) & (F.col("ay1") == F.col("by2")))
                | ((F.col("ax2") == F.col("bx1")) & (F.col("ay2") == F.col("by1")))
                | ((F.col("ax2") == F.col("bx2")) & (F.col("ay2") == F.col("by2")))
            )
        )
    )

    # Owner-cell dedup: a pair sharing several cover cells is *evaluated*
    # in each, but the intersection point is *emitted* only by the cell that
    # contains it — no dropDuplicates shuffle (the classic spatial-join
    # reporting trick; replaces the sweep's single-threaded total order).
    def exact(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from osmcoastline_spark.cells import cell_id_np

        for pdf in it:
            if len(pdf) == 0:
                continue
            mask, ix, iy = geom.segment_intersections(
                pdf["ax1"].to_numpy(), pdf["ay1"].to_numpy(),
                pdf["ax2"].to_numpy(), pdf["ay2"].to_numpy(),
                pdf["bx1"].to_numpy(), pdf["by1"].to_numpy(),
                pdf["bx2"].to_numpy(), pdf["by2"].to_numpy(),
            )
            own = cell_id_np(ix, iy, cell_deg) == pdf["cell"].to_numpy()
            keep = mask & own
            yield pd.DataFrame(
                {
                    "a_ring": pdf["a_ring"].to_numpy()[keep],
                    "b_ring": pdf["b_ring"].to_numpy()[keep],
                    "x": ix[keep],
                    "y": iy[keep],
                }
            )

    return pairs.mapInPandas(exact, "a_ring long, b_ring long, x double, y double")


# candidate segment pairs one step of the per-ring sweep holds at once:
# bounds the kernel's memory however large a ring is
PAIR_CHUNK = 1 << 16


def _sweep(ring: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Interval-overlap sweep along one axis, for every ring of a batch at
    once. Segments sort by (ring, lo); the candidates of sorted position p
    are positions p+1 .. end[p]-1, the later segments of the same ring
    whose `lo` is at most hi[p]. Every pair of same-ring segments whose
    intervals overlap appears exactly once, equal-`lo` ties included.
    Returns (order, end); `end` comes from a lock-step binary search over
    all positions, so no Python runs per ring."""
    order = np.lexsort((lo, ring))
    slo, shi, sring = lo[order], hi[order], ring[order]
    n = len(order)
    left = np.arange(1, n + 1)
    right = np.searchsorted(sring, sring, side="right")
    while True:
        active = left < right
        if not active.any():
            return order, left
        mid = (left + right) >> 1
        go = active & (slo[np.minimum(mid, n - 1)] <= shi)
        left = np.where(go, mid + 1, left)
        right = np.where(active & ~go, mid, right)


def _candidate_pairs(ring, x1, y1, x2, y2, chunk: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Same-ring segment index pairs (i, j) whose extents overlap along
    the sweep axis, at most `chunk` pairs at a time. Each ring sweeps
    along the axis that gives it fewer candidates (a ring running
    north-south would pair most of its segments on an x-sweep)."""
    sweeps = [_sweep(ring, x1, x2), _sweep(ring, np.minimum(y1, y2), np.maximum(y1, y2))]
    n_rings = int(ring.max()) + 1
    per_ring = [
        np.bincount(ring[order], weights=end - np.arange(1, len(order) + 1), minlength=n_rings)
        for order, end in sweeps
    ]
    use_y = per_ring[1] < per_ring[0]
    for axis, (order, end) in enumerate(sweeps):
        cnt = end - np.arange(1, len(order) + 1)
        cnt[use_y[ring[order]] != bool(axis)] = 0
        cum = np.cumsum(cnt)
        for s in range(0, int(cum[-1]), chunk):
            k = np.arange(s, min(s + chunk, int(cum[-1])))
            p = np.searchsorted(cum, k, side="right")
            q = p + 1 + k - (cum[p] - cnt[p])
            yield order[p], order[q]


def _heads(offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index of every point but the last of its ring (where a segment
    starts), and the ring each belongs to."""
    lens = np.diff(offsets)
    keep = np.ones(int(offsets[-1]), dtype=bool)
    keep[offsets[1:][lens > 0] - 1] = False
    return np.nonzero(keep)[0], np.repeat(np.arange(len(lens)), np.maximum(lens - 1, 0))


def ring_crossing_points(
    offsets: np.ndarray,
    xs: np.ndarray,
    ys: np.ndarray,
    cell_deg: float = DEFAULT_CELL_DEG,
    chunk: int = PAIR_CHUNK,
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Every same-ring crossing of a batch of rings, as (ring, x, y) arrays
    yielded per chunk of candidate pairs; `ring` indexes the rings, whose
    points are xs/ys[offsets[r]:offsets[r+1]] (ListArray layout).

    Same rows as the same-ring rows of `intersection_pairs` over
    `ring_segments` of the rings, bit for bit: segments are normalized
    the same way, `a` is the lower-index segment of a pair, the bbox
    test and `geom.segment_intersections` decide a crossing, and a
    crossing counts only when its point falls in a cell both segments'
    bbox covers share (the join's owner-cell rule; rounding can put a
    point just outside a segment's cells)."""
    seg, ring = _heads(np.asarray(offsets, dtype=np.int64))
    if len(seg) == 0:
        return
    ax, ay, bx, by = xs[seg], ys[seg], xs[seg + 1], ys[seg + 1]
    fwd = (ax < bx) | ((ax == bx) & (ay <= by))
    x1, y1 = np.where(fwd, ax, bx), np.where(fwd, ay, by)
    x2, y2 = np.where(fwd, bx, ax), np.where(fwd, by, ay)
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    # bbox cover of every segment, in the cells of `intersection_pairs`
    cx_lo = np.floor((x1 + 180.0) / cell_deg)
    cx_hi = np.floor((x2 + 180.0) / cell_deg)
    cy_lo = np.floor((ylo + 90.0) / cell_deg)
    cy_hi = np.floor((yhi + 90.0) / cell_deg)
    for i, j in _candidate_pairs(ring, x1, y1, x2, y2, chunk):
        a, b = np.minimum(i, j), np.maximum(i, j)
        near = (ylo[a] <= yhi[b]) & (ylo[b] <= yhi[a]) & (x1[a] <= x2[b]) & (x1[b] <= x2[a])
        a, b = a[near], b[near]
        mask, px, py = geom.segment_intersections(
            x1[a], y1[a], x2[a], y2[a], x1[b], y1[b], x2[b], y2[b]
        )
        cx = np.floor((px + 180.0) / cell_deg)
        cy = np.floor((py + 90.0) / cell_deg)
        mask &= (
            (cx >= np.maximum(cx_lo[a], cx_lo[b])) & (cx <= np.minimum(cx_hi[a], cx_hi[b]))
            & (cy >= np.maximum(cy_lo[a], cy_lo[b])) & (cy <= np.minimum(cy_hi[a], cy_hi[b]))
        )
        if mask.any():
            yield ring[a[mask]], px[mask], py[mask]


def _repeated_points(offsets: np.ndarray, xs: np.ndarray, ys: np.ndarray):
    """(ring, x, y) of every coordinate a ring repeats among its points
    but the last (a point touch GEOS IsValid rejects)."""
    keep, ring = _heads(offsets)
    # + 0.0 folds -0.0 into 0.0, as Spark's grouping keys do
    x, y = xs[keep] + 0.0, ys[keep] + 0.0
    o = np.lexsort((y, x, ring))
    r, x, y = ring[o], x[o], y[o]
    dup = (r[1:] == r[:-1]) & (x[1:] == x[:-1]) & (y[1:] == y[:-1])
    return r[1:][dup], x[1:][dup], y[1:][dup]


def _first_points(parts: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per ring, the lexicographic min (x, y) over (ring, x, y) parts."""
    if not parts:
        empty = np.empty(0)
        return empty.astype(np.int64), empty, empty
    r, x, y = (np.concatenate(c) for c in zip(*parts))
    o = np.lexsort((y, x, r))
    r, x, y = r[o], x[o], y[o]
    first = np.ones(len(r), dtype=bool)
    first[1:] = r[1:] != r[:-1]
    return r[first], x[first], y[first]


def ring_self_intersections(
    rings: DataFrame, cell_deg: float = DEFAULT_CELL_DEG, repeated: bool = False
) -> DataFrame:
    """G13 backbone: one (ring_id, x, y) row per ring of `rings` (ring_id,
    xs, ys) that crosses itself — or, with `repeated`, repeats an interior
    coordinate — at its lexicographic min (x, y) such point, the same
    point `F.min(F.struct("x", "y"))` picks. The numpy stand-in for GEOS
    IsValid + GEOSisValidReason's 'Self-intersection[x y]' parse
    (reference src/output_database.cpp:170-211), run per ring as the
    reference runs IsValid (src/coastline_ring_collection.cpp:148-168).

    Validity is a per-ring property, so this is one narrow mapInArrow
    stage: no exchange between a ring and its verdict. The kernel reads
    the xs/ys ListArray offsets and values directly; the crossings are
    `ring_crossing_points`' (bit-identical to intersection_pairs'
    same-ring rows)."""
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            xcol, ycol = batch.column("xs"), batch.column("ys")
            # offsets index the child array, which a sliced batch shares
            # with its neighbours: rebase onto this batch's own values
            offsets = np.asarray(xcol.offsets, dtype=np.int64)
            if not np.array_equal(np.diff(offsets), np.diff(np.asarray(ycol.offsets))):
                raise ValueError("ring_self_intersections: xs and ys lengths differ")
            lo, hi = int(offsets[0]), int(offsets[-1])
            y0 = int(ycol.offsets[0].as_py())
            xs = xcol.values.slice(lo, hi - lo).to_numpy(zero_copy_only=False)
            ys = ycol.values.slice(y0, hi - lo).to_numpy(zero_copy_only=False)
            offsets = offsets - lo
            # reduce each chunk's crossings to per-ring minima as they come
            parts = [_first_points([p]) for p in ring_crossing_points(offsets, xs, ys, cell_deg)]
            if repeated:
                parts.append(_repeated_points(offsets, xs, ys))
            r, x, y = _first_points(parts)
            if len(r):
                ids = batch.column("ring_id").to_numpy()
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids[r]), pa.array(x), pa.array(y)], ["ring_id", "x", "y"]
                )

    return rings.select(F.col("ring_id").cast("long"), "xs", "ys").mapInArrow(
        kernel, "ring_id long, x double, y double"
    )
