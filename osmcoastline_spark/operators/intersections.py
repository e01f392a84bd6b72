"""J5/J6/O1/S4 — segment extraction, and segment crossings and duplicate
segments in one x-slab sweep.

The reference sorts every segment globally and sweeps with an x-window
(src/coastline_ring_collection.cpp:277,313-316); crossings and duplicate
segments come out of that one pass. Here the same sweep runs per x-slab,
all slabs in parallel, in one mapInArrow stage (`segment_sweep`):

  * the slab edges are x-quantiles the segments checkpoint observes in
    its own job (`slab_checkpoint`), so the slabs hold about equal shares
    of the segments however skewed the coastline is;
  * a segment is copied to every slab its x-extent overlaps — at most one
    copy per slab, and at most SLAB_QUANTILES slabs;
  * a pair of segments is found in every slab both overlap, but its
    crossing is emitted by exactly one of them, and a duplicate segment
    only by the slab of its x1, so no dedup shuffle follows;
  * the same slab also counts, per ring, the copies of duplicate
    segments it emits: gap closing reads them to leave out the open
    rings made only of duplicated segments.

The exact intersection arithmetic is the reference's
(geom.segment_intersections, src/coastline_ring_collection.cpp:202-230),
and like the reference the sweep uses no grid: every candidate pair whose
bboxes overlap is tested, and the slab clamp of `slab_crossings` is the
only dedup.

Ring validity (G5/G13) needs only a ring's crossings with itself, so
`ring_self_intersections` runs the same sweep with the ring as the group,
inside one narrow mapInArrow stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.util import arrow_stage, list_views, materialize

# candidate segment pairs one step of a sweep holds at once: bounds the
# kernel's memory however large a ring or a slab is
PAIR_CHUNK = 1 << 16
# segments per slab above which the sweep uses more slabs than cores
SLAB_SEGMENTS = 1 << 16
# x-quantiles the segments checkpoint observes: the finest slab grid, so
# a segment spanning the map has at most this many copies
SLAB_QUANTILES = 256

# columns of `segment_sweep`: crossing rows fill a_ring..y, duplicate
# segment rows fill x1..k, per-ring duplicate counts fill ring_id, ndup
_SWEEP_COLUMNS = {
    "a_ring": "long",
    "b_ring": "long",
    "x": "double",
    "y": "double",
    "x1": "double",
    "y1": "double",
    "x2": "double",
    "y2": "double",
    "k": "long",
    "ring_id": "long",
    "ndup": "long",
}


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


def slab_checkpoint(segments: DataFrame, parallelism: int) -> tuple[DataFrame, list[float]]:
    """`segments` (a `ring_segments` frame) checkpointed, and the sorted
    distinct edges of its x-slabs for `segment_sweep`: x1 quantiles the
    checkpoint observes in its own job, so the slabs cost no sampling job.
    One slab per core (`parallelism`), more once the segments outgrow
    SLAB_SEGMENTS per core, at most SLAB_QUANTILES. Slab s holds x in
    [edges[s-1], edges[s])."""
    segs, seen = materialize(
        segments,
        n=F.count(F.lit(1)),
        q=F.percentile_approx("x1", [i / SLAB_QUANTILES for i in range(1, SLAB_QUANTILES)]),
    )
    if not seen["q"]:  # no segments
        return segs, []
    n = min(SLAB_QUANTILES, max(parallelism, -(-seen["n"] // SLAB_SEGMENTS)))
    return segs, sorted({seen["q"][k * SLAB_QUANTILES // n - 1] for k in range(1, n)})


def _slab_of(x: Column, edges: list[float]) -> Column:
    """The slab of x, the number of edges <= x, as a balanced tree of
    comparisons: numpy.searchsorted(edges, x, "right") in Catalyst, equal
    for every double (NaN sorts above every edge in both)."""

    def node(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(x >= F.lit(edges[mid]), node(mid + 1, hi)).otherwise(node(lo, mid))

    return node(0, len(edges))


def _spark_hash_int(v: int) -> int:
    """Spark's hash of an int column value (Murmur3_x86_32.hashInt with
    seed 42), which hash partitioning takes modulo the partition count."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k = rotl((v * 0xCC9E2D51) & m, 15) * 0x1B873593 & m
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & m
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def _partition_keys(n: int) -> list[int]:
    """For each of n slabs, the least int key that hash partitioning into
    n partitions sends to the partition of the same number: shuffled on
    these keys, every slab has a task of its own. Shuffled on the slab
    numbers themselves, slabs collide (4 slabs fill 2 of 4 partitions)."""
    keys: dict[int, int] = {}
    v = 0
    while len(keys) < n:
        keys.setdefault(_spark_hash_int(v) % n, v)
        v += 1
    return [keys[s] for s in range(n)]


def segment_sweep(segments: DataFrame, edges: list[float]) -> DataFrame:
    """J5 and J6 in one pass: every crossing of two segments and every
    duplicate segment of `segments` (ring_id, idx, x1, y1, x2, y2 as
    `ring_segments` gives them), swept per x-slab of `edges`.

    One exchange (each segment to every slab its x-extent overlaps)
    and one mapInArrow stage of one task per slab, len(edges) + 1. Three
    kinds of rows, read with `intersection_pairs`,
    `duplicate_segment_counts` and `ring_duplicate_counts`. Only the
    duplicate segment rows fill `k`, so `F.count("k")` over the sweep
    counts the duplicate keys.

    The only Python stage that keeps its partition count
    (`arrow_stage(keep_partitions=True)`): the kernel holds its whole
    partition in memory, and `SLAB_SEGMENTS` bounds that only while each
    slab is a task of its own. Coalescing to the core count would merge
    up to `SLAB_QUANTILES` slabs into one task."""
    edges_np = np.asarray(edges, dtype=np.float64)
    keys = F.array(*map(F.lit, _partition_keys(len(edges) + 1)))

    def kernel(batches):
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        c = {name: t.column(name).to_numpy() for name in t.column_names}
        slab, xy = c["slab"], (c["x1"], c["y1"], c["x2"], c["y2"])
        for a_ring, b_ring, x, y in slab_crossings(edges_np, slab, c["ring_id"], c["idx"], *xy):
            yield _sweep_columns(a_ring=a_ring, b_ring=b_ring, x=x, y=y)
        (x1, y1, x2, y2, k), (ring, ndup) = slab_duplicates(edges_np, slab, c["ring_id"], *xy)
        yield _sweep_columns(x1=x1, y1=y1, x2=x2, y2=y2, k=k)
        yield _sweep_columns(ring_id=ring, ndup=ndup)

    copies = segments.select(
        F.col("ring_id").cast("long"),
        "idx", "x1", "y1", "x2", "y2",
        F.explode(
            F.sequence(_slab_of(F.col("x1"), edges), _slab_of(F.col("x2"), edges))
        ).alias("slab"),
    ).repartition(len(edges) + 1, F.element_at(keys, F.col("slab") + 1))
    return arrow_stage(
        copies,
        kernel,
        ", ".join(f"{c} {t}" for c, t in _SWEEP_COLUMNS.items()),
        keep_partitions=True,
    )


def _sweep_columns(**cols: np.ndarray) -> dict:
    """`segment_sweep` output columns from the columns of one row kind;
    the columns of the other kinds are null."""
    n = len(next(iter(cols.values())))
    return {
        c: cols[c] if c in cols else pa.nulls(n, pa.int64() if t == "long" else pa.float64())
        for c, t in _SWEEP_COLUMNS.items()
    }


def intersection_pairs(sweep: DataFrame) -> DataFrame:
    """All crossing segment pairs of a `segment_sweep` as (a_ring, b_ring,
    x, y) — the 'intersection' error points. Its same-ring rows are the
    self-intersections `ring_self_intersections` finds per ring."""
    return sweep.filter(F.col("a_ring").isNotNull()).select("a_ring", "b_ring", "x", "y")


def duplicate_segment_counts(sweep: DataFrame) -> DataFrame:
    """(x1, y1, x2, y2, k) for every segment appearing k > 1 times, from
    a `segment_sweep` — the input of the overlap error lines."""
    return sweep.filter(F.col("k").isNotNull()).select("x1", "y1", "x2", "y2", "k")


def ring_duplicate_counts(sweep: DataFrame) -> DataFrame:
    """(ring_id, ndup) from a `segment_sweep`: ndup of the ring's segments
    whose key `duplicate_segment_counts` lists, counted in the slab of
    their x1 — one row per slab that has any, so a ring's count is the
    sum of its rows. Gap closing reads it for the open rings made only
    of duplicated segments (close.close_rings)."""
    return sweep.filter(F.col("ndup").isNotNull()).select("ring_id", "ndup")


def duplicate_segments(dup: DataFrame) -> DataFrame:
    """J6 → error_lines('overlap') from `duplicate_segment_counts`; k
    copies of a segment yield C(k,2) overlap rows, matching the
    reference's pairwise loop."""
    return dup.select(
        F.explode(F.sequence(F.lit(1), (F.col("k") * (F.col("k") - 1) / 2).cast("int"))).alias(
            "_n"
        ),
        F.lit(0).cast("long").alias("osm_id"),
        F.lit("overlap").alias("error"),
        F.array("x1", "x2").alias("xs"),
        F.array("y1", "y2").alias("ys"),
    ).drop("_n")


def slab_crossings(
    edges: np.ndarray,
    slab: np.ndarray,
    ring: np.ndarray,
    idx: np.ndarray,
    x1: np.ndarray,
    y1: np.ndarray,
    x2: np.ndarray,
    y2: np.ndarray,
    chunk: int = PAIR_CHUNK,
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """The crossings of `segment_sweep`'s kernel as (a_ring, b_ring, x, y)
    arrays per chunk of candidate pairs. Each row is the copy in slab
    `slab` of segment (ring, idx); a segment has a copy in every slab from
    the slab of its x1 to that of its x2. The rows may hold any set of
    slabs, each with all its copies.

    `a` is the lower (ring, idx) of a pair. A pair is found in every slab
    both segments reach and emitted in one: the slab of its point's x,
    clamped to the slabs they share, so a point that rounding puts just
    outside them is neither lost nor emitted twice. The clamp is the only
    dedup: no grid decides which crossings count."""
    o = np.lexsort((idx, ring, slab))
    slab, ring, x1, y1, x2, y2 = slab[o], ring[o], x1[o], y1[o], x2[o], y2[o]
    lo = np.searchsorted(edges, x1, side="right")
    hi = np.searchsorted(edges, x2, side="right")
    for a, b, px, py in _crossings(slab, x1, y1, x2, y2, chunk):
        home = np.searchsorted(edges, px, side="right")
        own = np.clip(home, np.maximum(lo[a], lo[b]), np.minimum(hi[a], hi[b])) == slab[a]
        if own.any():
            yield ring[a[own]], ring[b[own]], px[own], py[own]


def slab_duplicates(
    edges, slab, ring, x1, y1, x2, y2
) -> tuple[tuple[np.ndarray, ...], tuple[np.ndarray, np.ndarray]]:
    """((x1, y1, x2, y2, k) of every segment appearing k > 1 times,
    (ring, n) of every ring with n > 0 segments among those copies),
    counted over the copies in the slab of their x1, which holds all
    copies of one segment. + 0.0 folds -0.0 into 0.0, as Spark's grouping
    keys do."""
    first = np.searchsorted(edges, x1, side="right") == slab
    keys = [c[first] + 0.0 for c in (x1, y1, x2, y2)]
    o = np.lexsort(keys[::-1])
    keys = [c[o] for c in keys]
    n = len(o)
    start = np.ones(n, dtype=bool)
    start[1:] = np.any([c[1:] != c[:-1] for c in keys], axis=0)
    heads = np.flatnonzero(start)
    k = np.diff(np.append(heads, n))
    dup = k > 1
    rings, ndup = np.unique(ring[first][o][np.repeat(dup, k)], return_counts=True)
    return (*(c[heads[dup]] for c in keys), k[dup]), (rings, ndup)


def _sweep(group: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Interval-overlap sweep along one axis, for every group of a batch
    at once. Segments sort by (group, lo); the candidates of sorted
    position p are positions p+1 .. end[p]-1, the later segments of the
    same group whose `lo` is at most hi[p]. Every pair of same-group
    segments whose intervals overlap appears exactly once, equal-`lo`
    ties included. Returns (order, end); `end` comes from a lock-step
    binary search over all positions, so no Python runs per group."""
    order = np.lexsort((lo, group))
    slo, shi, sgroup = lo[order], hi[order], group[order]
    n = len(order)
    left = np.arange(1, n + 1)
    right = np.searchsorted(sgroup, sgroup, side="right")
    while True:
        active = left < right
        if not active.any():
            return order, left
        mid = (left + right) >> 1
        go = active & (slo[np.minimum(mid, n - 1)] <= shi)
        left = np.where(go, mid + 1, left)
        right = np.where(active & ~go, mid, right)


def _candidate_pairs(group, x1, y1, x2, y2, chunk: int) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Same-group segment index pairs (i, j) whose extents overlap along
    the sweep axis, at most `chunk` pairs at a time. Each group sweeps
    along the axis that gives it fewer candidates (a ring running
    north-south would pair most of its segments on an x-sweep)."""
    sweeps = [_sweep(group, x1, x2), _sweep(group, np.minimum(y1, y2), np.maximum(y1, y2))]
    n_groups = int(group.max()) + 1
    per_group = [
        np.bincount(group[order], weights=end - np.arange(1, len(order) + 1), minlength=n_groups)
        for order, end in sweeps
    ]
    use_y = per_group[1] < per_group[0]
    for axis, (order, end) in enumerate(sweeps):
        cnt = end - np.arange(1, len(order) + 1)
        cnt[use_y[group[order]] != bool(axis)] = 0
        cum = np.cumsum(cnt)
        for s in range(0, int(cum[-1]), chunk):
            k = np.arange(s, min(s + chunk, int(cum[-1])))
            p = np.searchsorted(cum, k, side="right")
            q = p + 1 + k - (cum[p] - cnt[p])
            yield order[p], order[q]


def _crossings(group, x1, y1, x2, y2, chunk: int):
    """Every crossing of two segments of one group, as (a, b, x, y) arrays
    per chunk of candidate pairs; a < b index the segments, normalized as
    `ring_segments` normalizes them.

    `a` is the segment that comes first in the arrays; the bbox test and
    `geom.segment_intersections` decide a crossing (which rejects
    identical and endpoint-sharing pairs), with no cell rule: each
    candidate pair comes once, so each crossing does."""
    if len(group) == 0:
        return
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    for i, j in _candidate_pairs(group, x1, y1, x2, y2, chunk):
        a, b = np.minimum(i, j), np.maximum(i, j)
        near = (ylo[a] <= yhi[b]) & (ylo[b] <= yhi[a]) & (x1[a] <= x2[b]) & (x1[b] <= x2[a])
        a, b = a[near], b[near]
        mask, px, py = geom.segment_intersections(
            x1[a], y1[a], x2[a], y2[a], x1[b], y1[b], x2[b], y2[b]
        )
        if mask.any():
            yield a[mask], b[mask], px[mask], py[mask]


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
    chunk: int = PAIR_CHUNK,
) -> Iterator[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Every same-ring crossing of a batch of rings, as (ring, x, y) arrays
    yielded per chunk of candidate pairs; `ring` indexes the rings, whose
    points are xs/ys[offsets[r]:offsets[r+1]] (ListArray layout).

    Same rows as the same-ring rows `segment_sweep` finds over
    `ring_segments` of the rings, bit for bit: the ring is the sweep's
    group, and segments are in (ring, idx) order, so `a` is the
    lower-index segment of a pair. A ring is one group, so every pair of
    its segments is tested once: no slab clamp and no grid cell decide
    which crossings count."""
    seg, ring = _heads(np.asarray(offsets, dtype=np.int64))
    ax, ay, bx, by = xs[seg], ys[seg], xs[seg + 1], ys[seg + 1]
    fwd = (ax < bx) | ((ax == bx) & (ay <= by))
    x1, y1 = np.where(fwd, ax, bx), np.where(fwd, ay, by)
    x2, y2 = np.where(fwd, bx, ax), np.where(fwd, by, ay)
    for a, _b, px, py in _crossings(ring, x1, y1, x2, y2, chunk):
        yield ring[a], px, py


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


def ring_self_intersections(rings: DataFrame, repeated: bool = False) -> DataFrame:
    """G13 backbone: one (ring_id, x, y) row per ring of `rings` (ring_id,
    xs, ys) that crosses itself — or, with `repeated`, repeats an interior
    coordinate — at its lexicographic min (x, y) such point, the same
    point `F.min(F.struct("x", "y"))` picks. The numpy stand-in for GEOS
    IsValid + GEOSisValidReason's 'Self-intersection[x y]' parse
    (reference src/output_database.cpp:170-211), run per ring as the
    reference runs IsValid (src/coastline_ring_collection.cpp:148-168).

    Validity is a per-ring property, so this is one narrow mapInArrow
    stage: no exchange between a ring and its verdict. The kernel reads
    xs/ys as numpy views of the Arrow batch (`util.list_views`); the
    crossings are `ring_crossing_points`' (bit-identical to the same-ring
    rows of `intersection_pairs`)."""

    def kernel(batches):
        for batch in batches:
            offsets, xs = list_views(batch.column("xs"))
            y_offsets, ys = list_views(batch.column("ys"))
            if not np.array_equal(offsets, y_offsets):
                raise ValueError("ring_self_intersections: xs and ys lengths differ")
            # reduce each chunk's crossings to per-ring minima as they come
            parts = [_first_points([p]) for p in ring_crossing_points(offsets, xs, ys)]
            if repeated:
                parts.append(_repeated_points(offsets, xs, ys))
            r, x, y = _first_points(parts)
            ids = batch.column("ring_id").to_numpy()
            yield {"ring_id": ids[r], "x": x, "y": y}

    return arrow_stage(
        rings.select(F.col("ring_id").cast("long"), "xs", "ys"),
        kernel,
        "ring_id long, x double, y double",
    )
