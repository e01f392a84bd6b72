"""Segment crossings: the x-slab sweep (intersections.segment_sweep) and
ring validity as a per-ring kernel (intersections.ring_self_intersections)
give the same crossing points as an exact all-pairs reference, and the
same duplicate segments and per-ring duplicate counts as the groupBy and
the semi-join they replaced, kept here as the reference. Also the job
cost of the sweep and of the triage, host-independent ring areas, and
job groups on pool threads."""

import json
import os
import subprocess
import sys
import textwrap
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.operators.intersections import (
    _partition_keys,
    _spark_hash_int,
    duplicate_segment_counts,
    intersection_pairs,
    ring_crossing_points,
    ring_duplicate_counts,
    ring_segments,
    ring_self_intersections,
    segment_sweep,
    slab_checkpoint,
    slab_crossings,
    slab_duplicates,
)
from osmcoastline_spark.util import materialize
from osmcoastline_spark.operators.repair import buffer0_triage
from osmcoastline_spark.util import run_concurrently

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GRID = 0.5


def _figure_eight(x, y, sx, sy, n):
    t = np.linspace(0, 2 * np.pi, n, endpoint=False) + 0.05
    return x + sx * np.sin(t), y + sy * np.sin(t) * np.cos(t)


def _rings(seed: int) -> list[tuple[list, list]]:
    """Open and closed rings built to hit the sweep's edge cases: origins
    sit on multiples of GRID and most vertices on the 0.25 grid, so
    segments run along grid lines, cross exactly there, share minx, run
    vertically and overlap collinearly. A comb crosses a grid line many
    times; a shallow crossing of two nearly parallel edges at (0, 0)
    often rounds to a point just beside 0, across the slab edge
    `_edge_sets` puts there and outside the bbox of one of its segments."""
    rng = np.random.default_rng(seed)
    out = []
    for k in range(120):
        ox, oy = rng.integers(-8, 8) * GRID, rng.integers(-8, 8) * GRID
        kind = k % 10
        if kind == 0:  # figure eight, crossing near or on a grid line
            xs, ys = _figure_eight(ox, oy, rng.uniform(0.3, 2.0), rng.uniform(0.2, 1.5),
                                   int(rng.integers(8, 60)))
            xs, ys = list(xs), list(ys)
        elif kind == 1:  # spike: out and back along one segment
            xs = [ox, ox + 1, ox + 1, ox + 1.75, ox + 1, ox + 1, ox]
            ys = [oy, oy, oy + 0.5, oy + 0.5, oy + 0.5, oy + 1, oy + 1]
        elif kind == 2:  # two loops touching at a repeated vertex
            xs = [ox, ox + 1, ox + 0.5, ox + 1, ox + 2, ox + 2, ox + 1, ox + 0.5, ox]
            ys = [oy, oy, oy + 0.5, oy + 1, oy + 1, oy + 0.5, oy, oy + 0.5, oy + 0.5]
        elif kind == 3:  # collinear overlap along y = oy, and a vertical crossing
            xs = [ox, ox + 2, ox + 2, ox + 0.5, ox + 0.5, ox + 1.5, ox + 1.5, ox]
            ys = [oy, oy, oy + 1, oy + 1, oy, oy, oy - 0.5, oy - 0.5]
        elif kind == 4:  # axis-parallel walk on the grid: vertical runs, minx ties
            steps = rng.integers(0, 4, size=int(rng.integers(6, 40)))
            dx = np.array([0.25, -0.25, 0.0, 0.0])[steps]
            dy = np.array([0.0, 0.0, 0.25, -0.25])[steps]
            xs = list(ox + np.concatenate([[0.0], np.cumsum(dx)]))
            ys = list(oy + np.concatenate([[0.0], np.cumsum(dy)]))
        elif kind == 5:  # random grid polygon: many crossings, repeated points
            m = int(rng.integers(4, 30))
            xs = list(ox + rng.integers(-4, 5, size=m) * 0.25)
            ys = list(oy + rng.integers(-4, 5, size=m) * 0.25)
        elif kind == 6:  # noisy star across grid lines
            m = int(rng.integers(10, 120))
            t = np.linspace(0, 2 * np.pi, m, endpoint=False)
            r = rng.uniform(0.2, 1.6, size=m)
            xs, ys = list(ox + r * np.cos(t)), list(oy + r * np.sin(t))
        elif kind == 7:  # comb on a grid line, vertical or horizontal
            m = int(rng.integers(6, 30))
            along = np.sort(rng.uniform(-1, 1, size=m))
            across = rng.uniform(0.05, 1, size=m) * np.where(np.arange(m) % 2, 1, -1)
            u, v = list(across) + [0.0, 0.0], list(along) + [1.2, -1.2]
            xs, ys = (u, [oy + c for c in v]) if k % 2 else ([ox + c for c in v], u)
        elif kind == 8:  # two nearly parallel edges crossing at (0, 0)
            slope = rng.uniform(0.1, 1.0)
            ax1, ax2, bx2 = -rng.uniform(0.2, 1.0), rng.uniform(0.2, 1.0), rng.uniform(0.2, 1.0)
            xs = [ax1, ax2, bx2, 0.0]
            ys = [ax1 * slope, ax2 * slope, bx2 * slope * (1 + 10 ** rng.uniform(-12, -6)), 0.0]
        else:  # random float walk
            m = int(rng.integers(2, 80))
            xs = list(ox + np.cumsum(rng.normal(0, 0.3, size=m)))
            ys = list(oy + np.cumsum(rng.normal(0, 0.3, size=m)))
        if k % 3 and len(xs) > 2:  # closed; every third ring stays fake-closed
            xs, ys = xs + [xs[0]], ys + [ys[0]]
        out.append(([float(v) for v in xs], [float(v) for v in ys]))
    # degenerate sizes
    out += [([], []), ([1.0], [1.0]), ([0.0, 1.0], [0.0, 1.0])]
    return out


def _frame(spark, rings):
    return spark.createDataFrame(
        [(i, xs, ys) for i, (xs, ys) in enumerate(rings)],
        "ring_id long, xs array<double>, ys array<double>",
    )


def _bits(rows):
    return {(int(r), float(x).hex(), float(y).hex()) for r, x, y in rows}


def _numpy_points(rings, chunk):
    offsets = np.concatenate([[0], np.cumsum([len(xs) for xs, _ in rings])])
    xs = np.array([v for r in rings for v in r[0]], dtype=np.float64)
    ys = np.array([v for r in rings for v in r[1]], dtype=np.float64)
    rows = []
    for r, x, y in ring_crossing_points(offsets, xs, ys, chunk=chunk):
        rows += zip(r.tolist(), x.tolist(), y.tolist())
    return _bits(rows)


def _all_pairs(seg: pd.DataFrame) -> list[tuple]:
    """Every crossing of two segments as (a_ring, b_ring, x, y): the exact
    reference, with no sweep, bbox test or grid. Every pair i < j of the
    segments in (ring_id, idx) order goes through
    `geom.segment_intersections`, `a` first, as the kernels order a pair."""
    seg = seg.sort_values(["ring_id", "idx"])
    ring = seg["ring_id"].to_numpy()
    xy = [seg[c].to_numpy() for c in ("x1", "y1", "x2", "y2")]
    n, rows = len(ring), []
    for s in range(0, n, 64):
        i, j = np.nonzero(np.arange(s, min(s + 64, n))[:, None] < np.arange(n))
        i += s
        mask, px, py = geom.segment_intersections(*(c[i] for c in xy), *(c[j] for c in xy))
        rows += zip(*(v[mask].tolist() for v in (ring[i], ring[j], px, py)))
    return rows


def _same_ring_rows(df) -> list[tuple]:
    """(ring_id, x, y) of the reference's same-ring crossings."""
    return [(a, x, y) for a, b, x, y in _all_pairs(ring_segments(df).toPandas()) if a == b]


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_kernel_points_equal_join_same_ring_rows(spark, seed):
    rings = _rings(seed)
    want = _bits(_same_ring_rows(_frame(spark, rings)))
    assert len({r for r, _x, _y in want}) > 30  # the shapes do cross
    assert _numpy_points(rings, chunk=1) == want
    assert _numpy_points(rings, chunk=1 << 40) == want


@pytest.mark.parametrize("seed", [3, 42])
def test_kernel_first_point_per_ring(spark, seed):
    df = _frame(spark, _rings(seed))
    ref = spark.createDataFrame(_same_ring_rows(df), "ring_id long, x double, y double")
    first = lambda rows: (  # noqa: E731
        rows.groupBy("ring_id").agg(F.min(F.struct("x", "y")).alias("p"))
        .select("ring_id", "p.x", "p.y")
    )
    got = ring_self_intersections(df).collect()
    assert len(got) == len({r.ring_id for r in got})
    assert _bits(got) == _bits(first(ref).collect())

    # with `repeated`: also rings repeating a coordinate among all points
    # but the last, as the grouped explode of the earlier rings-mode path
    interior = F.slice(F.arrays_zip("xs", "ys"), 1, F.size("xs") - 1)
    dups = (
        df.filter(F.size("xs") > 0)
        .select("ring_id", F.explode(interior).alias("pt"))
        .groupBy("ring_id", F.col("pt.xs").alias("x"), F.col("pt.ys").alias("y"))
        .count()
        .filter("count > 1")
        .select("ring_id", "x", "y")
    )
    got = ring_self_intersections(df, repeated=True).collect()
    assert _bits(got) == _bits(first(ref.unionByName(dups)).collect())


def test_kernel_sliced_batches(spark):
    """Arrow batches that are slices of one array share its child values:
    results must not depend on the batch size."""
    df = _frame(spark, _rings(5)).coalesce(1)
    want = _bits(ring_self_intersections(df).collect())
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        assert _bits(ring_self_intersections(df).collect()) == want
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def _sweep_case(case) -> list[tuple[list, list]]:
    """Rings for the sweep tests: `_rings(seed)`, or the `dirty` benchmark
    workload's hand-placed rings (crossing ring pairs, figure eights,
    gaps, Antarctica) with a few islands, every ring closed. Every case
    adds a copy of every seventh ring (duplicate segments across rings), a
    horizontal segment longer than the whole case, which spans every
    slab, and a vertical segment at a vertex x, where `_edge_sets` puts
    an edge. Far from the rest: a path out and back along itself (a
    segment repeated inside one ring), and rings whose duplicate segments
    differ only in the sign of a zero coordinate, starting on the slab
    edge at 0.0 that `_edge_sets` puts in."""
    if case == "dirty":
        from perfbench.inputs import dirty

        rings = [(list(xs) + [xs[0]], list(ys) + [ys[0]]) for xs, ys in dirty(42, 10).rings]
    else:
        rings = _rings(case)
    xs = sorted(x for r in rings for x in r[0])
    ys = sorted(y for r in rings for y in r[1])
    vx = xs[len(xs) // 3]
    rings = rings + rings[::7] + [
        ([xs[0] - 1.0, xs[-1] + 1.0], [ys[len(ys) // 2]] * 2),
        ([vx, vx], [ys[0], ys[-1]]),
        ([600.0, 600.25, 600.5, 600.25, 600.0], [88.5] * 5),
        ([-0.0, 0.5, 0.5], [88.5, 88.5, 89.0]),
        ([0.0, 0.5], [88.5, 88.5]),
        ([700.0, 700.5], [-0.0, -0.0]),
        ([700.5, 700.0, 700.0], [0.0, 0.0, 0.5]),
    ]
    return [([float(v) for v in xs], [float(v) for v in ys]) for xs, ys in rings]


def _edge_sets(seg: pd.DataFrame) -> dict[str, list[float]]:
    x1 = seg["x1"].to_numpy()
    ends = np.unique(np.concatenate([x1, seg["x2"].to_numpy()]))
    vertical = seg.loc[seg["x1"] == seg["x2"], "x1"].iloc[-1]
    quantiles = np.quantile(x1, np.linspace(0, 1, 41)[1:-1], method="lower")
    return {
        "one_slab": [],
        # 0.0 is where the nearly parallel edges of `_rings` cross
        "endpoints": sorted({0.0, *ends[:: max(1, len(ends) // 8)]}),
        "vertical": sorted({float(vertical), float(np.median(x1))}),
        "quantiles": sorted(set(quantiles.tolist())),
    }


def _slab_rows(seg: pd.DataFrame, edges: list[float]):
    """The copies `segment_sweep` sends to the slabs, built with numpy:
    (slab, ring, idx, x1, y1, x2, y2) arrays."""
    lo = np.searchsorted(edges, seg["x1"].to_numpy(), side="right")
    hi = np.searchsorted(edges, seg["x2"].to_numpy(), side="right")
    n = hi - lo + 1
    rep = np.repeat(np.arange(len(seg)), n)
    slab = lo[rep] + np.arange(len(rep)) - np.repeat(np.cumsum(n) - n, n)
    cols = ("ring_id", "idx", "x1", "y1", "x2", "y2")
    return (slab, *(seg[c].to_numpy()[rep] for c in cols))


def _pair_bits(rows) -> Counter:
    return Counter((int(a), int(b), float(x).hex(), float(y).hex()) for a, b, x, y in rows)


def _dup_bits(rows) -> set:
    return {(*(float(v).hex() for v in r[:4]), int(r[4])) for r in rows}


def _ring_sums(rows) -> dict:
    """{ring: duplicated segments} from per-slab (ring, n) rows."""
    out = Counter()
    for r, n in rows:
        out[int(r)] += int(n)
    return dict(out)


@pytest.mark.parametrize("case", [1, 7, 42, "dirty"])
def test_sweep_equals_cell_join_and_group_by(spark, case):
    """The slab kernel, on numpy and in Spark, finds exactly the all-pairs
    reference's crossings (as a multiset, bit for bit), the groupBy's
    duplicate segments and, per ring, the number of its segments the
    semi-join with those keys keeps, for any slab edges: one slab, edges
    on segment endpoints, an edge under a vertical segment, and many
    slabs that one segment spans. Slabs share a kernel call as hash
    partitions share a task."""
    rings = _sweep_case(case)
    segs = ring_segments(_frame(spark, rings)).localCheckpoint()
    seg = segs.toPandas()
    want = _pair_bits(_all_pairs(seg))
    keys = ["x1", "y1", "x2", "y2"]
    dup_keys = segs.groupBy(*keys).agg(F.count("*").alias("k")).filter("k > 1")
    want_dup = _dup_bits(dup_keys.collect())
    want_rings = {
        r.ring_id: r["count"]
        for r in segs.join(dup_keys, keys, "left_semi").groupBy("ring_id").count().collect()
    }
    assert sum(n for (a, b, _x, _y), n in want.items() if a != b) > 10
    assert len(want_dup) > 10
    # every segment of the out-and-back path and of the signed-zero
    # copies is duplicated; the rings they copy are only in part
    n = len(rings)
    assert [want_rings.get(r) for r in range(n - 5, n)] == [4, 1, 1, 1, 1]
    for name, edges in _edge_sets(seg).items():
        e = np.asarray(edges, dtype=np.float64)
        rows = _slab_rows(seg, edges)
        got, got_dup, got_rings = [], [], []
        for part in range(3):
            slab, ring, idx, *xy = (a[rows[0] % 3 == part] for a in rows)
            chunk = 7 if name == "quantiles" else 1 << 16
            for r in slab_crossings(e, slab, ring, idx, *xy, chunk=chunk):
                got += zip(*r)
            dups, per_ring = slab_duplicates(e, slab, ring, *xy)
            got_dup += zip(*dups)
            got_rings += zip(*per_ring)
        assert _pair_bits(got) == want, name
        assert _dup_bits(got_dup) == want_dup, name
        assert _ring_sums(got_rings) == want_rings, name

        sweep = segment_sweep(segs, edges).localCheckpoint()
        assert _pair_bits(intersection_pairs(sweep).collect()) == want, name
        assert _dup_bits(duplicate_segment_counts(sweep).collect()) == want_dup, name
        assert _ring_sums(ring_duplicate_counts(sweep).collect()) == want_rings, name


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _polygonizable(spark, rings):
    return spark.createDataFrame(
        [
            (i, list(range(len(xs))), xs, ys, 1, False, i, len(xs))
            for i, (xs, ys) in enumerate(rings)
        ],
        "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
        "nways int, fixed boolean, lead long, npoints int",
    ).localCheckpoint(eager=True)


@pytest.mark.parametrize("dups", [False, True])
def test_sweep_job_count(spark, dups):
    """The segments checkpoint, which observes the slab edges, and the
    sweep checkpoint, which observes the duplicate keys: three jobs in
    all, with and without duplicate segments."""
    eights = [_figure_eight(3.0 * k, 0.0, 1.0, 0.8, 40) for k in range(60)]
    rings = [([float(v) for v in xs] + [float(xs[0])], [float(v) for v in ys] + [float(ys[0])])
             for xs, ys in eights]
    if dups:
        rings += rings[:5]
    df = _frame(spark, rings).localCheckpoint(eager=True)
    j0 = _next_job_id(spark)
    segs, edges = slab_checkpoint(ring_segments(df), 4)
    sweep, swept = materialize(segment_sweep(segs, edges), n_dup_keys=F.count("k"))
    assert _next_job_id(spark) - j0 <= 3
    assert len(edges) == 3
    assert swept["n_dup_keys"] == (5 * 40 if dups else 0)
    # a figure eight crosses itself once; a copy crosses itself once and
    # its original twice (each of the two crossing segments the other's)
    assert intersection_pairs(sweep).count() == 60 + (3 * 5 if dups else 0)


@pytest.mark.parametrize("n", [1, 2, 4, 7, 256])
def test_sweep_gives_every_slab_its_own_task(spark, n):
    """The sweep's shuffle keys put slab s in partition s: no two slabs
    share a task. Guards the Python copy of Spark's int hash."""
    keys = F.array(*map(F.lit, _partition_keys(n)))
    slabs = spark.range(n).select(F.col("id").cast("int").alias("slab"))
    placed = slabs.repartition(n, F.element_at(keys, F.col("slab") + 1)).select(
        "slab", F.spark_partition_id().alias("part")
    )
    assert all(r.slab == r.part for r in placed.collect())
    ints = spark.range(-300, 300).select(F.col("id").cast("int").alias("v"))
    assert all(_spark_hash_int(r.v) == r.h for r in ints.select("v", F.hash("v").alias("h")).collect())


def test_triage_clean_rings_cost_one_job(spark):
    t = np.linspace(0, 2 * np.pi, 24, endpoint=False)
    clean = []
    for k in range(40):
        xs = list(k * 3.0 + np.cos(t)) + [k * 3.0 + 1.0]
        ys = list(np.sin(t)) + [0.0]
        clean.append(([float(v) for v in xs], [float(v) for v in ys]))
    rings = _polygonizable(spark, clean)
    j0 = _next_job_id(spark)
    out = buffer0_triage(rings)
    assert _next_job_id(spark) - j0 <= 1
    assert out is rings

    # a figure eight among them is flagged and repaired to one lobe
    xs, ys = _figure_eight(200.0, 0.0, 1.0, 0.8, 48)
    eight = ([float(v) for v in xs] + [float(xs[0])], [float(v) for v in ys] + [float(ys[0])])
    out = buffer0_triage(_polygonizable(spark, clean + [eight]))
    got = {r.ring_id: r.npoints for r in out.collect()}
    assert set(got) == set(range(41))
    assert got[40] < len(eight[0])

    # a sliver whose only crossing rounds to a point beside 0, just outside
    # the bbox of one of its segments, is flagged and, unrepairable, dropped
    sliver = (
        [-0.4852079434741394, 0.669465798960377, 0.4247030917058705, 0.0, -0.4852079434741394],
        [-0.25149167753754453, 0.3469957141036197, 0.22013096534219118, 0.0, -0.25149167753754453],
    )
    rings = _polygonizable(spark, clean + [sliver])
    got = _bits(ring_self_intersections(rings).collect())
    assert got == _bits([(40, -3.4939553706925253e-06, -1.8109775596908406e-06)])
    out = buffer0_triage(rings)
    assert out is not rings
    assert {r.ring_id for r in out.collect()} == set(range(40))


def test_run_concurrently_jobs_carry_callers_group(spark):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("validity-test-group", "run_concurrently inherits the group")
    try:
        run_concurrently(lambda: spark.range(10).count(), lambda: spark.range(3).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("validity-test-group")) >= 2


def _cpu_coretypes() -> list[str]:
    """OpenBLAS core types this CPU can run, oldest first."""
    try:
        with open("/proc/cpuinfo") as fh:
            flags = set(next(ln for ln in fh if ln.startswith("flags")).split())
    except (OSError, StopIteration):
        return []
    need = {
        "Prescott": "sse3",
        "Nehalem": "sse4_2",
        "Sandybridge": "avx",
        "Haswell": "avx2",
        "Zen": "avx2",
        "SkylakeX": "avx512f",
        "Cooperlake": "avx512_bf16",
    }
    return [ct for ct, flag in need.items() if flag in flags]


def test_ring_area_bits_independent_of_blas_kernel():
    """The dirty workload's figure eights (equal lobes: Buffer(0) decides
    on a zero-sum tie) and crossing circles give the same area and
    repair bits under every OpenBLAS kernel the CPU supports."""
    cores = _cpu_coretypes()
    if len(cores) < 2:
        pytest.skip("fewer than two OpenBLAS core types on this CPU")
    probe = textwrap.dedent(
        """
        import json, sys
        import numpy as np
        sys.path.insert(0, sys.argv[1])
        from osmcoastline_spark import geom
        from osmcoastline_spark.operators.repair import buffer0_repair

        rings = []
        for x, y in ((-155.0, 85.31), (-150.0, 84.72), (-145.0, 85.13)):
            t = np.linspace(0, 2 * np.pi, 48, endpoint=False) + 0.05
            rings.append((x + np.sin(t), y + 0.8 * np.sin(t) * np.cos(t)))
        for x, y in ((-140.0, 85.2), (-135.0, 84.9)):
            t = np.linspace(0, 2 * np.pi, 36)
            for dx in (-0.5, 0.5):
                rings.append((x + dx + 0.8 * np.cos(t), y + 0.8 * np.sin(t)))
        out = []
        for xs, ys in rings:
            xs, ys = list(xs) + [xs[0]], list(ys) + [ys[0]]
            rep = buffer0_repair(xs, ys)
            out.append([
                geom.signed_area2(np.array(xs), np.array(ys)).hex(),
                None if rep is None else [float(v).hex() for v in rep[0] + rep[1]],
            ])
        print(json.dumps(out))
        """
    )
    results = {}
    for ct in cores:
        env = dict(os.environ, OPENBLAS_CORETYPE=ct)
        proc = subprocess.run(
            [sys.executable, "-c", probe, ROOT], env=env, capture_output=True, text=True,
            timeout=120,
        )
        assert proc.returncode == 0, proc.stderr
        results[ct] = json.loads(proc.stdout)
    first = results[cores[0]]
    for ct in cores[1:]:
        assert results[ct] == first, f"{ct} differs from {cores[0]}"
