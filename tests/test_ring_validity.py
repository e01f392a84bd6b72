"""Ring validity as a per-ring kernel (intersections.ring_self_intersections):
the same crossing points as the distributed cell-binned join, the job cost
of the triage, host-independent ring areas, and job groups on driver
threads."""

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmcoastline_spark.operators.intersections import (
    intersection_pairs,
    ring_crossing_points,
    ring_segments,
    ring_self_intersections,
)
from osmcoastline_spark.operators.repair import buffer0_triage
from osmcoastline_spark.util import run_concurrently

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CELL = 0.5


def _figure_eight(x, y, sx, sy, n):
    t = np.linspace(0, 2 * np.pi, n, endpoint=False) + 0.05
    return x + sx * np.sin(t), y + sy * np.sin(t) * np.cos(t)


def _rings(seed: int) -> list[tuple[list, list]]:
    """Open and closed rings built to hit the sweep's edge cases: origins
    and most vertices sit on the 0.25 grid, so segments run along cell
    borders (CELL = 0.5), cross exactly there, share minx, run
    vertically and overlap collinearly. A comb crosses a cell border
    many times; a shallow crossing at the border through 0 often rounds
    to a point outside the cells one segment covers, which the join's
    owner-cell rule drops."""
    rng = np.random.default_rng(seed)
    out = []
    for k in range(120):
        ox, oy = rng.integers(-8, 8) * CELL, rng.integers(-8, 8) * CELL
        kind = k % 10
        if kind == 0:  # figure eight, crossing near or on a cell border
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
        elif kind == 6:  # noisy star across cell borders
            m = int(rng.integers(10, 120))
            t = np.linspace(0, 2 * np.pi, m, endpoint=False)
            r = rng.uniform(0.2, 1.6, size=m)
            xs, ys = list(ox + r * np.cos(t)), list(oy + r * np.sin(t))
        elif kind == 7:  # comb on a cell border, vertical or horizontal
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
    for r, x, y in ring_crossing_points(offsets, xs, ys, CELL, chunk=chunk):
        rows += zip(r.tolist(), x.tolist(), y.tolist())
    return _bits(rows)


def _join_rows(df):
    """Same-ring rows of the distributed cell-binned join."""
    return (
        intersection_pairs(ring_segments(df), CELL)
        .filter(F.col("a_ring") == F.col("b_ring"))
        .select(F.col("a_ring").alias("ring_id"), "x", "y")
    )


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_kernel_points_equal_join_same_ring_rows(spark, seed):
    rings = _rings(seed)
    want = _bits(_join_rows(_frame(spark, rings)).collect())
    assert len({r for r, _x, _y in want}) > 30  # the shapes do cross
    assert _numpy_points(rings, chunk=1) == want
    assert _numpy_points(rings, chunk=1 << 40) == want


@pytest.mark.parametrize("seed", [3, 42])
def test_kernel_first_point_per_ring(spark, seed):
    df = _frame(spark, _rings(seed))
    join = _join_rows(df)
    first = lambda rows: (  # noqa: E731
        rows.groupBy("ring_id").agg(F.min(F.struct("x", "y")).alias("p"))
        .select("ring_id", "p.x", "p.y")
    )
    got = ring_self_intersections(df, CELL).collect()
    assert len(got) == len({r.ring_id for r in got})
    assert _bits(got) == _bits(first(join).collect())

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
    got = ring_self_intersections(df, CELL, repeated=True).collect()
    assert _bits(got) == _bits(first(join.unionByName(dups)).collect())


def test_kernel_sliced_batches(spark):
    """Arrow batches that are slices of one array share its child values:
    results must not depend on the batch size."""
    df = _frame(spark, _rings(5)).coalesce(1)
    want = _bits(ring_self_intersections(df, CELL).collect())
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        assert _bits(ring_self_intersections(df, CELL).collect()) == want
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


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


def test_triage_clean_rings_cost_one_job(spark):
    t = np.linspace(0, 2 * np.pi, 24, endpoint=False)
    clean = []
    for k in range(40):
        xs = list(k * 3.0 + np.cos(t)) + [k * 3.0 + 1.0]
        ys = list(np.sin(t)) + [0.0]
        clean.append(([float(v) for v in xs], [float(v) for v in ys]))
    rings = _polygonizable(spark, clean)
    j0 = _next_job_id(spark)
    out = buffer0_triage(rings, CELL)
    assert _next_job_id(spark) - j0 <= 1
    assert out is rings

    # a figure eight among them is flagged and repaired to one lobe
    xs, ys = _figure_eight(200.0, 0.0, 1.0, 0.8, 48)
    eight = ([float(v) for v in xs] + [float(xs[0])], [float(v) for v in ys] + [float(ys[0])])
    out = buffer0_triage(_polygonizable(spark, clean + [eight]), CELL)
    got = {r.ring_id: r.npoints for r in out.collect()}
    assert set(got) == set(range(41))
    assert got[40] < len(eight[0])


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
