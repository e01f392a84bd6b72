"""Raster→vector run-merge (operators/vectorize.py)."""

import itertools

from osmcoastline_spark.operators.vectorize import vectorize_cells


def _cells_df(spark, pts, dup=False):
    rows = [(int(x), int(y)) for x, y in pts]
    if dup:
        rows = rows + rows[:: 2]
    return spark.createDataFrame(rows, "tx: long, ty: long")


def _rects(df):
    return sorted(
        (r.x1, r.y1, r.x2, r.y2, r.ncells)
        for r in df.collect()
    )


def _covered(rects):
    out = set()
    for x1, y1, x2, y2, _ in rects:
        out |= set(itertools.product(range(x1, x2 + 1), range(y1, y2 + 1)))
    return out


def test_vectorize_hand_shapes(spark):
    # L-shape: rows y=0 span x 0..2, y=1 span x 0..0 — two rectangles
    # (the 3x1 bar cannot extend down because spans differ)
    df = _cells_df(spark, [(0, 0), (1, 0), (2, 0), (0, 1)])
    assert _rects(vectorize_cells(df)) == [
        (0, 0, 2, 0, 3),
        (0, 1, 0, 1, 1),
    ]
    # solid 2x3 block merges to ONE rectangle
    block = _cells_df(spark, itertools.product(range(2), range(3)))
    assert _rects(vectorize_cells(block)) == [(0, 0, 1, 2, 6)]
    # two islands separated by a gap in the same row stay separate
    gap = _cells_df(spark, [(0, 5), (1, 5), (4, 5)])
    assert _rects(vectorize_cells(gap)) == [
        (0, 5, 1, 5, 2),
        (4, 5, 4, 5, 1),
    ]


def test_vectorize_partition_property_and_dups(spark):
    # pseudo-random mask: rectangles are disjoint (sum ncells == |cells|)
    # and their union is exactly the input set; duplicate input rows are
    # absorbed without a distinct pass
    pts = [
        (x, y)
        for x in range(12)
        for y in range(9)
        if (x * 31 + y * 17) % 5 < 3
    ]
    for dup in (False, True):
        rects = _rects(vectorize_cells(_cells_df(spark, pts, dup=dup)))
        assert _covered(rects) == set(pts)
        assert sum(r[4] for r in rects) == len(pts)


def test_vectorize_plan_shape(spark):
    # with a known width within one chunk: exactly the 2 documented
    # exchanges (chunked row key — one level — then run span); no Python
    # nodes. The window partition (y, chunk) is reused by the run groupBy.
    df = _cells_df(spark, [(0, 0), (1, 0)])
    plan = (
        vectorize_cells(df, width=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 2, plan
    assert "Python" not in plan and "InPandas" not in plan


def test_vectorize_chunked_matches_flat(spark):
    """The hierarchical (bounded-partition) merge must emit EXACTLY the
    flat scanline's rectangles — exercised with a tiny chunk so runs
    cross multiple chunk edges and every level does real work."""
    import random

    rng = random.Random(11)
    pts = set()
    for y in range(6):
        xpos = 0
        while xpos < 64:
            run = rng.randint(1, 9)
            for i in range(run):
                if xpos + i < 64:  # honor the width=64 contract below
                    pts.add((xpos + i, y))
            xpos += run + rng.randint(1, 3)
    # full-width row: one run crossing every chunk boundary
    pts |= {(x, 6) for x in range(64)}
    df = _cells_df(spark, sorted(pts), dup=True)
    flat = _rects(vectorize_cells(df, width=64, chunk=128))  # single window
    for chunk, width in ((4, 64), (4, None), (8, None)):
        got = _rects(vectorize_cells(df, chunk=chunk, width=width))
        assert got == flat, (chunk, width)
    assert _covered(flat) == pts

