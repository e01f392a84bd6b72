"""Raster→vector tiling.

`vectorize_cells` is the inverse of the tile cover, an engine-level
spatial operator the north rule names ("raster↔vector tiling") that
generalizes what the reference does tile-by-tile: it merges a set of unit
grid cells (a raster mask — e.g. the "empty tiles become water" set of
reference src/coastline_polygons.cpp:322-360, which emits one rectangle
PER TILE) into maximal axis-aligned rectangles via the classic two-pass
scanline run-merge. Writing one water polygon per merged slab instead of
per tile cuts the output row count by the mean run length — at planet
scale the open-ocean tile set is ~70% of all tiles and merges into
O(rows) slabs.

It is pure Catalyst (window functions + aggregates, zero Python) and
fully SQL-expressible, so it carries a full value-hash oracle.

Scale posture: O(log_chunk(width)) exchanges for the hierarchical
horizontal merge (each level keyed on (y, x1 div chunk^k); only
chunk-edge-touching runs ascend, so every window partition is bounded by
the chunk constant — round 6, closing the round-5 "window partitions
bounded by raster width" watch item) plus one on the run span
`(x1, x2)`. Duplicate input cells are tolerated in-operator (lag-based
run starts), so no defensive `distinct` shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _merge_run_level(
    runs: DataFrame, span: int | None, split: bool = True
) -> tuple[DataFrame, DataFrame | None]:
    """One boundary-aware horizontal merge level over (y, x1, x2) runs.

    Partitions by (y, x1 div span) — ≤ 2·span/prev_span rows per window
    partition, since only runs touching the previous level's chunk edges
    reach this level — merges runs adjacent in x (next.x1 == prev.x2+1;
    a duplicate/overlap gap ≤ 1 joins the same group, keeping the
    dedup-free property), then splits the result into (final, continuing):
    a merged run continues iff it touches this level's span edges and
    could therefore still merge with a neighbor chunk's run. span=None is
    the terminal level (one partition per row y); split=False marks a
    level the caller has PROVEN complete (width ≤ span), so everything is
    final and the plan keeps a single consumer — no branch duplication."""
    if span is None:
        w = Window.partitionBy("y").orderBy("x1")
    else:
        runs = runs.withColumn("_ck", F.floor(F.col("x1") / span))
        w = Window.partitionBy("y", "_ck").orderBy("x1")
    start = F.when(
        F.lag("x2").over(w).isNull() | (F.col("x1") - F.lag("x2").over(w) > 1), 1
    ).otherwise(0)
    grouped = runs.withColumn("_r", F.sum(start).over(w))
    keys = ["y", "_r"] if span is None else ["y", "_ck", "_r"]
    merged = grouped.groupBy(*keys).agg(
        F.min("x1").alias("x1"), F.max("x2").alias("x2")
    )
    if span is None or not split:
        return merged.select("y", "x1", "x2"), None
    touching = (F.col("x1") % span == 0) | ((F.col("x2") + 1) % span == 0)
    return (
        merged.filter(~touching).select("y", "x1", "x2"),
        merged.filter(touching).select("y", "x1", "x2"),
    )


def vectorize_cells(
    cells: DataFrame,
    x_col: str = "tx",
    y_col: str = "ty",
    chunk: int = 8192,
    width: int | None = None,
) -> DataFrame:
    """Merge unit cells into maximal rectangles (scanline run-merge).

    Pass 1 groups consecutive cells per row into horizontal runs; pass 2
    merges vertically adjacent runs with identical (x1, x2) spans into
    rectangles. The result is the standard deterministic scanline
    decomposition: rectangles are disjoint and their union is exactly the
    input cell set (the minimal rectangle cover would be NP-hard; the
    scanline decomposition is the canonical linear-work one).

    Output: (x1, y1, x2, y2, ncells) with inclusive cell bounds.
    Duplicate input cells are tolerated: a duplicate is "not a run start"
    exactly like a +1 neighbor, so no pre-distinct pass is needed.

    Row-width bound (round 6, closes the round-5 watch item): pass 1 is
    HIERARCHICAL — cells first merge within (y, x div chunk) windows
    (≤ chunk cells per partition), then only the runs touching chunk
    edges (≤ 2 per chunk) ascend through chunk², chunk³, … windows
    (≤ 2·chunk rows per partition each) until one terminal per-row pass
    merges what remains (≤ 2·width/chunk^levels rows). No window
    partition scales with the raster width any more — a 2^z-cell scanline
    previously sorted through ONE partition. Identical output to the flat
    scanline by construction (each level performs the same adjacency
    merge; interior runs can never merge across a chunk edge). Pass
    `width` (the grid's x extent, when the caller knows it — e.g. the
    water tile grid) to run exactly ceil(log_chunk(width)) levels; the
    default covers any practical zoom with 3 levels. CONTRACT: `width`
    must strictly bound the x coordinates (0 <= x < width) — it proves
    the last merge level complete, so an out-of-range cell would leave an
    unmerged seam; omit `width` for unbounded or negative lattices.
    """
    if chunk < 2:
        raise ValueError(f"chunk must be >= 2, got {chunk}")
    import math

    if width is not None:
        levels = max(1, math.ceil(math.log(max(width, 2)) / math.log(chunk)))
    else:
        levels = 3
    runs = cells.select(
        F.col(y_col).alias("y"),
        F.col(x_col).alias("x1"),
        F.col(x_col).alias("x2"),
    )
    final_parts = []
    # `width` (non-negative coords < width) proves the last level complete:
    # its span ≥ width puts every run of a row in ONE chunk, so the level
    # needs no final/continuing split and the plan keeps single consumers
    complete = width is not None and width <= chunk**levels
    for k in range(levels):
        fin, runs = _merge_run_level(
            runs,
            chunk ** (k + 1),
            split=not (complete and k == levels - 1),
        )
        final_parts.append(fin)
        if runs is None:
            break
    if runs is not None:
        fin, _ = _merge_run_level(runs, None)
        final_parts.append(fin)
    runs = final_parts[0]
    for part in final_parts[1:]:
        runs = runs.unionByName(part)
    span_w = Window.partitionBy("x1", "x2").orderBy("y")
    vstart = F.when(
        F.lag("y").over(span_w).isNull()
        | (F.col("y") - F.lag("y").over(span_w) > 1),
        1,
    ).otherwise(0)
    return (
        runs.withColumn("vrun", F.sum(vstart).over(span_w))
        .groupBy("x1", "x2", "vrun")
        .agg(F.min("y").alias("y1"), F.max("y").alias("y2"))
        .select(
            "x1",
            "y1",
            "x2",
            "y2",
            (
                (F.col("x2") - F.col("x1") + 1)
                * (F.col("y2") - F.col("y1") + 1)
            ).alias("ncells"),
        )
    )
