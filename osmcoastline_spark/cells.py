"""Grid / Z-order cell encoding — the shuffle key of polygonize's
containment join and of the water tiles.

Cell binning assigns geometries to fixed grid cells (with boundary-cell
duplication for objects spanning cells), shuffles on the cell id, and does
exact geometry only within a cell. Segment crossings use no grid: they
run the reference's sorted sweep (src/coastline_ring_collection.cpp:277,
313-316) per x-slab (operators/intersections.py).

Cells are pure arithmetic (portable to DuckDB SQL for the oracle checks):

    ix = floor((lon + 180) / cell_deg)
    iy = floor((lat +  90) / cell_deg)
    cell = ix * 1_000_000 + iy            # collision-free for cell_deg ≥ 1e-3

A true Morton/Z-order interleave is also provided for locality-preserving
range partitioning of sinks (Iceberg sort order at scale).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CELL_STRIDE = 1_000_000


def cell_id_expr(lon: Column, lat: Column, cell_deg: float) -> Column:
    ix = F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")
    iy = F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")
    return (ix * F.lit(CELL_STRIDE) + iy).cast("long")


def bbox_cover_cells_expr(
    minx: Column, miny: Column, maxx: Column, maxy: Column, cell_deg: float,
    x0: float = -180.0, y0: float = -90.0,
) -> Column:
    """Array of covered cell ids as a pure Catalyst expression (sequence ×
    sequence cross-flatten) — keeps tile-cover joins JVM-side. `x0`/`y0`
    shift the grid origin so the same math serves any SRS extent (3857
    passes -MERC with a metre-sized cell)."""
    ix_lo = F.floor((minx - F.lit(x0)) / F.lit(cell_deg)).cast("long")
    ix_hi = F.floor((maxx - F.lit(x0)) / F.lit(cell_deg)).cast("long")
    iy_lo = F.floor((miny - F.lit(y0)) / F.lit(cell_deg)).cast("long")
    iy_hi = F.floor((maxy - F.lit(y0)) / F.lit(cell_deg)).cast("long")
    xs = F.sequence(ix_lo, ix_hi)
    ys = F.sequence(iy_lo, iy_hi)
    return F.flatten(
        F.transform(xs, lambda ix: F.transform(ys, lambda iy: ix * F.lit(CELL_STRIDE) + iy))
    )


def morton_interleave_expr(
    lon: Column,
    lat: Column,
    bits: int = 16,
    extent: tuple[float, float, float, float] = (-180.0, 180.0, -90.0, 90.0),
) -> Column:
    """Z-order (Morton) code as a Catalyst expression: interleave `bits`
    bits of the quantized x/y. Used as a sink sort key so spatially
    nearby rows land in the same files (Iceberg metadata pruning).

    `extent` is (minx, maxx, miny, maxy) of the coordinate system —
    degrees by default; pass the WebMercator square (±geom.MERC) for
    epsg=3857 geometry, whose metre-valued coordinates would otherwise
    all clamp to the top index (positive) or interleave sign-bit garbage
    (negative) and silently lose the spatial layout. Out-of-extent
    values clamp to the edge cells on BOTH sides (the original code only
    clamped above)."""
    minx, maxx, miny, maxy = extent
    ix = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << bits) - 1),
            F.floor(
                (lon - F.lit(minx)) / F.lit(maxx - minx) * F.lit(float(1 << bits))
            ).cast("long"),
        ),
    )
    iy = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << bits) - 1),
            F.floor(
                (lat - F.lit(miny)) / F.lit(maxy - miny) * F.lit(float(1 << bits))
            ).cast("long"),
        ),
    )
    code = F.lit(0).cast("long")
    for b in range(bits):
        code = (
            code
            + F.shiftleft(F.shiftright(ix, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(iy, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return code

