"""R5 — water polygons as the per-tile inverse of land + G15 tile grid.

Reference: src/coastline_polygons.cpp:322-442 recursively partitions land
polygons into bboxes (≤100 per leaf) and computes box − p1 − p2 − …; the SQL
formulation (simplify_and_split_postgis/create_water_polygons.sql:13-31) is
per-tile `ST_Difference(tile, ST_Union(land))` plus whole-tile water for
land-free tiles (J15 anti-join). We implement the SQL formulation — it is
the shape that parallelizes:

    tile-cover join (J12: a polygon overlapping k tiles clones into k rows —
    exactly the reference's clone-into-both-children at :430-432)
    → groupBy(tile) collects the tile's land parts in the JVM
    → one mapInArrow stage computes tile − land per tile (`tile_water`)
    → anti-join for land-free tiles, whose whole-tile rectangles are
      column math.

Water region representation: even-odd polygon — shell = tile rectangle,
interior rings = land shells AND land holes clipped to the tile (a land hole
is water, so its ring flips the region back in; even-odd gives exactly
tile − (shell − holes)). Area/containment semantics are exact; OGC-strict
multi-shell decomposition is deferred to the sink.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.cells import CELL_STRIDE, bbox_cover_cells_expr
from osmcoastline_spark.util import arrow_stage, column_rows


def tile_grid(spark, zoom: int, extent=(-180.0, -90.0, 180.0, 90.0)) -> DataFrame:
    """G15: 2^zoom × 2^zoom tile grid as pure column math over spark.range
    (reference setup_bbox_tiles.sql:13-25)."""
    n = 2**zoom
    w = (extent[2] - extent[0]) / n
    h = (extent[3] - extent[1]) / n
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("tx"),
            (F.col("id") / n).cast("long").alias("ty"),
        )
        .select(
            "tx",
            "ty",
            (F.lit(extent[0]) + F.col("tx") * w).alias("tile_minx"),
            (F.lit(extent[1]) + F.col("ty") * h).alias("tile_miny"),
            (F.lit(extent[0]) + (F.col("tx") + 1) * w).alias("tile_maxx"),
            (F.lit(extent[1]) + (F.col("ty") + 1) * h).alias("tile_maxy"),
        )
    )


def tile_grid_overlap_4326(
    spark,
    cell_deg: float = 1.0,
    overlap: float = 0.0005,
    extent=(-180.0, -90.0, 179.99999999, 89.99999999),
) -> DataFrame:
    """Spatialite grid variant (reference
    simplify_and_split_spatialite/create_grid_4326.sql:21-41): a 1°-cell
    grid whose per-cell overlap is LATITUDE-DEPENDENT in x — the overlap
    holds a constant ground distance, so it widens by 1/cos(mid-latitude)
    toward the poles — constant (0.0005°) in y, both clamped to the
    extent so cells never spill over the antimeridian/poles. Pure column
    math over spark.range, like tile_grid (the postgis-style uniform
    variant)."""
    nx = int(math.ceil((extent[2] - extent[0]) / cell_deg))
    ny = int(math.ceil((extent[3] - extent[1]) / cell_deg))
    base = spark.range(nx * ny).select(
        (F.col("id") % nx).alias("tx"),
        (F.col("id") / nx).cast("long").alias("ty"),
    )
    minx = F.lit(extent[0]) + F.col("tx") * cell_deg
    miny = F.lit(extent[1]) + F.col("ty") * cell_deg
    maxx = F.least(minx + cell_deg, F.lit(extent[2]))
    maxy = F.least(miny + cell_deg, F.lit(extent[3]))
    ox = F.lit(overlap) / F.cos(F.radians((miny + maxy) * 0.5))
    return base.select(
        "tx",
        "ty",
        F.greatest(minx - ox, F.lit(extent[0])).alias("tile_minx"),
        F.greatest(miny - F.lit(overlap), F.lit(extent[1])).alias("tile_miny"),
        F.least(maxx + ox, F.lit(extent[2])).alias("tile_maxx"),
        F.least(maxy + F.lit(overlap), F.lit(extent[3])).alias("tile_maxy"),
    )


OWN_FIELDS = ("own_minx", "own_miny", "own_maxx", "own_maxy")


def tile_water(cell: int, tile: tuple, parts, clip_owned: bool) -> dict | None:
    """tile − land for ONE cell: the output row dict, or None when the
    tile is fully covered by land. `tile` = (minx, miny, maxx, maxy);
    `parts` are the land polygons touching it, in a fixed order (hole
    order and the float area summation follow it), each indexable by
    field name (dict or Row) with shell_x, shell_y, holes_x, holes_y (a
    list, or None for no holes) and, when `clip_owned`, the owned-region
    box fields (OWN_FIELDS)."""
    tminx, tminy, tmaxx, tmaxy = tile
    tile_area2 = 2.0 * (tmaxx - tminx) * (tmaxy - tminy)
    holes_x, holes_y = [], []
    covered_area2 = 0.0
    # split pieces OVERLAP their siblings in the 2*expand seam band
    # (reference bbox_overlap) — under this tile's even-odd ring
    # representation a twice-covered band point flips back to "water"
    # and covered_area2 double-counts the band. Clipping every piece
    # to its OWNED region box (split.py lineage: the un-expanded
    # midline cuts) restores a disjoint land cover; parts without the
    # lineage (no-split path) clip to the tile alone.
    for row in parts:
        cminx, cminy, cmaxx, cmaxy = tminx, tminy, tmaxx, tmaxy
        if clip_owned:
            cminx = max(cminx, float(row["own_minx"]))
            cminy = max(cminy, float(row["own_miny"]))
            cmaxx = min(cmaxx, float(row["own_maxx"]))
            cmaxy = min(cmaxy, float(row["own_maxy"]))
            if cminx >= cmaxx or cminy >= cmaxy:
                continue
        rings = [(np.asarray(row["shell_x"]), np.asarray(row["shell_y"]))]
        for hx, hy in zip(row["holes_x"] or (), row["holes_y"] or ()):
            rings.append((np.asarray(hx), np.asarray(hy)))
        for i, (rx, ry) in enumerate(rings):
            for px, py in geom.clip_ring_rect(rx, ry, cminx, cminy, cmaxx, cmaxy):
                a2 = abs(geom.signed_area2(px, py))
                if a2 == 0.0:
                    continue
                covered_area2 += a2 if i == 0 else -a2
                holes_x.append(px.tolist())
                holes_y.append(py.tolist())
    if covered_area2 >= tile_area2 - 1e-12:
        return None
    return {
        "cell": cell,
        "shell_x": [tminx, tminx, tmaxx, tmaxx],
        "shell_y": [tminy, tmaxy, tmaxy, tminy],  # clockwise (GIS outer)
        "holes_x": holes_x,
        "holes_y": holes_y,
        "env_minx": tminx,
        "env_miny": tminy,
        "env_maxx": tmaxx,
        "env_maxy": tmaxy,
    }


def water_polygons(
    land: DataFrame, cell_deg: float, extent=(-180.0, -90.0, 180.0, 90.0),
    include_empty_tiles: bool = False, unit_per_deg: float = 1.0,
    merge_empty_tiles: bool = False,
) -> DataFrame:
    """Water = tile − land for every tile the land touches (and optionally
    full-water tiles for the rest of the world).

    `land`: POLYGONS_SCHEMA columns. Tiles are the cell grid of size
    `cell_deg × unit_per_deg` anchored at the extent origin: pass
    unit_per_deg = MERC/180 for 3857 so `water_cell_deg=1.0` means "one
    degree worth of tile" in any SRS (degree-space constants would
    generate ~4e7 cells per mercator polygon). Output: tile cell id +
    water polygon (shell=tile, holes=land pieces), env bounds.
    """
    spark = land.sparkSession
    x0, y0 = extent[0], extent[1]
    cell = cell_deg * unit_per_deg
    covered = land.withColumn(
        "cell",
        F.explode(
            bbox_cover_cells_expr(
                F.col("env_minx"), F.col("env_miny"), F.col("env_maxx"), F.col("env_maxy"),
                cell, x0=x0, y0=y0,
            )
        ),
    )

    def tile_bounds(c: int) -> tuple[float, float, float, float]:
        ix, iy = divmod(int(c), CELL_STRIDE)
        return (
            ix * cell + x0,
            iy * cell + y0,
            (ix + 1) * cell + x0,
            (iy + 1) * cell + y0,
        )

    schema = (
        "cell long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "env_minx double, env_miny double, env_maxx double, env_maxy double"
    )
    # JVM pre-aggregation + one kernel call per Arrow batch instead of a
    # grouped-map pandas UDF — the per-GROUP pandas-DataFrame construction
    # dominates when groups are tile-sized (measured round 6: 1.9 s → 0.9 s
    # for 3286 tiles at bench sf0.1; same finding as merge_apply).
    # sort_array orders parts by the struct's leading field — poly_id when
    # present (every pipeline/test caller), reproducing the old explicit
    # poly_id sort: hole order and the float area summation order stay
    # bit-identical across runs, whatever order the parts arrive in.
    part_fields = [
        c
        for c in ("poly_id", "shell_x", "shell_y", "holes_x", "holes_y", *OWN_FIELDS)
        if c in covered.columns
    ]
    # seam clipping is decided once, from the schema (every part has the
    # same fields); a partial owned-region box then fails on the missing
    # field instead of silently skipping the clip
    clip_owned = any(f in part_fields for f in OWN_FIELDS)
    grouped = covered.groupBy("cell").agg(
        F.sort_array(F.collect_list(F.struct(*part_fields))).alias("parts")
    )

    def diff_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for batch in batches:
            rows = []
            for cell, parts in zip(
                batch.column("cell").to_pylist(), column_rows(batch.column("parts"))
            ):
                r = tile_water(cell, tile_bounds(cell), parts, clip_owned)
                if r is not None:
                    rows.append(r)
            if rows:
                yield {k: [r[k] for r in rows] for k in rows[0]}

    water = arrow_stage(grouped, diff_batch, schema)

    if include_empty_tiles:
        nx = int(round((extent[2] - extent[0]) / cell))
        ny = int(round((extent[3] - extent[1]) / cell))
        all_tiles = spark.range(nx * ny).select(
            ((F.col("id") % nx) * CELL_STRIDE + (F.col("id") / nx).cast("long")).alias("cell")
        )
        # J15: tiles with no land at all ⇒ whole-tile water
        empty = all_tiles.join(covered.select("cell").distinct(), "cell", "left_anti")

        cells = empty.select(
            (F.col("cell") / CELL_STRIDE).cast("long").alias("tx"),
            (F.col("cell") % CELL_STRIDE).alias("ty"),
        )
        if merge_empty_tiles:
            # raster→vector: merge the open-ocean tile set into maximal
            # slabs (operators/vectorize.py) — ONE water polygon per
            # merged rectangle instead of one per tile. Opt-in: the
            # reference emits per-tile rectangles
            # (src/coastline_polygons.cpp:322-360), so default output
            # parity keeps the per-tile shape. At planet scale the empty
            # set is ~70% of all tiles; the slab output is O(coastline
            # rows), not O(world tiles).
            from osmcoastline_spark.operators.vectorize import vectorize_cells

            rects = vectorize_cells(cells, width=nx)
        else:
            # one whole-tile rectangle per land-free tile
            rects = cells.select(
                F.col("tx").alias("x1"), F.col("ty").alias("y1"),
                F.col("tx").alias("x2"), F.col("ty").alias("y2"),
            )
        # pure column math: the polygon corners come straight from the
        # cell bounds, with tile_bounds' float operations in its order
        minx = F.col("x1") * cell + F.lit(x0)
        miny = F.col("y1") * cell + F.lit(y0)
        maxx = (F.col("x2") + 1) * cell + F.lit(x0)
        maxy = (F.col("y2") + 1) * cell + F.lit(y0)
        water = water.unionByName(
            rects.select(
                (F.col("x1") * CELL_STRIDE + F.col("y1")).alias("cell"),
                F.array(minx, minx, maxx, maxx).alias("shell_x"),
                F.array(miny, maxy, maxy, miny).alias("shell_y"),
                F.array().cast("array<array<double>>").alias("holes_x"),
                F.array().cast("array<array<double>>").alias("holes_y"),
                minx.alias("env_minx"),
                miny.alias("env_miny"),
                maxx.alias("env_maxx"),
                maxy.alias("env_maxy"),
            )
        )

    return water


def drop_antimeridian_slivers(water: DataFrame, max_x: float = 179.9999) -> DataFrame:
    """F7 (reference src/coastline_polygons.cpp:316-320,469-490): drop water
    polygons whose envelope lies entirely inside the antimeridian sliver
    bands — pure column predicates on the envelope."""
    return water.filter(
        ~((F.col("env_minx") >= max_x) | (F.col("env_maxx") <= -max_x))
    )
