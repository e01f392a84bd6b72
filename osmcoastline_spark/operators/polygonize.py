"""R3 — polygonization with hole nesting (reference: src/osmcoastline.cpp:74-152
via GDAL organizePolygons(METHOD=ONLY_CCW)) re-expressed Spark-first.

Classification follows ONLY_CCW semantics: rings are emitted reversed
(OSM land-left CCW → GIS CW, reference ogr_polygon(reverse=true)); after the
reversal a ring wound CW is an OUTER shell and a ring wound CCW is a hole
candidate. A hole attaches to the smallest shell containing its first
vertex; a CCW ring with no containing shell becomes its own polygon (that's
the wrong-direction case — fix_direction flips it and warns). A shell whose
holes nest inside each other is INVALID (hole-in-hole,
valid-inland-sea-with-island golden: the polygon is dropped with errors++).

Scale design (the raster↔vector trick from the north rule): containment of
a point in a giant shell (Eurasia, 10^6+ vertices) must not ship the shell's
array to every candidate. Each shell pre-classifies its envelope's grid
cells once:

    boundary cells — cells its ring passes through  → exact ray-cast needed
    inside cells   — cell center inside, no segment → containment is free

Hole vertices landing in inside-cells are contained with no geometry join;
only vertices in boundary cells join the shell's coordinate arrays. Exact
ray-cast work is ∝ coastline-adjacent candidates, not ∝ candidates.

The cell classification, the exact ray-casts and the hole-in-hole check
are mapInArrow stages (util.arrow_stage) over numpy views of the rings;
the check reads the per-shell hole aggregate (groupBy + collect_list) that
the polygons join, so the two share its exchange.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmcoastline_spark import geom
from osmcoastline_spark.cells import CELL_STRIDE, cell_id_expr
from osmcoastline_spark.util import arrow_stage, column_rows, list_views, materialize

DEFAULT_CELL_DEG = 1.0


def _area2_expr(xc: str, yc: str):
    """Signed shoelace (×2) as a pure Catalyst expression (stays in codegen)."""
    return F.aggregate(
        F.zip_with(
            F.slice(xc, 1, F.size(xc) - 1),
            F.slice(yc, 2, F.size(yc) - 1),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) - F.aggregate(
        F.zip_with(
            F.slice(xc, 2, F.size(xc) - 1),
            F.slice(yc, 1, F.size(yc) - 1),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def classify_container_cells(rings: DataFrame, cell_deg: float = DEFAULT_CELL_DEG) -> DataFrame:
    """Per ring: (ring_id, cell, kind) — 'bnd' (ring passes through) or
    'in' (cell center strictly inside). Batched point-in-polygon backbone."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for batch in batches:
            rids, cells, kinds = [], [], []
            offsets, all_xs = list_views(batch.column("xs"))
            _, all_ys = list_views(batch.column("ys"))
            for i, rid in enumerate(batch.column("ring_id").to_numpy()):
                xs = all_xs[offsets[i] : offsets[i + 1]]
                ys = all_ys[offsets[i] : offsets[i + 1]]
                ix = np.floor((xs + 180.0) / cell_deg).astype(np.int64)
                iy = np.floor((ys + 90.0) / cell_deg).astype(np.int64)
                # boundary cells: vectorized edge-bbox rasterization — for
                # edge e spanning nx[e]×ny[e] cells, enumerate t∈[0,cnt[e])
                # with gx = x_lo + t//ny, gy = y_lo + t%ny (a 10^6-vertex
                # shell is ~10^6 numpy ops, not millions of Python loops)
                x_lo = np.minimum(ix[:-1], ix[1:])
                x_hi = np.maximum(ix[:-1], ix[1:])
                y_lo = np.minimum(iy[:-1], iy[1:])
                y_hi = np.maximum(iy[:-1], iy[1:])
                ny = y_hi - y_lo + 1
                cnt = (x_hi - x_lo + 1) * ny
                e_idx = np.repeat(np.arange(len(cnt)), cnt)
                t = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(
                    np.cumsum(cnt) - cnt, cnt
                )
                gx = x_lo[e_idx] + t // ny[e_idx]
                gy = y_lo[e_idx] + t % ny[e_idx]
                bnd = np.unique(gx * CELL_STRIDE + gy)
                # interior candidates: envelope grid minus boundary cells,
                # batched center-in-ring test
                cgx, cgy = np.meshgrid(
                    np.arange(ix.min(), ix.max() + 1, dtype=np.int64),
                    np.arange(iy.min(), iy.max() + 1, dtype=np.int64),
                    indexing="ij",
                )
                cgx, cgy = cgx.ravel(), cgy.ravel()
                env_cells = cgx * CELL_STRIDE + cgy
                free = ~np.isin(env_cells, bnd)
                if free.any():
                    cx = (cgx[free] + 0.5) * cell_deg - 180.0
                    cy = (cgy[free] + 0.5) * cell_deg - 90.0
                    inside = geom.points_in_ring(cx, cy, xs, ys)
                    in_cells = env_cells[free][inside]
                else:
                    in_cells = np.empty(0, dtype=np.int64)
                n_in, n_bnd = len(in_cells), len(bnd)
                rids.append(np.full(n_in + n_bnd, rid, dtype=np.int64))
                cells.append(np.concatenate([in_cells, bnd]))
                kinds += ["in"] * n_in + ["bnd"] * n_bnd
            yield {
                "ring_id": np.concatenate(rids) if rids else np.empty(0, np.int64),
                "cell": np.concatenate(cells) if cells else np.empty(0, np.int64),
                "kind": kinds,
            }

    return arrow_stage(
        rings.select("ring_id", "xs", "ys"), run, "ring_id long, cell long, kind string"
    )


def containment_pairs(
    points: DataFrame, containers: DataFrame, cell_deg: float = DEFAULT_CELL_DEG
) -> DataFrame:
    """(point_id, container_id) for every point strictly inside a container
    ring. points: (point_id, px, py); containers: (ring_id, xs, ys)."""
    pts = points.withColumn("cell", cell_id_expr(F.col("px"), F.col("py"), cell_deg))
    cls = classify_container_cells(containers, cell_deg).withColumnRenamed(
        "ring_id", "container_id"
    )
    hits = pts.join(cls, "cell")
    free = hits.filter(F.col("kind") == "in").select("point_id", "container_id")
    bnd = (
        hits.filter(F.col("kind") == "bnd")
        .select("point_id", "px", "py", "container_id")
        .join(
            containers.select(
                F.col("ring_id").alias("container_id"),
                F.col("xs").alias("cxs"),
                F.col("ys").alias("cys"),
            ),
            "container_id",
        )
    )

    def exact(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for batch in batches:
            px, py = batch.column("px").to_numpy(), batch.column("py").to_numpy()
            offsets, cxs = list_views(batch.column("cxs"))
            _, cys = list_views(batch.column("cys"))
            keep = [
                i
                for i in range(batch.num_rows)
                if geom.points_in_ring(
                    px[i : i + 1],
                    py[i : i + 1],
                    cxs[offsets[i] : offsets[i + 1]],
                    cys[offsets[i] : offsets[i + 1]],
                )[0]
            ]
            kept = batch.take(pa.array(keep, pa.int64()))
            yield {c: kept.column(c) for c in ("point_id", "container_id")}

    exact_pairs = arrow_stage(bnd, exact, "point_id long, container_id long")
    return free.unionByName(exact_pairs).distinct()


# O(holes²) point-in-ring per shell — bounded like MAX_REPAIR_POINTS:
# real shells carry at most dozens of holes; a pathological shell with
# more holes than the cap is declared invalid outright (cheaper and
# safer than an unbounded quadratic task on one executor)
MAX_HOLES_PAIRWISE = 10_000


def _holes_nest(hxs: list, hys: list) -> bool:
    """Whether any hole of a shell holds another hole's first vertex
    (hole-in-hole makes the shell invalid)."""
    n = len(hxs)
    if n > MAX_HOLES_PAIRWISE:
        return True
    return any(
        i != j and geom.points_in_ring(hxs[i][:1], hys[i][:1], hxs[j], hys[j])[0]
        for i in range(n)
        for j in range(n)
    )


@dataclass
class PolygonizeResult:
    polygons: DataFrame
    invalid_count: int
    good_count: int  # rows in `polygons` — reuse instead of a count job
    invalid_error_lines: DataFrame  # 'invalid' error lines (empty when the
    # run produced a single polygon — reference quirk, osmcoastline.cpp:140-146
    # vs :91-99)


def polygonize(rings: DataFrame, cell_deg: float = DEFAULT_CELL_DEG) -> PolygonizeResult:
    """Closed rings (npoints>3, OSM orientation) → polygons with holes."""
    # the shell and hole-candidate counts, observed while the checkpoint
    # is written, decide the shape of the rest of the plan: with ZERO hole
    # candidates (the common coastline case — islands are simple CCW
    # rings) the containment join, the hole-in-hole check, the hole
    # aggregation and the second full-array checkpoint all run over empty
    # inputs, ~8 driver-floor jobs of nothing. Branching on the count
    # produces identical output (every ring is a shell polygon with NULL
    # hole columns and bad=false).
    rev, seen = materialize(
        rings.select(
            "ring_id",
            F.reverse("xs").alias("xs"),
            F.reverse("ys").alias("ys"),
            "nways",
            "fixed",
        ).withColumn("area2", _area2_expr("xs", "ys")),
        n_shells=F.count_if(F.col("area2") < 0),
        n_holes=F.count_if(F.col("area2") >= 0),
    )
    n_shells, n_holes = seen["n_shells"], seen["n_holes"]

    shells = rev.filter(F.col("area2") < 0)  # CW after reversal = outer
    hole_cands = rev.filter(F.col("area2") >= 0)

    if n_holes == 0:
        # hole-free fast path: all_polys is a cheap projection over the rev
        # checkpoint (no second array write needed — downstream consumers
        # re-read the checkpoint through a codegen filter/projection)
        all_polys = (
            shells.select("ring_id", "xs", "ys", "nways", "fixed", "area2")
            .withColumn("holes_x", F.lit(None).cast("array<array<double>>"))
            .withColumn("holes_y", F.lit(None).cast("array<array<double>>"))
            .withColumn("hole_ring_ids", F.lit(None).cast("array<long>"))
            .withColumn("bad", F.lit(False))
        )
        return _polygonize_result(all_polys, n_bad=0, n_good=n_shells)

    hole_pts = hole_cands.select(
        F.col("ring_id").alias("point_id"),
        F.element_at("xs", 1).alias("px"),
        F.element_at("ys", 1).alias("py"),
    )
    pairs = containment_pairs(hole_pts, shells.select("ring_id", "xs", "ys"), cell_deg)

    # smallest containing shell wins (ties → ring_id)
    parent = (
        pairs.join(
            shells.select(
                F.col("ring_id").alias("container_id"), F.abs(F.col("area2")).alias("carea")
            ),
            "container_id",
        )
        .withColumn(
            "rk", F.row_number().over(Window.partitionBy("point_id").orderBy("carea", "container_id"))
        )
        .filter(F.col("rk") == 1)
        .select(F.col("point_id").alias("ring_id"), F.col("container_id").alias("shell_id"))
    )

    orphan_holes = hole_cands.join(parent, "ring_id", "left_anti")
    holes = hole_cands.join(parent, "ring_id")

    # hole-in-hole ⇒ invalid shell (checked per shell; holes per shell are few)
    hole_geo = holes.select(
        "shell_id",
        F.col("ring_id").alias("hole_ring_id"),
        F.col("xs").alias("hxs"),
        F.col("ys").alias("hys"),
    )

    hole_agg = hole_geo.groupBy("shell_id").agg(
        F.collect_list("hxs").alias("holes_x"),
        F.collect_list("hys").alias("holes_y"),
        F.collect_list("hole_ring_id").alias("hole_ring_ids"),
    )

    def check(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        for batch in batches:
            holes = zip(column_rows(batch.column("holes_x")), column_rows(batch.column("holes_y")))
            yield {"shell_id": batch.column("shell_id"), "bad": [_holes_nest(*h) for h in holes]}

    # the check reads the hole aggregate the polygons join, so both share
    # its exchange; a shell with no holes has no row, so zero groups never
    # reach the kernel
    shell_valid = arrow_stage(
        hole_agg.select("shell_id", "holes_x", "holes_y"), check, "shell_id long, bad boolean"
    )
    bad_shells = shell_valid.filter("bad").select("shell_id")

    shell_polys = shells.join(hole_agg, shells.ring_id == hole_agg.shell_id, "left").drop(
        "shell_id"
    )
    # mark invalid shells
    shell_polys = shell_polys.join(
        bad_shells.withColumnRenamed("shell_id", "ring_id").withColumn("bad", F.lit(True)),
        "ring_id",
        "left",
    ).fillna(False, ["bad"])

    orphan_polys = orphan_holes.select(
        "ring_id", "xs", "ys", "nways", "fixed", "area2"
    ).withColumn("holes_x", F.lit(None).cast("array<array<double>>")).withColumn(
        "holes_y", F.lit(None).cast("array<array<double>>")
    ).withColumn("hole_ring_ids", F.lit(None).cast("array<long>")).withColumn(
        "bad", F.lit(False)
    )

    # ONE materialization point: everything above (containment join, hole
    # aggregation, validity check) executes exactly once, the bad/good
    # counts are observed in the same job, and all downstream consumers
    # read the checkpoint
    all_polys, seen = materialize(
        shell_polys.select(*orphan_polys.columns).unionByName(orphan_polys),
        n_bad=F.count_if(F.col("bad")),
        n_good=F.count_if(~F.col("bad")),
    )
    n_bad, n_good = seen["n_bad"], seen["n_good"]
    return _polygonize_result(all_polys, n_bad=n_bad, n_good=n_good)


def _polygonize_result(all_polys: DataFrame, n_bad: int, n_good: int) -> PolygonizeResult:
    good = all_polys.filter(~F.col("bad"))
    bad = all_polys.filter(F.col("bad"))

    # reference quirk: the 'invalid' error line is only written on the
    # multipolygon path (add_polygons_in_multi_to); a lone invalid polygon
    # is dropped silently (errors++ only)
    invalid_lines = bad.select(
        F.lit(0).cast("long").alias("osm_id"),
        F.lit("invalid").alias("error"),
        "xs",
        "ys",
    )
    if not (n_bad and (n_good + n_bad) > 1):
        invalid_lines = invalid_lines.limit(0)

    polys = good.select(
        F.col("ring_id").alias("poly_id"),
        F.col("xs").alias("shell_x"),
        F.col("ys").alias("shell_y"),
        "holes_x",
        "holes_y",
        F.size("xs").cast("int").alias("npoints"),
        F.array_min("xs").alias("env_minx"),
        F.array_min("ys").alias("env_miny"),
        F.array_max("xs").alias("env_maxx"),
        F.array_max("ys").alias("env_maxy"),
        F.col("ring_id").alias("shell_ring_id"),
        "hole_ring_ids",
        "nways",
        "fixed",
    )
    return PolygonizeResult(polygons=polys, invalid_count=n_bad, good_count=n_good, invalid_error_lines=invalid_lines)


def fix_direction(polygons: DataFrame) -> tuple[DataFrame, DataFrame]:
    """G7 (reference src/coastline_polygons.cpp:93-114): exterior rings must
    be clockwise; fix and emit error_lines('direction') for flipped ones.
    Pure column math — no UDF, stays in codegen."""
    tagged = polygons.withColumn("ccw", _area2_expr("shell_x", "shell_y") > 0)
    flipped = tagged.filter("ccw")
    errors = flipped.select(
        F.lit(0).cast("long").alias("osm_id"),
        F.lit("direction").alias("error"),
        F.reverse("shell_x").alias("xs"),
        F.reverse("shell_y").alias("ys"),
    )
    fixed = tagged.select(
        *[c for c in polygons.columns if c not in ("shell_x", "shell_y", "holes_x", "holes_y")],
        F.when(F.col("ccw"), F.reverse("shell_x")).otherwise(F.col("shell_x")).alias("shell_x"),
        F.when(F.col("ccw"), F.reverse("shell_y")).otherwise(F.col("shell_y")).alias("shell_y"),
        F.when(
            F.col("ccw"), F.transform("holes_x", lambda a: F.reverse(a))
        ).otherwise(F.col("holes_x")).alias("holes_x"),
        F.when(
            F.col("ccw"), F.transform("holes_y", lambda a: F.reverse(a))
        ).otherwise(F.col("holes_y")).alias("holes_y"),
    )
    return fixed, errors
