"""R4 split + R5 water derivation + sinks checkpoint/resume."""

import numpy as np
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.operators.split import split_polygons
from osmcoastline_spark.operators.water import drop_antimeridian_slivers, tile_grid, water_polygons


def _poly_df(spark, shell_x, shell_y, holes_x=None, holes_y=None, poly_id=1):
    e = geom.envelope(shell_x, shell_y)
    rows = [
        (
            poly_id,
            [float(v) for v in shell_x],
            [float(v) for v in shell_y],
            [[float(v) for v in h] for h in (holes_x or [])],
            [[float(v) for v in h] for h in (holes_y or [])],
            len(shell_x),
            e[0], e[1], e[2], e[3],
        )
    ]
    return spark.createDataFrame(
        rows,
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, env_maxx double, env_maxy double",
    )


def _many_point_square(n_per_side):
    xs, ys = [], []
    for i in range(n_per_side):
        xs.append(i / n_per_side)
        ys.append(0.0)
    for i in range(n_per_side):
        xs.append(1.0)
        ys.append(i / n_per_side)
    for i in range(n_per_side):
        xs.append(1.0 - i / n_per_side)
        ys.append(1.0)
    for i in range(n_per_side):
        xs.append(0.0)
        ys.append(1.0 - i / n_per_side)
    return xs, ys


def test_split_reduces_points_and_preserves_area(spark):
    xs, ys = _many_point_square(100)  # 400 points
    df = _poly_df(spark, xs, ys)
    out = split_polygons(df, max_points=120, expand=0.0001).collect()
    assert len(out) >= 2
    assert all(r.npoints <= 120 for r in out)
    total = sum(abs(geom.signed_area2(r.shell_x, r.shell_y)) / 2 for r in out)
    # overlap makes the sum slightly exceed 1.0
    assert 1.0 <= total < 1.01


def test_split_keeps_small_polygons(spark):
    df = _poly_df(spark, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
    out = split_polygons(df, max_points=1000).collect()
    assert len(out) == 1 and out[0].npoints == 4


def test_water_inverse_of_land(spark):
    # land square [0.25,0.75]^2 inside the 1-degree tile [0,1]^2
    land = _poly_df(spark, [0.25, 0.25, 0.75, 0.75], [0.25, 0.75, 0.75, 0.25])
    water = water_polygons(land, cell_deg=1.0).collect()
    ours = [w for w in water if w.env_minx == 0.0 and w.env_miny == 0.0]
    assert len(ours) == 1
    w = ours[0]
    shell_area = abs(geom.signed_area2(w.shell_x, w.shell_y)) / 2
    hole_area = sum(abs(geom.signed_area2(hx, hy)) / 2 for hx, hy in zip(w.holes_x, w.holes_y))
    assert abs(shell_area - 1.0) < 1e-12
    assert abs(hole_area - 0.25) < 1e-12


def test_water_full_cover_tile_is_dry(spark):
    land = _poly_df(spark, [-0.5, -0.5, 1.5, 1.5], [-0.5, 1.5, 1.5, -0.5])
    water = water_polygons(land, cell_deg=1.0).collect()
    # the tile [0,1]x[0,1] is fully covered → no water row for it
    assert not any(w.env_minx == 0.0 and w.env_miny == 0.0 for w in water)


def test_water_empty_tiles(spark):
    land = _poly_df(spark, [0.25, 0.25, 0.75, 0.75], [0.25, 0.75, 0.75, 0.25])
    water = water_polygons(
        land, cell_deg=1.0, extent=(0.0, 0.0, 3.0, 1.0), include_empty_tiles=True
    )
    rows = water.collect()
    # 3 tiles: one with land (partial water), two full-water
    assert len(rows) == 3
    full = [r for r in rows if not r.holes_x]
    assert len(full) == 2
    # a full tile's corners are the bits the tile math gives: ix * cell + x0
    # and (ix + 1) * cell + x0 in double arithmetic, on a grid whose cell
    # and origin are not exact binary fractions
    cell, x0, y0 = 0.3, -180.0, -90.0
    land = _poly_df(spark, [-179.9, -179.9, -179.8, -179.8], [-89.9, -89.8, -89.8, -89.9])
    water = water_polygons(
        land, cell_deg=cell, extent=(x0, y0, x0 + 4 * cell, y0 + 3 * cell), include_empty_tiles=True
    )
    full = [r for r in water.collect() if not r.holes_x]
    assert len(full) == 11
    for r in full:
        ix, iy = divmod(r.cell, 1_000_000)
        lo_x, hi_x = ix * cell + x0, (ix + 1) * cell + x0
        lo_y, hi_y = iy * cell + y0, (iy + 1) * cell + y0
        assert [v.hex() for v in r.shell_x] == [v.hex() for v in (lo_x, lo_x, hi_x, hi_x)]
        assert [v.hex() for v in r.shell_y] == [v.hex() for v in (lo_y, hi_y, hi_y, lo_y)]
        assert (r.env_minx, r.env_miny, r.env_maxx, r.env_maxy) == (lo_x, lo_y, hi_x, hi_y)


def test_water_merge_empty_tiles(spark):
    # land in tile (0,0) of a 4x2 grid: 7 empty tiles merge into slabs
    # covering the same area — [1,4]x[0,2] plus [0,1]x[1,2] → 2 rectangles
    land = _poly_df(spark, [0.25, 0.25, 0.75, 0.75], [0.25, 0.75, 0.75, 0.25])
    kw = dict(cell_deg=1.0, extent=(0.0, 0.0, 4.0, 2.0), include_empty_tiles=True)
    per_tile = water_polygons(land, **kw).collect()
    merged = water_polygons(land, merge_empty_tiles=True, **kw).collect()
    # same partial-water tile either way
    assert [r.cell for r in per_tile if r.holes_x] == [
        r.cell for r in merged if r.holes_x
    ]
    full_pt = [r for r in per_tile if not r.holes_x]
    full_m = [r for r in merged if not r.holes_x]
    assert len(full_pt) == 7 and len(full_m) == 2
    # merged slabs cover exactly the same area as the per-tile rectangles
    def area(rows):
        return sum(abs(geom.signed_area2(r.shell_x, r.shell_y)) / 2 for r in rows)

    assert abs(area(full_m) - area(full_pt)) < 1e-12
    # and the same point set: every per-tile cell center lies in a slab
    for r in full_pt:
        cx, cy = (r.env_minx + r.env_maxx) / 2, (r.env_miny + r.env_maxy) / 2
        assert any(
            m.env_minx < cx < m.env_maxx and m.env_miny < cy < m.env_maxy
            for m in full_m
        )


def test_antimeridian_sliver_filter(spark):
    rows = [
        (1, [179.99995, 180.0, 180.0, 179.99995], [0.0, 0.0, 1.0, 1.0]),
        (2, [10.0, 11.0, 11.0, 10.0], [0.0, 0.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        [
            (pid, xs, ys, [], [], geom.envelope(xs, ys)[0], geom.envelope(xs, ys)[1],
             geom.envelope(xs, ys)[2], geom.envelope(xs, ys)[3])
            for pid, xs, ys in rows
        ],
        "cell long, shell_x array<double>, shell_y array<double>, holes_x array<array<double>>, "
        "holes_y array<array<double>>, env_minx double, env_miny double, env_maxx double, env_maxy double",
    )
    kept = drop_antimeridian_slivers(df).collect()
    assert len(kept) == 1 and kept[0].cell == 2


def test_tile_grid(spark):
    g = tile_grid(spark, zoom=2)
    rows = g.collect()
    assert len(rows) == 16
    assert min(r.tile_minx for r in rows) == -180.0
    assert max(r.tile_maxx for r in rows) == 180.0


def test_checkpoint_sink_resume(spark, tmp_path):
    from osmcoastline_spark.sinks import CheckpointSink

    sink = CheckpointSink(str(tmp_path / "out"))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    n = sink.write("stage1", df, lineage={"input": "range"})
    assert n == 100
    assert sink.exists("stage1") and not sink.exists("stage2")
    back = sink.read(spark, "stage1")
    assert back.count() == 100
    m = sink.manifest("stage1")
    assert m["rows"] == 100 and m["lineage"]["input"] == "range"


def test_water_3857_extent(spark):
    """Water tile math in mercator: a ~1°-sized island transformed to 3857
    must cover a handful of metre-space tiles, not millions of degree-space
    cells (round-2 advice: the grid origin/cell/sliver thresholds scale
    with the SRS extent)."""
    from osmcoastline_spark.schemas import EXTENT_3857

    xs4326 = [10.0, 10.0, 11.0, 11.0]
    ys4326 = [50.0, 51.0, 51.0, 50.0]
    mx, my = geom.merc_forward(xs4326, ys4326)
    df = _poly_df(spark, mx.tolist(), my.tolist())
    upd = EXTENT_3857[2] / 180.0
    water = water_polygons(df, 1.0, extent=EXTENT_3857, unit_per_deg=upd).collect()
    assert 1 <= len(water) <= 16
    for r in water:
        # tiles live in mercator space and are ~1° worth of metres wide
        assert abs(r.env_maxx - r.env_minx) > 10000.0
        assert r.env_minx >= 1.0e6 and r.env_maxy <= 1.2e7
    # sliver filter in mercator units keeps these mid-map tiles
    kept = drop_antimeridian_slivers(
        water_polygons(df, 1.0, extent=EXTENT_3857, unit_per_deg=upd),
        max_x=EXTENT_3857[2] * (179.9999 / 180.0),
    ).count()
    assert kept == len(water)


def test_tile_grid_overlap_4326(spark):
    """Spatialite lat-dependent grid (create_grid_4326.sql:21-41): x
    overlap grows as 1/cos(mid lat), y overlap constant, extent-clamped."""
    import math

    from osmcoastline_spark.operators.water import tile_grid_overlap_4326

    g = {(r.tx, r.ty): r for r in tile_grid_overlap_4326(spark, cell_deg=30.0).collect()}
    assert len(g) == 12 * 6
    # equator-adjacent cell (0..30 lat): mid lat 15
    r = g[(6, 3)]  # minx 0, miny 0
    ox = 0.0005 / math.cos(math.radians(15.0))
    assert abs(r.tile_minx - (0.0 - ox)) < 1e-12
    assert abs(r.tile_maxx - (30.0 + ox)) < 1e-12
    assert abs(r.tile_miny - (0.0 - 0.0005)) < 1e-12
    # near-polar cell widens much more in x than the equator cell
    rp = g[(6, 5)]  # lat 60..89.99999999
    assert (rp.tile_maxx - rp.tile_minx) > (r.tile_maxx - r.tile_minx)
    # clamped: nothing leaves the extent
    for rr in g.values():
        assert rr.tile_minx >= -180.0 and rr.tile_maxx <= 179.99999999
        assert rr.tile_miny >= -90.0 and rr.tile_maxy <= 89.99999999


def test_readmeta_cli(spark, tmp_path):
    """readmeta subcommand prints the reference report sections from a
    finished output dir (no Spark session needed for the peek)."""
    import os

    from osmcoastline_spark import cli
    from osmcoastline_spark.synth import fixture_df

    nodes, ways = fixture_df(
        spark,
        [(100, 1.01, 1.01), (101, 1.02, 1.01), (102, 1.03, 1.02), (103, 1.04, 1.02),
         (104, 1.05, 1.03), (105, 1.01, 1.03)],
        [(200, [100, 101, 102]), (201, [102, 103, 104, 105, 100])],
    )
    np_, wp = str(tmp_path / "nodes"), str(tmp_path / "ways")
    nodes.write.parquet(np_)
    ways.write.parquet(wp)
    out = str(tmp_path / "out")
    assert cli.main(["--nodes", np_, "--ways", wp, "-o", out, "--master", "local[4]"]) == 0

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        code = cli.main(["readmeta", out])
    assert code == 0
    rep = buf.getvalue()
    assert "Ways tagged natural=coastline: 2" in rep
    assert "Coastline rings: 1" in rep
    assert "Max points in polygons (--max-points/-m): 1000" in rep
    assert "land_polygons" in rep
    assert cli.main(["readmeta", str(tmp_path / "nope")]) == 1


def test_split_tangent_cut_sets_suspect_and_check_validates(spark):
    """A cut line passing EXACTLY through ring vertices (dyadic coords,
    expand=0) must mark the produced pieces cut_suspect; check_polygons
    then runs the crossing kernel on them and, the pieces being simple,
    emits no warning and leaves them intact."""
    from osmcoastline_spark.operators.repair import check_polygons

    t = [float(i) / 256.0 for i in range(257)]
    # corners appear ONCE (t[1:] on each following edge — a repeated corner
    # vertex would itself legitimately trip the collapsed-duplicate flag)
    xs = t + [1.0] * 256 + t[::-1][1:] + [0.0] * 255
    ys = [0.0] * 257 + t[1:] + [1.0] * 256 + t[::-1][1:-1]
    xs.append(xs[0])
    ys.append(ys[0])
    assert len(xs) == len(ys)
    df = spark.createDataFrame(
        [(1, xs, ys, [], [], len(xs), 0.0, 0.0, 1.0, 1.0)],
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, "
        "env_maxx double, env_maxy double",
    )
    out = split_polygons(df, max_points=600, expand=0.0)
    pieces = out.filter("was_split").drop("was_split")
    rows = pieces.collect()
    assert len(rows) == 2 and all(r.cut_suspect for r in rows)
    checked, warnings = check_polygons(pieces, suspect_col="cut_suspect")
    assert warnings == 0
    assert checked.count() == 2
    # a clean (non-tangent) cut of the same shape stays un-suspect
    out2 = split_polygons(df, max_points=600, expand=0.0001)
    assert out2.filter("was_split and cut_suspect").count() == 0


def test_split_emits_owned_region_lineage(spark):
    """Each split piece carries its owned (un-expanded midline) box; the
    boxes tile the parent region disjointly while the geometry overlaps
    by the 2*expand band."""
    from osmcoastline_spark.operators.split import _split_one

    row = {
        "poly_id": 1,
        "shell_x": [0.0, 10.0, 10.0, 0.0], "shell_y": [0.0, 0.0, 4.0, 4.0],
        "holes_x": [], "holes_y": [],
        "npoints": 4, "env_minx": 0.0, "env_miny": 0.0,
        "env_maxx": 10.0, "env_maxy": 4.0, "depth": 0, "cut_suspect": False,
    }
    kids = _split_one(row, 0.0001, (-180.0, -90.0, 180.0, 90.0))
    lo = [c for c in kids if c["env_minx"] == 0.0][0]
    hi = [c for c in kids if c["env_maxx"] == 10.0][0]
    assert lo["own_maxx"] == 5.0 and lo["own_minx"] == float("-inf")
    assert hi["own_minx"] == 5.0 and hi["own_maxx"] == float("inf")
    # geometry still overlaps (reference bbox_overlap parity)
    assert max(lo["shell_x"]) == 5.0001 and min(hi["shell_x"]) == 4.9999


def test_water_seam_band_stays_land(spark):
    """Split pieces overlap in the expand band; the tile's even-odd water
    representation must not flip the band back to water (the fix clips
    each piece to its owned region box)."""
    import numpy as np

    from osmcoastline_spark import geom
    from osmcoastline_spark.operators.split import _split_one
    from osmcoastline_spark.operators.water import water_polygons

    row = {
        "poly_id": 1,
        "shell_x": [0.0, 2.0, 2.0, 0.0], "shell_y": [0.0, 0.0, 1.0, 1.0],
        "holes_x": [], "holes_y": [],
        "npoints": 4, "env_minx": 0.0, "env_miny": 0.0,
        "env_maxx": 2.0, "env_maxy": 1.0, "depth": 0, "cut_suspect": False,
    }
    pieces = _split_one(row, 0.0001, (-180.0, -90.0, 180.0, 90.0))
    assert len(pieces) == 2
    land = spark.createDataFrame(
        [
            {
                "poly_id": p["poly_id"],
                "shell_x": p["shell_x"], "shell_y": p["shell_y"],
                "holes_x": p["holes_x"], "holes_y": p["holes_y"],
                "npoints": p["npoints"],
                "env_minx": p["env_minx"], "env_miny": p["env_miny"],
                "env_maxx": p["env_maxx"], "env_maxy": p["env_maxy"],
                "own_minx": p["own_minx"], "own_miny": p["own_miny"],
                "own_maxx": p["own_maxx"], "own_maxy": p["own_maxy"],
            }
            for p in pieces
        ],
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, env_maxx double, "
        "env_maxy double, own_minx double, own_miny double, "
        "own_maxx double, own_maxy double",
    )
    # one 2x2 tile anchored at the origin covers all the land (a second,
    # land-free tile appears because the envelope touches the x=2 cell
    # boundary — irrelevant here)
    out = water_polygons(land, cell_deg=2.0, extent=(0.0, 0.0, 2.0, 2.0)).collect()
    w = [r for r in out if r.cell == 0][0]
    assert len(w.holes_x) >= 2  # both clipped pieces present as rings

    def in_water(px, py):
        cnt = int(
            geom.points_in_ring(
                np.array([px]), np.array([py]),
                np.asarray(w.shell_x), np.asarray(w.shell_y),
            )[0]
        )
        for hx, hy in zip(w.holes_x, w.holes_y):
            cnt += int(
                geom.points_in_ring(
                    np.array([px]), np.array([py]), np.asarray(hx), np.asarray(hy)
                )[0]
            )
        return cnt % 2 == 1

    # a point in the seam band interior (covered by BOTH overlapping
    # pieces) is land — before the fix parity made it water
    assert not in_water(1.00005, 0.5)
    # sanity: open water above the land is water; land interior is not
    assert in_water(1.00005, 1.5)
    assert in_water(0.5, 1.5)
    assert not in_water(0.5, 0.5)
    assert not in_water(1.5, 0.5)
