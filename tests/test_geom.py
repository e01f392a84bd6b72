"""Kernel unit tests (pure numpy, no Spark)."""

import numpy as np

from osmcoastline_spark import geom


def test_signed_area_and_winding():
    xs = [0.0, 1.0, 1.0, 0.0]
    ys = [0.0, 0.0, 1.0, 1.0]
    assert geom.signed_area2(xs, ys) > 0  # CCW
    assert not geom.is_clockwise(xs, ys)
    assert geom.is_clockwise(xs[::-1], ys[::-1])


def test_points_in_ring_concave():
    # concave pentagon with a notch
    xs = np.array([0.0, 10.0, 10.0, 5.0, 0.0])
    ys = np.array([0.0, 0.0, 10.0, 5.0, 10.0])
    px = np.array([5.0, 5.0, 9.0, -1.0, 5.0])
    py = np.array([2.0, 8.0, 9.0, 5.0, 4.9])
    got = geom.points_in_ring(px, py, xs, ys).tolist()
    assert got == [True, False, True, False, True]


def test_segment_intersection_reference_formula():
    m, ix, iy = geom.segment_intersections(
        [0.0], [0.0], [1.0], [1.0], [0.0], [1.0], [1.0], [0.0]
    )
    assert m[0] and ix[0] == 0.5 and iy[0] == 0.5
    # shared endpoint: never intersects (reference excludes)
    m2, _, _ = geom.segment_intersections(
        [0.0], [0.0], [1.0], [1.0], [1.0], [1.0], [2.0], [0.0]
    )
    assert not m2[0]
    # parallel
    m3, _, _ = geom.segment_intersections(
        [0.0], [0.0], [1.0], [0.0], [0.0], [1.0], [1.0], [1.0]
    )
    assert not m3[0]


def test_cut_ring_simple():
    # square cut by x=0.5 → two rectangles
    xs = np.array([0.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    lo = geom.cut_ring(xs, ys, 0, 0.5, keep_low=True)
    hi = geom.cut_ring(xs, ys, 0, 0.5, keep_low=False)
    assert len(lo) == 1 and len(hi) == 1
    assert abs(abs(geom.signed_area2(*lo[0])) / 2 - 0.5) < 1e-12
    assert abs(abs(geom.signed_area2(*hi[0])) / 2 - 0.5) < 1e-12


def test_cut_ring_multipart():
    # U-shape cut above the valley → two separate towers
    xs = np.array([0.0, 3.0, 3.0, 2.0, 2.0, 1.0, 1.0, 0.0])
    ys = np.array([0.0, 0.0, 2.0, 2.0, 0.5, 0.5, 2.0, 2.0])
    top = geom.cut_ring(xs, ys, 1, 1.0, keep_low=False)
    assert len(top) == 2  # a Sutherland–Hodgman clip would wrongly bridge these
    areas = sorted(abs(geom.signed_area2(px, py)) / 2 for px, py in top)
    assert all(abs(a - 1.0) < 1e-12 for a in areas)
    bottom = geom.cut_ring(xs, ys, 1, 1.0, keep_low=True)
    assert len(bottom) == 1
    # U area 4.5 minus the two towers (2.0) = 2.5
    assert abs(abs(geom.signed_area2(*bottom[0])) / 2 - 2.5) < 1e-12


def test_clip_ring_rect():
    xs = np.array([0.0, 4.0, 4.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0])
    pieces = geom.clip_ring_rect(xs, ys, 1.0, 1.0, 2.0, 2.0)
    assert len(pieces) == 1
    assert abs(abs(geom.signed_area2(*pieces[0])) / 2 - 1.0) < 1e-12


def test_merc_roundtrip():
    lon = np.array([-179.0, 0.0, 13.4, 179.9])
    lat = np.array([-80.0, 0.0, 52.5, 83.0])
    x, y = geom.merc_forward(lon, lat)
    lon2, lat2 = geom.merc_inverse(x, y)
    assert np.allclose(lon, lon2) and np.allclose(lat, lat2)
    # extent clamp (reference srs.cpp:60-76)
    x2, y2 = geom.merc_forward([180.0], [90.0])
    assert abs(x2[0] - geom.MERC) < 1e-6 and y2[0] <= geom.MERC


def test_wkt_formatting():
    assert geom.wkt_point(1.09, 1.975) == "POINT(1.09 1.975)"
    assert geom.wkt_linestring([1.01, 1.04], [1.01, 1.01]) == "LINESTRING(1.01 1.01, 1.04 1.01)"


def test_antarctica_closure():
    lons, lats = geom.antarctica_closure_points(4326)
    assert lats.min() == -90.0
    assert lons[0] == -180.0 and lats[0] == -78.0
    lons2, lats2 = geom.antarctica_closure_points(3857)
    assert abs(lats2.min() + 85.0511288) < 1e-9
    assert lons2[-1] == 180.0
