"""filter_planet (S3/J1), segment diff (J13), CLI (option parity)."""

import numpy as np
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.operators.filter import filter_planet
from osmcoastline_spark.operators.segments_diff import (
    diff_segments,
    read_segments,
    segments_equal,
    write_segments,
)
from osmcoastline_spark.synth import fixture_df


def test_filter_planet(spark):
    nodes, ways = fixture_df(
        spark,
        [(100, 1.0, 1.0), (101, 1.1, 1.0), (102, 1.2, 1.0),
         (200, 5.0, 5.0, {"natural": "coastline"}), (201, 6.0, 6.0)],
        [
            (300, [100, 101], {"natural": "coastline"}),
            (301, [101, 102], {"highway": "road"}),
        ],
    )
    kept_nodes, kept_ways = filter_planet(nodes, ways)
    assert kept_ways.count() == 1
    ids = {r.node_id for r in kept_nodes.collect()}
    # way nodes 100,101 + tagged node 200; NOT 102 (only on the road), NOT 201
    assert ids == {100, 101, 200}


def test_segment_diff_roundtrip(spark, tmp_path):
    a = spark.createDataFrame(
        [(0.0, 0.0, 1.0, 1.0), (1.0, 1.0, 2.0, 2.0), (1.0, 1.0, 2.0, 2.0)],
        "x1 double, y1 double, x2 double, y2 double",
    )
    b = spark.createDataFrame(
        [(0.0, 0.0, 1.0, 1.0), (1.0, 1.0, 2.0, 2.0), (3.0, 3.0, 4.0, 4.0)],
        "x1 double, y1 double, x2 double, y2 double",
    )
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_segments(a, pa)
    write_segments(b, pb)
    ra, rb = read_segments(spark, pa), read_segments(spark, pb)
    removed, added = diff_segments(ra, rb)
    # multiset semantics: one copy of the duplicated segment is 'removed'
    assert removed.count() == 1 and added.count() == 1
    assert not segments_equal(ra, rb)
    assert segments_equal(ra, ra)


def test_cli_end_to_end(spark, tmp_path):
    import json
    import os

    from osmcoastline_spark import cli

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
    code = cli.main(
        ["--nodes", np_, "--ways", wp, "-o", out, "--output-rings", "--master", "local[4]"]
    )
    assert code == 0
    assert os.path.exists(os.path.join(out, "land_polygons", "_MANIFEST.json"))
    meta = json.load(open(os.path.join(out, "meta.json")))
    assert meta["stats"]["rings"] == 1


def test_check_polygons_post_split(spark):
    """Reference check_polygons (src/coastline_polygons.cpp:444-467): one
    warning per invalid polygon; Buffer(0)-repairable kept (CW shell),
    unrepairable dropped silently."""
    from osmcoastline_spark.operators.repair import check_polygons

    def poly(pid, xs, ys):
        return (
            pid, xs, ys, [], [], len(xs),
            min(xs), min(ys), max(xs), max(ys),
        )

    schema = (
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, "
        "env_maxx double, env_maxy double"
    )
    valid_cw = poly(1, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0])
    bowtie = poly(2, [10.0, 12.0, 12.0, 10.0, 10.0], [10.0, 12.0, 10.0, 12.0, 10.0])
    collinear = poly(3, [20.0, 21.0, 22.0, 20.0], [20.0, 21.0, 22.0, 20.0])
    polys = spark.createDataFrame([valid_cw, bowtie, collinear], schema)

    out, warnings = check_polygons(polys)
    assert warnings == 2  # bowtie (self-crossing) + collinear (zero area)
    rows = {r.poly_id: r for r in out.collect()}
    assert set(rows) == {1, 2}  # collinear dropped silently
    # untouched valid polygon passes through bit-identical
    assert rows[1].shell_x == valid_cw[1]
    # repaired bowtie: simple 4-point lobe, CW in the GIS frame (area2<0)
    from osmcoastline_spark import geom
    import numpy as np

    rx, ry = np.array(rows[2].shell_x), np.array(rows[2].shell_y)
    assert rows[2].npoints == len(rx)
    assert geom.signed_area2(rx, ry) < 0
    assert rows[2].env_maxx == rx.max() and rows[2].env_miny == ry.min()


def test_repairs_drop_every_row_of_a_batch(spark):
    """A batch whose every flagged row is unrepairable yields no rows from
    either repair pass (the kernel's empty selection stays typed)."""
    from osmcoastline_spark.operators.repair import buffer0_triage, check_polygons

    flat_x, flat_y = [0.0, 1.0, 2.0, 0.0], [0.0, 0.0, 0.0, 0.0]  # zero area
    polys = spark.createDataFrame(
        [(3, flat_x, flat_y, None, None, 4, 0.0, 0.0, 2.0, 0.0)],
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, "
        "env_maxx double, env_maxy double",
    )
    out, warnings = check_polygons(polys)
    assert warnings == 1 and out.count() == 0
    rings = spark.createDataFrame(
        [(3, [1, 2, 3, 1], flat_x, flat_y, 1, False, 1, 4)],
        "ring_id long, node_ids array<long>, xs array<double>, ys array<double>, "
        "nways int, fixed boolean, lead long, npoints int",
    )
    assert buffer0_triage(rings).count() == 0


def test_check_polygons_clean_passthrough_no_python(spark):
    """0 invalid polygons ⇒ zero warnings and the input DataFrame object is
    returned untouched (no Arrow batch in the clean path)."""
    from osmcoastline_spark.operators.repair import check_polygons

    polys = spark.createDataFrame(
        [(1, [0.0, 0.0, 1.0, 1.0, 0.0], [0.0, 1.0, 1.0, 0.0, 0.0],
          [], [], 5, 0.0, 0.0, 1.0, 1.0)],
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, "
        "env_maxx double, env_maxy double",
    )
    out, warnings = check_polygons(polys)
    assert warnings == 0
    assert out is polys


def test_cut_ring_checked_suspect_flags():
    """cut_ring_checked: a clean transversal cut is not suspect; a vertex
    exactly on the cut line is; pieces match cut_ring."""
    # clean square cut at x=0.5
    xs = [0.0, 1.0, 1.0, 0.0, 0.0]
    ys = [0.0, 0.0, 1.0, 1.0, 0.0]
    pieces, suspect = geom.cut_ring_checked(xs, ys, 0, 0.5, True)
    assert not suspect and len(pieces) == 1
    assert [list(p[0]) for p in pieces] == [list(p[0]) for p in geom.cut_ring(xs, ys, 0, 0.5, True)]
    # diamond with vertices ON the cut line x=0 -> tangency, suspect
    dx = [1.0, 0.0, -1.0, 0.0, 1.0]
    dy = [0.0, 1.0, 0.0, -1.0, 0.0]
    _, suspect = geom.cut_ring_checked(dx, dy, 0, 0.0, True)
    assert suspect
    # untouched ring (cut outside the envelope) is never suspect even with
    # a vertex at the cut coordinate elsewhere
    pieces, suspect = geom.cut_ring_checked(xs, ys, 0, 2.0, True)
    assert not suspect and len(pieces) == 1


def test_check_polygons_open_shells_and_suspect_col(spark):
    """Open (unclosed) shells from the cut kernel: simple ones pass the
    repeated-vertex/shoelace predicates untouched; the crossing kernel only
    runs where the suspect column is true."""
    from osmcoastline_spark.operators.repair import check_polygons

    schema = (
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, "
        "env_maxx double, env_maxy double, cut_suspect boolean"
    )
    open_square = (1, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0],
                   [], [], 4, 0.0, 0.0, 1.0, 1.0, False)
    # open ring revisiting a vertex (degenerate even without closing dup)
    revisit = (2, [5.0, 6.0, 5.0, 6.0, 7.0], [5.0, 6.0, 5.0, 4.0, 5.0],
               [], [], 5, 5.0, 4.0, 7.0, 6.0, False)
    # open collinear: zero area only once the wraparound term is included
    collinear = (3, [20.0, 21.0, 22.0], [20.0, 21.0, 22.0],
                 [], [], 3, 20.0, 20.0, 22.0, 22.0, False)
    # bowtie crossing with NO repeated vertex: needs the kernel -> suspect
    bowtie = (4, [10.0, 12.0, 12.0, 10.0], [10.0, 12.0, 10.0, 12.0],
              [], [], 4, 10.0, 10.0, 12.0, 12.0, True)
    polys = spark.createDataFrame([open_square, revisit, collinear, bowtie], schema)

    out, warnings = check_polygons(polys, suspect_col="cut_suspect")
    assert warnings == 3  # revisit + collinear + bowtie; open_square clean
    rows = {r.poly_id: r for r in out.collect()}
    assert rows[1].shell_x == open_square[1]  # untouched passthrough
    assert 3 not in rows  # collinear dropped silently

    # all-clean frame returns identity (single aggregate job, no kernel)
    clean = spark.createDataFrame([open_square], schema)
    out2, w2 = check_polygons(clean, suspect_col="cut_suspect")
    assert w2 == 0 and out2 is clean


def test_segments_dump_and_changes_layer(spark):
    """osmcoastline_segments output-mode parity (reference
    src/osmcoastline_segments.cpp:88-113,183-192): --dump text format and
    the OGR 'changes' layer with change=0/1."""
    from osmcoastline_spark.operators.segments_diff import (
        changes_layer,
        diff_segments,
        dump_changes,
    )

    old = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0), (5.5, 6.25, 7.0, 8.0)],
        "x1 double, y1 double, x2 double, y2 double",
    )
    new = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0), (9.0, 10.0, 11.0, 12.1234567)],
        "x1 double, y1 double, x2 double, y2 double",
    )
    removed, added = diff_segments(old, new)
    text = dump_changes(removed, added)
    assert text == (
        "Removed:\n"
        "  (5.5,6.25)->(7,8)\n"
        "Added:\n"
        "  (9,10)->(11,12.1234567)\n"
    )
    layer = {(r.change, tuple(r.xs), tuple(r.ys)) for r in changes_layer(removed, added).collect()}
    assert layer == {
        (0, (5.5, 7.0), (6.25, 8.0)),
        (1, (9.0, 11.0), (10.0, 12.1234567)),
    }


def test_cli_segments_subcommand(spark, tmp_path):
    """osmcoastline_segments CLI parity: exit 0 on equal tables, exit 1 +
    --dump text / --geom layer on differing ones."""
    from osmcoastline_spark.cli import main as cli_main
    from osmcoastline_spark.operators.segments_diff import write_segments

    a = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0)], "x1 double, y1 double, x2 double, y2 double"
    )
    b = spark.createDataFrame(
        [(5.0, 6.0, 7.0, 8.0)], "x1 double, y1 double, x2 double, y2 double"
    )
    p1, p2, p3 = str(tmp_path / "s1"), str(tmp_path / "s2"), str(tmp_path / "s3")
    write_segments(a, p1)
    write_segments(a, p2)
    write_segments(b, p3)
    assert cli_main(["segments", p1, p2]) == 0
    assert cli_main(["segments", p1, p3, "--dump"]) == 1
    geom_dir = str(tmp_path / "changes")
    assert cli_main(["segments", p1, p3, "--geom", geom_dir]) == 1
    layer = {(r.change, tuple(r.xs)) for r in spark.read.parquet(geom_dir).collect()}
    assert layer == {(0, (1.0, 3.0)), (1, (5.0, 7.0))}


def test_dump_changes_driver_cap(spark):
    """Round-4 VERDICT nit: dump_changes loud-fails past max_driver_segments
    instead of OOMing the driver on a pathological diff."""
    import pytest

    from osmcoastline_spark.operators.segments_diff import diff_segments, dump_changes

    old = spark.range(10).selectExpr(
        "cast(id as double) x1", "0.0d y1", "cast(id+1 as double) x2", "1.0d y2"
    )
    new = old.limit(0)
    removed, added = diff_segments(old, new)
    with pytest.raises(RuntimeError, match="max_driver_segments"):
        dump_changes(removed, added, max_driver_segments=5)
    assert dump_changes(removed, added, max_driver_segments=100).startswith("Removed:\n")


def test_package_zip_content_addressed(tmp_path):
    """Round-5 regression: the executor-shipping zip must be rebuilt when
    package sources change — a fixed-name cached zip shadowed the live
    package on workers (userFiles precedes PYTHONPATH in worker sys.path)
    and silently ran stale code."""
    import importlib.util
    import zipfile

    spec = importlib.util.spec_from_file_location("se_zip", "/root/repo/__spark_entry__.py")
    se = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(se)

    pkg = tmp_path / "osmcoastline_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("X = 1\n")
    z1 = se._package_zip(str(pkg), out_dir=str(tmp_path))
    (pkg / "__init__.py").write_text("X = 2\n")
    z2 = se._package_zip(str(pkg), out_dir=str(tmp_path))
    assert z1 != z2  # content change -> new zip name, never a stale reuse
    with zipfile.ZipFile(z2) as zf:
        assert zf.read("osmcoastline_spark/__init__.py") == b"X = 2\n"
    # unchanged content reuses the existing zip (no rebuild churn)
    assert se._package_zip(str(pkg), out_dir=str(tmp_path)) == z2


def test_rings_to_lines_max_points_zero_reference_parity(spark):
    """-m 0 disables polygon SPLITTING only (options.cpp:156-158); line
    output still reaches coastline_polygons.cpp:286 where numPoints >= 0
    always flushes — one 2-point LineString per kept segment. A round-5
    edit misread that as 'no line chunking'; this pins the reference
    behavior."""
    from osmcoastline_spark.operators.lines import rings_to_lines

    square = {
        "shell_x": [0.0, 1.0, 1.0, 0.0, 0.0],
        "shell_y": [0.0, 0.0, 1.0, 1.0, 0.0],
        "holes_x": [],
        "holes_y": [],
    }
    df = spark.createDataFrame(
        [square],
        "shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>",
    )
    out0 = rings_to_lines(df, max_points=0).collect()
    assert len(out0) == 4 and all(len(r.xs) == 2 for r in out0)
    # max_points=3: chunks of 2 segments = 3 points each
    out3 = sorted(len(r.xs) for r in rings_to_lines(df, max_points=3).collect())
    assert out3 == [3, 3]
    # large max_points: the whole ring as one line
    out_big = rings_to_lines(df, max_points=1000).collect()
    assert len(out_big) == 1 and len(out_big[0].xs) == 5


def test_filter_planet_keeps_bogus_ways(spark):
    """osmcoastline_filter keeps every natural=coastline way INCLUDING
    coastline=bogus (osmcoastline_filter.cpp:143 — bogus is only dropped
    later by the main program's way intake); filtering bogus in the
    extract would lose those ways and their exclusive nodes."""
    nodes, ways = fixture_df(
        spark,
        [(100, 1.0, 1.0), (101, 1.1, 1.0)],
        [(300, [100, 101], {"natural": "coastline", "coastline": "bogus"})],
    )
    kept_nodes, kept_ways = filter_planet(nodes, ways)
    assert kept_ways.count() == 1
    assert {r.node_id for r in kept_nodes.collect()} == {100, 101}
    # the MAIN program's intake still excludes it
    from osmcoastline_spark.operators.filter import coastline_ways

    assert coastline_ways(ways).count() == 0
