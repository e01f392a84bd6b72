"""Resume-from-snapshot semantics of the checkpointed pipeline."""

import os

from pyspark.sql import functions as F

from osmcoastline_spark.plans.checkpointed import run_checkpointed
from osmcoastline_spark.plans.pipeline import Options
from osmcoastline_spark.sinks import CheckpointSink
from osmcoastline_spark.synth import fixture_df

NODES = [
    (100, 1.01, 1.01), (101, 1.02, 1.01), (102, 1.03, 1.02),
    (103, 1.04, 1.02), (104, 1.05, 1.03), (105, 1.01, 1.03),
]
WAYS = [(200, [100, 101, 102]), (201, [102, 103, 104, 105, 100])]


def _parquet_inputs(spark, tmp_path, nodes=NODES):
    """The fixture as file-backed frames: only they have a fingerprint."""
    n, w = fixture_df(spark, nodes, WAYS)
    n.write.parquet(str(tmp_path / "nodes"))
    w.write.parquet(str(tmp_path / "ways"))
    return spark.read.parquet(str(tmp_path / "nodes")), spark.read.parquet(str(tmp_path / "ways"))


def test_checkpoint_then_resume(spark, tmp_path):
    nodes, ways = _parquet_inputs(spark, tmp_path)
    sink = CheckpointSink(str(tmp_path / "ckpt"))
    opt = Options(output_polygons="land")

    run1 = run_checkpointed(spark, nodes, ways, opt, sink)
    assert run1.loaded == []
    assert any(t == "land_polygons" for t, _ in run1.committed)
    land1 = run1.result.tables["land_polygons"].collect()

    # second run: everything served from snapshots, no recompute
    run2 = run_checkpointed(spark, nodes, ways, opt, sink)
    assert "land_polygons" in run2.loaded
    assert run2.committed == []
    land2 = run2.result.tables["land_polygons"].collect()
    assert {tuple(r.shell_x) for r in land1} == {tuple(r.shell_x) for r in land2}
    assert run2.result.warnings == run1.result.warnings
    assert run2.result.errors == run1.result.errors

    # torn run: missing meta marker ⇒ finals recompute, but the committed
    # rings_closed/rings_open snapshots give a MID-PIPELINE resume (the
    # location join + assembly are skipped)
    os.remove(os.path.join(str(tmp_path / "ckpt"), "_meta_done", "_MANIFEST.json"))
    run3 = run_checkpointed(spark, nodes, ways, opt, sink)
    assert run3.loaded == ["rings_closed", "rings_open"]
    assert any(t == "land_polygons" for t, _ in run3.committed)
    land3 = run3.result.tables["land_polygons"].collect()
    assert {tuple(r.shell_x) for r in land1} == {tuple(r.shell_x) for r in land3}
    assert run3.result.warnings == run1.result.warnings
    assert run3.result.errors == run1.result.errors
    # pre-assembly stats restored from the snapshot lineage
    assert run3.result.stats["ways"] == run1.result.stats["ways"]
    assert (
        run3.result.stats["rings_from_single_way"]
        == run1.result.stats["rings_from_single_way"]
    )

    # fully torn (no mid snapshot either) ⇒ full recompute
    os.remove(os.path.join(str(tmp_path / "ckpt"), "rings_closed", "_MANIFEST.json"))
    os.remove(os.path.join(str(tmp_path / "ckpt"), "_meta_done", "_MANIFEST.json"))
    run4 = run_checkpointed(spark, nodes, ways, opt, sink)
    assert run4.loaded == []
    assert any(t == "land_polygons" for t, _ in run4.committed)


def test_in_memory_inputs_never_resume(spark, tmp_path):
    """In-memory frames have no input files, so their schema would be the
    whole fingerprint: a second run over the same ways with every node
    moved must not resume the first run's tables. Both runs commit."""
    sink = CheckpointSink(str(tmp_path / "ckpt_mem"))
    opt = Options(output_polygons="land")
    nodes, ways = fixture_df(spark, NODES, WAYS)
    run1 = run_checkpointed(spark, nodes, ways, opt, sink)
    assert run1.loaded == [] and run1.committed
    shell1 = {x for r in run1.result.tables["land_polygons"].collect() for x in r.shell_x}

    moved = [(n, x + 10, y + 5) for n, x, y in NODES]
    nodes2, ways2 = fixture_df(spark, moved, WAYS)
    run2 = run_checkpointed(spark, nodes2, ways2, opt, sink)
    assert run2.loaded == []
    assert any(t == "land_polygons" for t, _ in run2.committed)
    shell2 = {x for r in run2.result.tables["land_polygons"].collect() for x in r.shell_x}
    assert shell2 == {x + 10 for x in shell1}
    # an unchanged in-memory rerun recomputes too
    assert run_checkpointed(spark, nodes2, ways2, opt, sink).loaded == []


def test_iceberg_sink_surface(spark, monkeypatch):
    """IcebergSink drives the DataFrameWriterV2 path (writeTo → using
    ('iceberg') → createOrReplace) and round-trips lineage through table
    properties — verified against a mocked catalog (no Iceberg runtime in
    this container)."""
    from unittest.mock import MagicMock

    from osmcoastline_spark.sinks import IcebergSink, make_sink

    calls = {}

    class FakeV2:
        def __init__(self, name):
            self.name = name

        def using(self, fmt):
            calls["using"] = fmt
            return self

        def tableProperty(self, key, value):
            calls.setdefault("props", {})[key] = value
            return self

        def createOrReplace(self):
            calls["created"] = self.name

    df = spark.createDataFrame([(1,)], "x int")
    # patch the concrete DataFrame class (pyspark 4 routes instances
    # through pyspark.sql.classic.dataframe.DataFrame)
    monkeypatch.setattr(type(df), "writeTo", lambda self, name: FakeV2(name), raising=True)

    fake_spark = MagicMock()
    fake_spark.sql.return_value.collect.return_value = [
        ("graft.rows", "7"),
        ("graft.committed_at", "123.0"),
        ("graft.lineage", '{"stage": "segments"}'),
    ]
    fake_spark.table.return_value.count.return_value = 7
    fake_spark.catalog.tableExists.return_value = True

    sink = IcebergSink(fake_spark, "lake")
    assert fake_spark.sql.call_args_list[0][0][0].startswith("CREATE NAMESPACE")

    n = sink.write("segments", df, lineage={"stage": "segments"})
    assert n == 7
    assert calls["using"] == "iceberg"
    assert calls["created"] == "lake.osmcoastline.segments"
    # the lineage (resume fingerprint) must ride the atomic snapshot
    # commit itself, not a post-commit ALTER a crash could separate
    assert calls["props"] == {"graft.lineage": '{"stage": "segments"}'}
    props_sql = fake_spark.sql.call_args_list[-1][0][0]
    assert props_sql.startswith("ALTER TABLE lake.osmcoastline.segments SET TBLPROPERTIES")
    assert "graft.rows" in props_sql and "graft.lineage" not in props_sql

    m = sink.manifest("segments")
    assert m["rows"] == 7 and m["lineage"] == {"stage": "segments"}
    assert sink.exists("segments")

    # factory: flag off -> parquet CheckpointSink; flag on -> IcebergSink
    monkeypatch.delenv("SPARK_GRAFT_ICEBERG_CATALOG", raising=False)
    from osmcoastline_spark.sinks import CheckpointSink

    assert isinstance(make_sink(fake_spark, "/tmp/x"), CheckpointSink)
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_CATALOG", "lake")
    assert isinstance(make_sink(fake_spark, "/tmp/x"), IcebergSink)


def test_resume_rejects_different_inputs(spark, tmp_path):
    """A sink directory produced from one input set must not be resumed
    for a DIFFERENT input set or different options — the fingerprint in
    each snapshot's lineage gates the resume."""
    nodes, ways = fixture_df(spark, NODES, WAYS)
    # file-backed inputs so the fingerprint has a real identity
    nodes.write.parquet(str(tmp_path / "nodes_v1"))
    ways.write.parquet(str(tmp_path / "ways_v1"))
    nodes.write.parquet(str(tmp_path / "nodes_v2"))
    ways.write.parquet(str(tmp_path / "ways_v2"))
    n1 = spark.read.parquet(str(tmp_path / "nodes_v1"))
    w1 = spark.read.parquet(str(tmp_path / "ways_v1"))
    n2 = spark.read.parquet(str(tmp_path / "nodes_v2"))
    w2 = spark.read.parquet(str(tmp_path / "ways_v2"))

    sink = CheckpointSink(str(tmp_path / "ckpt_fp"))
    opt = Options(output_polygons="land")
    run1 = run_checkpointed(spark, n1, w1, opt, sink)
    assert run1.loaded == []

    # same inputs -> full resume
    run2 = run_checkpointed(spark, n1, w1, opt, sink)
    assert "land_polygons" in run2.loaded

    # different input FILES (even with identical content) -> recompute
    run3 = run_checkpointed(spark, n2, w2, opt, sink)
    assert run3.loaded == []
    assert any(t == "land_polygons" for t, _ in run3.committed)

    # different OPTIONS -> recompute too
    run4 = run_checkpointed(
        spark, n2, w2, Options(output_polygons="land", close_distance=0.5), sink
    )
    assert run4.loaded == []


def test_stale_meta_marker_from_other_run_rejected(spark, tmp_path):
    """_meta_done demands an exact fingerprint match: run B recommitting
    every table with new inputs and crashing before its own marker must
    NOT resume with run A's stats attached to run B's tables."""
    import json

    nodes, ways = fixture_df(spark, NODES, WAYS)
    nodes.write.parquet(str(tmp_path / "n1"))
    ways.write.parquet(str(tmp_path / "w1"))
    n1 = spark.read.parquet(str(tmp_path / "n1"))
    w1 = spark.read.parquet(str(tmp_path / "w1"))

    sink = CheckpointSink(str(tmp_path / "ckpt_meta"))
    opt = Options(output_polygons="land")
    run_checkpointed(spark, n1, w1, opt, sink)

    # simulate run B: the stage tables carry a DIFFERENT fingerprint but
    # the old _meta_done marker (old fingerprint) survives the crash
    for t in ("land_polygons", "segments", "error_points", "error_lines"):
        mpath = os.path.join(str(tmp_path / "ckpt_meta"), t, "_MANIFEST.json")
        with open(mpath) as f:
            m = json.load(f)
        m["lineage"]["fingerprint"] = "fp-of-run-B"
        with open(mpath, "w") as f:
            json.dump(m, f)

    # resume attempt with run A's inputs: final-stage fingerprints
    # mismatch -> the FULL resume must not fire (the marker alone must
    # never carry it); the untouched mid-pipeline ring snapshots still
    # legitimately serve the mid-resume, and the finals recompute
    run = run_checkpointed(spark, n1, w1, opt, sink)
    assert "land_polygons" not in run.loaded
    assert any(t == "land_polygons" for t, _ in run.committed)

    # after the recompute the marker is re-fingerprinted; a clean resume
    # works again
    run2 = run_checkpointed(spark, n1, w1, opt, sink)
    assert "land_polygons" in run2.loaded
    meta = sink.manifest("_meta_done")["lineage"]
    assert "fingerprint" in meta


def test_resume_rejects_unfingerprinted_snapshots(spark, tmp_path):
    """A snapshot whose manifest carries no fingerprint was not written
    by run_checkpointed and may come from any inputs: neither the full
    resume nor the mid-pipeline ring resume may accept it."""
    import json

    nodes, ways = fixture_df(spark, NODES, WAYS)
    nodes.write.parquet(str(tmp_path / "n"))
    ways.write.parquet(str(tmp_path / "w"))
    n = spark.read.parquet(str(tmp_path / "n"))
    w = spark.read.parquet(str(tmp_path / "w"))

    root = str(tmp_path / "ckpt_nofp")
    sink = CheckpointSink(root)
    opt = Options(output_polygons="land")
    run1 = run_checkpointed(spark, n, w, opt, sink)
    land1 = {tuple(r.shell_x) for r in run1.result.tables["land_polygons"].collect()}

    os.remove(os.path.join(root, "_meta_done", "_MANIFEST.json"))
    stripped = set()
    for stage in os.listdir(root):
        mpath = os.path.join(root, stage, "_MANIFEST.json")
        if not os.path.exists(mpath):
            continue
        with open(mpath) as f:
            m = json.load(f)
        if m["lineage"].pop("fingerprint", None) is not None:
            stripped.add(stage)
        with open(mpath, "w") as f:
            json.dump(m, f)
    assert {"rings_closed", "rings_open", "land_polygons"} <= stripped

    run2 = run_checkpointed(spark, n, w, opt, sink)
    assert run2.loaded == []
    assert any(t == "land_polygons" for t, _ in run2.committed)
    land2 = {tuple(r.shell_x) for r in run2.result.tables["land_polygons"].collect()}
    assert land2 == land1
    assert run2.result.stats["ways"] == run1.result.stats["ways"]
    # the recompute re-fingerprints every snapshot, so the next run resumes
    assert "land_polygons" in run_checkpointed(spark, n, w, opt, sink).loaded


def test_zorder_extent_3857(spark):
    """morton_interleave_expr with the WebMercator extent must actually
    spread metre-valued coordinates across the code space — the hardcoded
    degree extent clamps every positive metre value to the top cell and
    sign-garbles negative ones."""
    from osmcoastline_spark.cells import morton_interleave_expr
    from osmcoastline_spark.geom import MERC

    df = spark.createDataFrame(
        [(-1.5e7, -5e6), (-1.0e5, 2e6), (7.5e6, 8e6), (1.9e7, 1.2e7)],
        "x double, y double",
    )
    ext = (-MERC, MERC, -MERC, MERC)
    codes = [
        r.z
        for r in df.select(
            morton_interleave_expr(F.col("x"), F.col("y"), extent=ext).alias("z")
        ).collect()
    ]
    assert len(set(codes)) == 4, "distinct locations must get distinct codes"
    assert all(0 <= c < (1 << 32) for c in codes)
    # degree-extent misuse: all positive-metre points collapse to one cell
    bad = [
        r.z
        for r in df.filter("x > 0").select(
            morton_interleave_expr(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert len(set(bad)) == 1, "the degenerate layout this guards against"


def test_zorder_sorted_layout(spark, tmp_path):
    """The sinks' shared z-order layout: with the default (degree) extent
    and with an explicit WebMercator extent, every partition comes out
    sorted by the Morton code of the envelope center, the helper column
    is gone, and the schema is the one the manifest records."""
    from osmcoastline_spark.cells import morton_interleave_expr
    from osmcoastline_spark.geom import MERC
    from osmcoastline_spark.sinks import zorder_sorted

    cx = (F.col("env_minx") + F.col("env_maxx")) / 2
    cy = (F.col("env_miny") + F.col("env_maxy")) / 2
    for scale, extent in ((1.0, None), (1e5, (-MERC, MERC, -MERC, MERC))):
        # a descending diagonal spread over 3 partitions: unsorted within
        # each partition unless the layout sorts it
        rows = [
            (i, (80.0 - i) * scale, (81.0 - i) * scale,
             (40.0 - i / 2) * scale, (41.0 - i / 2) * scale)
            for i in range(60)
        ]
        df = spark.createDataFrame(
            rows,
            "id long, env_minx double, env_maxx double, "
            "env_miny double, env_maxy double",
        ).repartition(3)
        out = zorder_sorted(df, extent)
        assert "zorder" not in out.columns
        code = (
            morton_interleave_expr(cx, cy, extent=extent)
            if extent is not None
            else morton_interleave_expr(cx, cy)
        )
        parts = out.withColumn("z", code).select("id", "z").rdd.glom().collect()
        assert sorted(r.id for p in parts for r in p) == list(range(60))
        assert sum(len(p) > 1 for p in parts) >= 2
        for p in parts:
            zs = [r.z for r in p]
            assert zs == sorted(zs)

        sink = CheckpointSink(str(tmp_path / f"z{scale:g}"))
        sink.write("t", df, spatial=True, extent=extent)
        assert out.schema.simpleString() == sink.manifest("t")["schema"]
        assert sink.read(spark, "t").schema.simpleString() == sink.manifest("t")["schema"]
