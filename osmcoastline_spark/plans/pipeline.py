"""The full osmcoastline DAG (reference src/osmcoastline.cpp:177-440, §3.1 of
SURVEY.md) as one orchestrated Spark job.

Ordering constraints preserved: the ring merge plan from way node ids
before the node locations (the reference's pass 1 before pass 2:
assemble_rings plans on way endpoints, then regroups the lazily located
points of ways_with_locations straight into rings, in one shuffle);
intersections before gap closing (closing segments never appear in the
segment dump); fix_direction before transform (winding checked in 4326);
questionable before split, 4326 only; water derivation consumes the
*split* land polygons.

Every frame the driver builds — gap-close plans and error rows, empty
error tables, the options/meta rows — is a LocalRelation made by
util.local_frame.

Warning/error accounting matches the reference:
  warnings: intersections+overlaps, output_rings routing, turned-around
            polygons, questionable rings
  errors:   fixed rings, unconnected nodes after closing, 'No polygons
            created!' (+1)
  exit:     2 if errors or warnings > 500; 1 if warnings; else 0
            (src/osmcoastline.cpp:70,428-439)

GEOS-free geometry (all pure numpy): IsValid/Buffer(0) are implemented as
the per-ring crossing kernel (intersections.ring_self_intersections, one
narrow mapInArrow stage) + the numpy Buffer(0) equivalent in
operators/repair.py, applied BOTH pre-polygonize (buffer0_triage,
reference add_polygons_to_vector) and post-split (check_polygons,
reference coastline_polygons.cpp:444-467). The distributed x-slab sweep
(intersections.segment_sweep) runs once, on the pre-close segments, for
the 'intersection' error points and the duplicate segments.

Every Python stage — the sweep, ring validity, repair, containment,
split, water, lines and the 3857 transform — is a mapInArrow stage
through util.arrow_stage, whose codec hands the kernels numpy views of the
Arrow list columns and writes their outputs back as Arrow lists. The
Antarctica closure and the land-free water tiles are Catalyst
projections. Known deviations:
  * check_polygons validity is shell-level (the axis-parallel split cuts
    cannot introduce new hole-vs-shell conflicts); GEOS IsValid also
    re-checks hole nesting.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.operators.antarctica import antarctica_window, close_antarctica_ring
from osmcoastline_spark.operators.close import close_rings
from osmcoastline_spark.operators.filter import coastline_ways, tagged_node_errors
from osmcoastline_spark.operators.intersections import (
    duplicate_segment_counts,
    duplicate_segments,
    intersection_pairs,
    ring_segments,
    ring_self_intersections,
    segment_sweep,
    slab_checkpoint,
)
from osmcoastline_spark.operators.repair import buffer0_triage, check_counts, check_polygons
from osmcoastline_spark.operators.lines import rings_to_lines
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.polygonize import fix_direction, polygonize
from osmcoastline_spark.operators.questionable import questionable_rings
from osmcoastline_spark.operators.rings import _closed, assemble_rings, route_rings
from osmcoastline_spark.operators.split import split_polygons
from osmcoastline_spark.operators.water import drop_antimeridian_slivers, water_polygons
from osmcoastline_spark.util import (
    arrow_stage,
    from_views,
    inherit_local_properties,
    list_views,
    local_frame,
    materialize,
    run_concurrently,
)
from osmcoastline_spark.schemas import (
    DEFAULT_BBOX_OVERLAP_3857,
    DEFAULT_BBOX_OVERLAP_4326,
    DEFAULT_CLOSE_DISTANCE,
    DEFAULT_MAX_POINTS_IN_POLYGON,
    ERROR_LINES_SCHEMA,
    ERROR_POINTS_SCHEMA,
    EXTENT_3857,
    EXTENT_4326,
    MAX_WARNINGS,
)


@dataclass
class Options:
    epsg: int = 4326
    close_distance: float = DEFAULT_CLOSE_DISTANCE
    max_points_in_polygon: int = DEFAULT_MAX_POINTS_IN_POLYGON
    bbox_overlap: float | None = None
    split_large_polygons: bool = True
    output_rings: bool = False
    output_lines: bool = False
    output_polygons: str = "land"  # land | water | both | none
    water_cell_deg: float = 1.0
    cell_deg: float = 0.5  # owner-cell rule of the crossing kernels

    def effective_overlap(self) -> float:
        if self.bbox_overlap is not None:
            return self.bbox_overlap
        return DEFAULT_BBOX_OVERLAP_4326 if self.epsg == 4326 else DEFAULT_BBOX_OVERLAP_3857


@dataclass
class PipelineResult:
    tables: dict = field(default_factory=dict)  # name -> DataFrame
    stats: dict = field(default_factory=dict)
    warnings: int = 0
    errors: int = 0
    persisted: list = field(default_factory=list)  # frames pinned for reuse

    def unpersist(self) -> None:
        """Release cached frames (call between repeated in-session runs —
        cache entries are plan-keyed and never GC'd on their own)."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self.persisted.clear()

    @property
    def exit_code(self) -> int:
        if self.errors or self.warnings > MAX_WARNINGS:
            return 2
        if self.warnings:
            return 1
        return 0


def _empty(spark: SparkSession, schema):
    return local_frame(spark, [], schema)


def _count_error_categories(error_points: list, error_lines: list) -> list:
    """One pruned aggregate over both error-table union lineages: rows of
    (kind 'p'|'l', error, count). Counting only touches the `error`
    column, so Catalyst prunes every coordinate array out of the plan."""
    ep = error_points[0]
    for df in error_points[1:]:
        ep = ep.unionByName(df)
    el = error_lines[0]
    for df in error_lines[1:]:
        el = el.unionByName(df)
    return (
        ep.select(F.lit("p").alias("kind"), "error")
        .unionByName(el.select(F.lit("l").alias("kind"), "error"))
        .groupBy("kind", "error")
        .count()
        .collect()
    )


def _transform_polygons_3857(polys: DataFrame) -> DataFrame:
    """G11: closed-form WebMercator. Each Arrow batch transforms in ONE
    numpy call per coordinate axis and column: the flat values of the
    shell and hole lists transform and keep their offsets, so there is no
    per-row Python in the kernel. A null hole list comes out empty."""

    def transform(batches):
        for batch in batches:
            out = {c: batch.column(c) for c in batch.schema.names}
            for cx, cy in (("shell_x", "shell_y"), ("holes_x", "holes_y")):
                *xoff, xs = list_views(batch.column(cx))
                *yoff, ys = list_views(batch.column(cy))
                tx, ty = geom.merc_forward(xs, ys)
                out[cx], out[cy] = from_views(*xoff, tx), from_views(*yoff, ty)
            n = batch.num_rows
            ex, ey = (
                np.concatenate([batch.column(lo).to_numpy(), batch.column(hi).to_numpy()])
                for lo, hi in (("env_minx", "env_maxx"), ("env_miny", "env_maxy"))
            )
            tex, tey = geom.merc_forward(ex, ey)
            out["env_minx"], out["env_maxx"] = tex[:n], tex[n:]
            out["env_miny"], out["env_maxy"] = tey[:n], tey[n:]
            yield out

    return arrow_stage(polys, transform, polys.schema)


def _meta_tables(spark: SparkSession, opt: Options, res: PipelineResult, t0: float) -> None:
    """S8 — the reference's `options` + 11-column `meta` SQLite tables
    (src/output_database.cpp:66-80,113-136) as one-row DataFrames."""
    import datetime
    import resource
    import time

    res.tables["options"] = local_frame(
        spark,
        [(
            float(opt.effective_overlap()),
            float(opt.close_distance),
            int(opt.max_points_in_polygon),
            int(bool(opt.split_large_polygons)),
        )],
        "overlap double, close_distance double, max_points_in_polygons int, "
        "split_large_polygons int",
    )
    s = res.stats
    res.tables["meta"] = local_frame(
        spark,
        [(
            datetime.datetime.now(datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S"),
            int(time.time() - t0),
            int(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024),
            int(s.get("ways", 0)),
            int(s.get("unconnected_nodes", 0)),
            int(s.get("rings", 0)),
            int(s.get("rings_from_single_way", 0)),
            int(s.get("rings_fixed", 0)),
            int(s.get("rings_turned_around", 0)),
            int(s.get("land_polygons_before_split", 0)),
            int(s.get("land_polygons_after_split", 0)),
        )],
        "timestamp string, runtime int, memory_usage int, num_ways int, "
        "num_unconnected_nodes int, num_rings int, num_rings_from_single_way int, "
        "num_rings_fixed int, num_rings_turned_around int, "
        "num_land_polygons_before_split int, num_land_polygons_after_split int",
    )


def run_pipeline(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    options: Options | None = None,
    mid_sink=None,
    preassembled: tuple | None = None,
) -> PipelineResult:
    """`mid_sink` (a CheckpointSink) commits rings_closed/rings_open
    snapshots right after R1 assembly — the finer-grained resume point;
    `preassembled` = (closed_df, open_df, pre_stats) restarts the pipeline
    FROM those snapshots, skipping filter/locations/assembly entirely."""
    # one thread for the error-category count, which overlaps split
    # and check_polygons, scoped to this run: when the run fails, queued
    # work is cancelled and running work awaited before the error
    # propagates, so no job outlives the call. Submissions wrap their
    # thunk in util.inherit_local_properties, so their jobs carry the
    # submitting thread's job group.
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return _run_pipeline(spark, nodes, ways, options, mid_sink, preassembled, pool)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)


def _run_pipeline(
    spark: SparkSession,
    nodes: DataFrame,
    ways: DataFrame,
    options: Options | None,
    mid_sink,
    preassembled: tuple | None,
    pool: ThreadPoolExecutor,
) -> PipelineResult:
    import time as _time

    t0 = _time.time()
    opt = options or Options()
    res = PipelineResult()

    # env-gated stage trace (SPARK_GRAFT_TRACE=1): prints elapsed time
    # between action boundaries — the profiling hook behind the bench
    # regression work; zero cost when off
    if os.environ.get("SPARK_GRAFT_TRACE"):
        _st = spark.sparkContext.statusTracker()
        _last = [t0, len(_st.getJobIdsForGroup(None) or [])]

        def _trace(label: str) -> None:
            now = _time.time()
            nj = len(_st.getJobIdsForGroup(None) or [])
            print(
                f"[pipeline] {label:22s} {now - _last[0]:7.2f}s"
                f"  +{nj - _last[1]} jobs",
                flush=True,
            )
            _last[0], _last[1] = now, nj
    else:
        def _trace(label: str) -> None:
            pass

    error_points = [tagged_node_errors(nodes)]
    error_lines = [_empty(spark, ERROR_LINES_SCHEMA)]
    # error -> (error_lines frame, row count) for frames whose count the
    # driver already knows: they join the table, not the counting aggregate
    counted_lines: dict[str, tuple[DataFrame, int]] = {}
    acct_future = None
    acct_sig = None

    if preassembled is not None:
        closed, open_, pre_stats = preassembled
        res.stats.update(pre_stats)
        n_closed_pre = n_open_pre = None
        antarctica_kw = {}
        # an older snapshot may lack some stats_pre keys (round-3 ADVICE):
        # recompute the missing counts from the loaded rings instead of
        # silently reporting 0 in `meta`. `ways` = distinct ways across
        # both ring sets (cheap explode over the snapshot, no node join).
        if "rings_from_single_way" not in res.stats:
            res.stats["rings_from_single_way"] = closed.filter(
                F.col("nways") == 1
            ).count()
        if "unconnected_nodes_before_close" not in res.stats:
            res.stats["unconnected_nodes_before_close"] = open_.count() * 2
        if "ways" not in res.stats:
            res.stats["ways"] = int(
                closed.select(F.sum("nways")).first()[0] or 0
            ) + int(open_.select(F.sum("nways")).first()[0] or 0)
    else:
        # pass 1+2 in the reference's order: the ring plan from way node
        # ids, then the location join regrouped straight into rings
        # (rings.assemble_rings). One endpoint checkpoint observes the
        # ways count; the ring checkpoint observes the J3 missing-location
        # count, the assembly stats, the open-ring bound for gap closing
        # and the Antarctica ring id — no count job of their own.
        cways = coastline_ways(ways)
        closed, open_, asm_seen = assemble_rings(
            cways,
            ways_with_locations(cways, nodes),
            observe={
                "closed": F.count_if(_closed()),
                "closed_single": F.count_if(_closed() & (F.col("nways") == 1)),
                "open": F.count_if(~_closed()),
                "antarctica": F.min(
                    F.when(~_closed() & antarctica_window(), F.col("ring_id"))
                ),
            },
        )
        res.stats["ways"] = asm_seen["ways"]
        if asm_seen["nmiss"]:
            res.stats["missing_locations"] = int(asm_seen["nmiss"])
            res.errors += 1
            _meta_tables(spark, opt, res, t0)
            return res
        antarctica_kw = {"target": asm_seen["antarctica"]}
        n_open_pre = asm_seen["open"]
        # the post-assembly closed count feeds stats["rings"]
        # ARITHMETICALLY (closed-after-close = closed-now + antarctica +
        # gap-close merges, all driver-known)
        n_closed_pre = asm_seen["closed"]
        res.stats["rings_from_single_way"] = asm_seen["closed_single"]
        res.stats["unconnected_nodes_before_close"] = n_open_pre * 2
        if mid_sink is not None:
            pre = {
                k: res.stats[k]
                for k in ("ways", "rings_from_single_way", "unconnected_nodes_before_close")
                if k in res.stats
            }
            extra = getattr(mid_sink, "run_lineage", {})
            mid_sink.write("rings_closed", closed, lineage={"stats_pre": pre, **extra})
            mid_sink.write("rings_open", open_, lineage={"stats_pre": pre, **extra})
        _trace("assemble")

    # J5/J6 intersections & overlaps (before closing!), reported on the
    # raw segment set (reference parity, src/osmcoastline.cpp:340-352).
    # Ring validity is decided POST-close below, per ring — gap closing
    # merges rings (new ring_id = min member) and adds closure segments,
    # so pre-close results would both miss new self-crossings and name
    # rings that no longer exist (round-3 ADVICE fix).
    # checkpoint: segs feeds the sweep and the output table. Its own job
    # observes the segment count and x-quantiles that fix the sweep's
    # slabs, so the slabs cost no sampling job.
    segs, edges = slab_checkpoint(
        ring_segments(closed.unionByName(open_)), spark.sparkContext.defaultParallelism
    )
    res.tables["segments"] = segs
    _trace("segments")

    def sweep():
        # crossings and duplicate segments in one checkpoint; the
        # duplicate-key count decides the orphan filter below
        return materialize(segment_sweep(segs, edges, opt.cell_deg), n_dup_keys=F.count("k"))

    # G12 Antarctica — the ring id was observed at assembly; a resumed
    # run's detection aggregate overlaps the sweep (independent jobs over
    # checkpointed frames)
    (open_, found), (swept, sweep_seen) = run_concurrently(
        lambda: close_antarctica_ring(open_, opt.epsg, **antarctica_kw), sweep
    )
    n_dup_keys = sweep_seen["n_dup_keys"]
    dup_counts = duplicate_segment_counts(swept)
    error_points.append(
        intersection_pairs(swept).select(
            F.lit(0).cast("long").alias("osm_id"),
            F.lit("intersection").alias("error"),
            "x",
            "y",
        )
    )
    error_lines.append(duplicate_segments(dup_counts))
    res.stats["antarctica_closed"] = found
    n_closed_delta = 0  # rings closed after assembly (driver-known)
    if found:
        n_closed_delta += 1
        # only the Antarctica ring can have closed — skip the filter/union
        # replumbing entirely on the (common) no-Antarctica input
        newly = open_.filter(
            F.element_at("node_ids", 1) == F.element_at("node_ids", -1)
        )
        closed = closed.unionByName(newly.select(*closed.columns))
        open_ = open_.filter(
            F.element_at("node_ids", 1) != F.element_at("node_ids", -1)
        )

    # R2 gap closing. Open rings ENTIRELY made of duplicated segments are
    # leftover duplicate-way artifacts — the reference orphans them via its
    # endpoint-map overwrite semantics (see invalid-duplicate-segments-1);
    # we detect them explicitly and exclude them from closing.
    if opt.close_distance > 0:
        # n_dup_keys was observed on the sweep — if the input has no
        # duplicate segments at all (the common healthy-data case) the
        # whole orphan-detection branch (explode + semi-join + two
        # groupBys + an eager checkpoint, ~5 jobs) is
        # provably a no-op and is skipped
        if n_dup_keys:
            open_segs = ring_segments(open_)
            dup_keys = dup_counts.drop("k")
            per_ring = open_segs.groupBy("ring_id").agg(F.count("*").alias("ntot"))
            dup_per_ring = (
                open_segs.join(dup_keys, ["x1", "y1", "x2", "y2"], "left_semi")
                .groupBy("ring_id")
                .agg(F.count("*").alias("ndup"))
            )
            # tiny id set, but its lineage (two groupBys + two joins)
            # would otherwise re-execute for every consumer:
            # the close count, the endpoint collect, the orphan semi-join
            # and the merged checkpoint — four evaluations without this pin
            orphan_ids, _ = materialize(
                per_ring.join(dup_per_ring, "ring_id")
                .filter(F.col("ndup") == F.col("ntot"))
                .select("ring_id")
            )
            orphans = open_.join(orphan_ids, "ring_id", "left_semi")
            active = open_.join(orphan_ids, "ring_id", "left_anti")
        else:
            orphans = None
            active = open_
        # `active` is a subset of the open rings counted at assembly: that
        # count bounds the endpoint collect without a probe
        merged, cres = close_rings(active, opt.close_distance, max_rows=n_open_pre)
        if orphans is not None:
            merged = merged.unionByName(orphans)
        merged, _ = materialize(merged)
        res.stats["rings_fixed"] = cres.fixed_rings
        res.stats["unconnected_nodes"] = cres.unconnected_nodes
        res.errors += cres.fixed_rings + cres.unconnected_nodes
        if cres.error_points:
            error_points.append(local_frame(spark, cres.error_points, ERROR_POINTS_SCHEMA))
        if cres.error_lines:
            error_lines.append(local_frame(spark, cres.error_lines, ERROR_LINES_SCHEMA))
        now_closed = merged.filter(F.element_at("node_ids", 1) == F.element_at("node_ids", -1))
        closed = closed.unionByName(now_closed.select(*closed.columns))
        open_ = merged.filter(F.element_at("node_ids", 1) != F.element_at("node_ids", -1))
        n_closed_delta += len(cres.closed_group_ids)
    if n_closed_pre is not None:
        # exact arithmetic: post-close closed set = post-assembly closed
        # set (observed on the assembly checkpoints) plus the
        # driver-known closures (Antarctica + gap-close groups) — no
        # dedicated count job
        res.stats["rings"] = n_closed_pre + n_closed_delta
    else:
        res.stats["rings"] = closed.count()
    _trace("close+rings_count")

    routed = route_rings(closed)

    if opt.output_rings:
        # routing: single_point / not_a_ring / not_closed (+end_point);
        # warnings derived from the final error-category counts in one pass
        sp = routed["single_point"]
        nar = routed["not_a_ring"]
        error_points.append(
            sp.select(
                F.element_at("node_ids", 1).alias("osm_id"),
                F.lit("single_point_in_ring").alias("error"),
                F.element_at("xs", 1).alias("x"),
                F.element_at("ys", 1).alias("y"),
            )
        )
        error_lines.append(
            nar.select(
                F.col("ring_id").alias("osm_id"),
                F.lit("not_a_ring").alias("error"),
                F.reverse("xs").alias("xs"),
                F.reverse("ys").alias("ys"),
            )
        )
        error_points.append(
            nar.selectExpr(
                "element_at(node_ids, 1) as osm_id", "'not_a_ring' as error",
                "element_at(xs, 1) as x", "element_at(ys, 1) as y"
            ).unionByName(
                nar.selectExpr(
                    "element_at(node_ids, -1) as osm_id", "'not_a_ring' as error",
                    "element_at(xs, -1) as x", "element_at(ys, -1) as y"
                )
            )
        )
        error_lines.append(
            open_.select(
                F.col("ring_id").alias("osm_id"),
                F.lit("not_closed").alias("error"),
                F.reverse("xs").alias("xs"),
                F.reverse("ys").alias("ys"),
            )
        )
        error_points.append(
            open_.selectExpr(
                "element_at(node_ids, 1) as osm_id", "'end_point' as error",
                "element_at(xs, 1) as x", "element_at(ys, 1) as y"
            ).unionByName(
                open_.selectExpr(
                    "element_at(node_ids, -1) as osm_id", "'end_point' as error",
                    "element_at(xs, -1) as x", "element_at(ys, -1) as y"
                )
            )
        )
        # G13 + rings land/valid (reference src/output_database.cpp:59-64,
        # 165-221): `land` = exterior CW after the OSM→GIS reversal (i.e.
        # OSM orientation CCW ⇒ shoelace > 0); `valid` = the single-ring
        # polygon has no self-intersection — detected on the FINAL
        # (post-close) rings by the per-ring crossing kernel, standing in
        # for GEOS IsValid as the reference runs it, ring by ring
        # (src/coastline_ring_collection.cpp:148-168); one
        # 'self_intersection' error point per invalid ring at its first
        # (min x,y) crossing, rings-output mode only. GEOS IsValid is also
        # false for a ring touching itself at a POINT (repeated
        # coordinate, e.g. two nodes at one location) and
        # GEOSisValidReason reports "Ring Self-intersection[x y]" there
        # (reference output_database.cpp:169-211), so the kernel reports
        # repeated interior coordinates too. Pinned: error points,
        # rings.valid and their accounting all read it.
        from osmcoastline_spark.operators.polygonize import _area2_expr

        pring = routed["polygonizable"]
        si_first, _ = materialize(
            ring_self_intersections(pring, opt.cell_deg, repeated=True)
        )
        error_points.append(
            si_first.select(
                F.col("ring_id").alias("osm_id"),
                F.lit("self_intersection").alias("error"),
                "x",
                "y",
            )
        )
        res.tables["rings"] = (
            pring.join(si_first.select("ring_id", F.lit(1).alias("_inv")), "ring_id", "left")
            .select(
                F.col("ring_id").alias("osm_id"),
                "nways",
                "npoints",
                F.col("fixed").cast("int").alias("fixed"),
                (_area2_expr("xs", "ys") > 0).cast("int").alias("land"),
                F.when(F.col("_inv").isNotNull(), 0).otherwise(1).alias("valid"),
                "node_ids",
                "xs",
                "ys",
            )
        )

    if opt.output_polygons != "none" or opt.output_lines:
        # G5: each closed ring must form a valid polygon; invalid rings get
        # a Buffer(0)-equivalent repair attempt and drop SILENTLY otherwise
        # (reference add_polygons_to_vector,
        # src/coastline_ring_collection.cpp:148-168). When every ring drops,
        # "No polygons created!" becomes one error and the whole polygon
        # branch (lines/questionable/split/water) is skipped, matching the
        # reference's thrown runtime_error (osmcoastline.cpp:355-417).
        pg_in = routed["polygonizable"]
        polygonizable = buffer0_triage(pg_in, opt.cell_deg)
        if polygonizable is not pg_in:
            # repairs rewrote arrays — pin them; the clean identity return
            # rides the existing ring checkpoints (no third array write)
            polygonizable, _ = materialize(polygonizable)
        _trace("triage")
        pres = polygonize(polygonizable)
        res.errors += pres.invalid_count
        res.stats["invalid_polygons"] = pres.invalid_count
        error_lines.append(pres.invalid_error_lines)
        if pres.good_count == 0 and pres.invalid_count == 0:
            # reference throws when add_polygons_to_vector() returned no
            # ring polygons at all (osmcoastline.cpp:118-119) — every
            # triage-surviving ring lands in polygonize's good OR bad set,
            # so good+bad==0 is exactly "triage output empty", replacing
            # the isEmpty() pre-check (3-4 driver-floor jobs on an empty
            # frame). An all-invalid run (good=0, bad>0) is NOT this
            # error: the reference drops those polygons with errors++ and
            # continues with an empty vector.
            res.errors += 1  # "No polygons created!"
            res.stats["no_polygons"] = True
        else:
            polys = pres.polygons  # already a filter over polygonize's
            # internal checkpoint — re-checkpointing doubles the write
            res.stats["land_polygons_before_split"] = pres.good_count
            polys, direrr = fix_direction(polys)
            # fix_direction is a pure-Catalyst projection (conditional
            # reverse) over polygonize's fresh checkpoint — re-evaluating
            # it per consumer is cheaper than a second full array write
            error_lines.append(direrr)
            _trace("polygonize+fixdir")

            if opt.epsg != 4326:
                polys, _ = materialize(_transform_polygons_3857(polys))

            if opt.output_lines:
                res.tables["lines"] = rings_to_lines(
                    polys, opt.max_points_in_polygon, opt.epsg
                )

            if opt.output_polygons != "none":
                if opt.epsg == 4326:
                    all_rings = closed.unionByName(open_)
                    counted_lines["questionable"] = questionable_rings(all_rings, polys)
                    _trace("questionable")

                # error tables are COMPLETE here (split/check/water add
                # warnings as ints, never error rows) — launch the
                # accounting count in a driver thread so its wall time
                # hides under the split + check_polygons actions below
                # (round 6; the guard at the accounting site falls back to
                # a synchronous count if a future edit appends later)
                acct_sig = (len(error_points), len(error_lines))
                acct_future = pool.submit(
                    inherit_local_properties(_count_error_categories),
                    list(error_points),
                    list(error_lines),
                )

                if opt.split_large_polygons and opt.max_points_in_polygon > 0:
                    # split's round checkpoints observe its output row count
                    # and check_polygons' two counts over the cut pieces
                    polys, split_seen = split_polygons(
                        polys,
                        opt.max_points_in_polygon,
                        opt.effective_overlap(),
                        opt.epsg,
                        observe=check_counts("cut_suspect"),
                    )
                    res.stats["land_polygons_after_split"] = (
                        pres.good_count + split_seen["rows_added"]
                    )
                    _trace("split")

                    # reference check_polygons (src/osmcoastline.cpp:398-399
                    # → src/coastline_polygons.cpp:444-467): validity
                    # re-check after splitting — one warning per invalid
                    # polygon, Buffer(0) repair attempt, silent drop if
                    # unrepairable. Scanning only the split-produced pieces
                    # is exact: every input polygon passed the Buffer(0)
                    # triage (simple shell) and survived fix_direction /
                    # the strictly-monotonic 3857 transform, so cutting is
                    # the only step that can introduce invalidity — on
                    # unsplit polygons the reference's IsValid loop finds
                    # nothing by construction. Runs AFTER the SRS
                    # transform, so the binning cell size must be in
                    # OUTPUT units (meters for 3857 — degree-sized cells
                    # over mercator coords would explode the bbox cover).
                    cp_cell = opt.cell_deg * (
                        1.0 if opt.epsg == 4326 else EXTENT_3857[2] / 180.0
                    )
                    pieces = polys.filter("was_split").drop("was_split")
                    untouched = polys.filter(~F.col("was_split")).drop(
                        "was_split", "cut_suspect"
                    )
                    # cut_suspect (split's per-piece cut-degeneracy flag)
                    # limits the distributed crossing kernel to pieces whose
                    # cut could actually have produced a non-simple shell;
                    # the all-clean case costs no job at all
                    checked, cp_warnings = check_polygons(
                        pieces,
                        cp_cell,
                        suspect_col="cut_suspect",
                        counts=(split_seen["nb"], split_seen["ns"]),
                    )
                    polys = untouched.unionByName(checked.drop("cut_suspect"))
                    res.stats["invalid_polygons_after_split"] = cp_warnings
                    res.warnings += cp_warnings
                    if cp_warnings:
                        polys, _ = materialize(polys)
                    _trace("check_polygons")
                else:
                    # reference calls check_polygons unconditionally after the
                    # optional split (src/osmcoastline.cpp:398-399). With
                    # splitting off nothing has cut the shells since the
                    # coordinate-based Buffer(0) triage + polygonize validated
                    # them, so the distributed crossing kernel is provably
                    # redundant — run only the cheap column-level repeated-
                    # vertex / zero-area predicates (one aggregate job).
                    # Known deviation: a >MAX_REPAIR_POINTS ring that skipped
                    # triage repair could in principle carry a transversal
                    # crossing here undetected; the reference would warn.
                    checked, cp_warnings = check_polygons(
                        polys.withColumn("no_kernel", F.lit(False)),
                        suspect_col="no_kernel",
                    )
                    polys = checked.drop("no_kernel")
                    res.stats["invalid_polygons_after_split"] = cp_warnings
                    res.warnings += cp_warnings
                    if cp_warnings:
                        polys, _ = materialize(polys)

                own_cols = [c for c in polys.columns if c.startswith("own_")]
                if opt.output_polygons in ("land", "both"):
                    # the owned-region lineage (split.py) is internal to the
                    # even-odd water derivation — the land output keeps the
                    # reference's overlapping-piece shape and schema
                    res.tables["land_polygons"] = polys.drop(*own_cols)
                if opt.output_polygons in ("water", "both"):
                    # tile math runs in the OUTPUT SRS: the grid origin,
                    # cell size, and sliver threshold all scale with the
                    # extent (degree-space constants would generate ~4e7
                    # cells per mercator polygon)
                    extent = EXTENT_4326 if opt.epsg == 4326 else EXTENT_3857
                    water = water_polygons(
                        polys,
                        opt.water_cell_deg,
                        extent=extent,
                        unit_per_deg=1.0 if opt.epsg == 4326 else extent[2] / 180.0,
                    )
                    res.tables["water_polygons"] = drop_antimeridian_slivers(
                        water, max_x=extent[2] * (179.9999 / 180.0)
                    )
                    _trace("water_plan")

    ep = error_points[0]
    for df in error_points[1:]:
        ep = ep.unionByName(df)
    el = error_lines[0]
    for df in error_lines[1:] + [df for df, _n in counted_lines.values()]:
        el = el.unionByName(df)
    # single-JOB warning accounting: the exit-code contract only needs the
    # per-category COUNTS, and counting needs only the `error` column — so
    # one union-of-projections aggregate covers both tables (round 6;
    # previously two concurrent per-table count jobs whose ~18 AQE stage
    # jobs dominated the accounting span at sf0.1). The count runs BEFORE
    # persist() is registered so Catalyst prunes the coordinate arrays out
    # of the counting plan (no cache substitution forces a full-row
    # materialization); the persisted error tables then fill lazily on
    # their first real consumer (sink write) — same total work for CLI
    # runs, array-free accounting for everyone. When the polygon branch
    # launched the count early (overlapped with split/check), reuse its
    # result iff no error frame was appended since.
    if acct_future is not None and acct_sig == (len(error_points), len(error_lines)):
        counts = acct_future.result()
    else:
        counts = _count_error_categories(error_points, error_lines)
    epc = {r["error"]: r["count"] for r in counts if r["kind"] == "p"}
    elc = {r["error"]: r["count"] for r in counts if r["kind"] == "l"}
    elc.update((error, n) for error, (_df, n) in counted_lines.items())
    ep = ep.persist()
    el = el.persist()
    res.persisted += [ep, el]
    _trace("error_accounting")
    res.stats["overlaps"] = elc.get("overlap", 0)
    res.stats["intersections"] = epc.get("intersection", 0)
    res.stats["rings_turned_around"] = elc.get("direction", 0)
    res.stats["questionable"] = elc.get("questionable", 0)
    res.warnings += (
        elc.get("overlap", 0)
        + epc.get("intersection", 0)
        + elc.get("direction", 0)
        + elc.get("questionable", 0)
    )
    if opt.output_rings:
        res.warnings += (
            epc.get("single_point_in_ring", 0)
            + elc.get("not_a_ring", 0)
            + elc.get("not_closed", 0)
        )
    res.tables["error_points"] = ep
    res.tables["error_lines"] = el
    _meta_tables(spark, opt, res, t0)
    return res
