"""CLI — option parity with the reference binary (src/options.cpp:101-227)
for the flags that make sense on Spark, launched as

    python tools/make_pyfiles.py        # -> dist/osmcoastline_spark.zip
    spark-submit --py-files dist/osmcoastline_spark.zip \
        osmcoastline_spark/cli.py \
        --nodes /path/nodes.parquet --ways /path/ways.parquet \
        --output-database /path/out

(this file doubles as the spark-submit app script; the package imports
resolve from the --py-files zip — tests/test_spark_submit.py runs this
launch for real from a cwd where the zip is the ONLY import source)
or plainly `python -m osmcoastline_spark.cli ...` in local mode.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="osmcoastline_spark",
        description="PySpark-native coastline spatial-join + tiling engine",
    )
    p.add_argument("--nodes", required=True, help="nodes parquet path")
    p.add_argument("--ways", required=True, help="ways parquet path")
    p.add_argument("-o", "--output-database", required=True, help="output directory")
    p.add_argument("-s", "--srs", type=int, default=4326, choices=[4326, 3857])
    p.add_argument("-c", "--close-distance", type=float, default=1.0)
    p.add_argument("-m", "--max-points", type=int, default=1000)
    p.add_argument("-b", "--bbox-overlap", type=float, default=None)
    p.add_argument("-p", "--output-polygons", default="land",
                   choices=["land", "water", "both", "none"])
    p.add_argument("-r", "--output-rings", action="store_true")
    p.add_argument("-l", "--output-lines", action="store_true")
    p.add_argument("--water-cell-deg", type=float, default=1.0)
    p.add_argument("--master", default=None)
    p.add_argument("-v", "--verbose", action="store_true",
                   help="stage progress with elapsed times (reference "
                        "VerboseOutput analog: the SPARK_GRAFT_TRACE "
                        "per-stage trace)")
    p.add_argument("-d", "--debug", action="store_true",
                   help="debugging output (full Spark INFO logs)")
    p.add_argument("--exit-ignore-warnings", action="store_true")
    return p


def _segments_main(argv: list[str]) -> int:
    """segments SEGFILE1 SEGFILE2 [--dump] [--geom DIR] — the
    osmcoastline_segments tool over parquet segment tables."""
    sp = argparse.ArgumentParser(prog="osmcoastline_spark segments")
    sp.add_argument("seg1")
    sp.add_argument("seg2")
    sp.add_argument("-d", "--dump", action="store_true")
    sp.add_argument("-g", "--geom", default=None, help="write 'changes' layer here")
    sp.add_argument("--master", default=None)
    try:
        args = sp.parse_args(argv)
    except SystemExit as e:
        return 4 if e.code not in (0, None) else 0

    from pyspark.sql import SparkSession

    from osmcoastline_spark.operators.segments_diff import (
        changes_layer,
        diff_segments,
        dump_changes,
        read_segments,
    )
    from osmcoastline_spark.session import get_spark

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark("osmcoastline_segments", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    removed, added = diff_segments(
        read_segments(spark, args.seg1), read_segments(spark, args.seg2)
    )
    removed = removed.persist()
    added = added.persist()
    n_rem, n_add = removed.count(), added.count()
    if args.dump:
        print(dump_changes(removed, added), end="")
    elif args.geom:
        changes_layer(removed, added).write.mode("overwrite").parquet(args.geom)
    code = 0 if (n_rem == 0 and n_add == 0) else 1
    # release the diff caches: with a PRE-EXISTING session (in-process
    # callers) the frames would otherwise stay pinned in its storage for
    # the session's remaining lifetime
    removed.unpersist()
    added.unpersist()
    if not pre_existing:
        spark.stop()
    return code


def main(argv: list[str] | None = None) -> int:
    raw = sys.argv[1:] if argv is None else argv
    if raw and raw[0] == "readmeta":
        # `osmcoastline_readmeta` parity subcommand — metadata peek over a
        # finished output dir, no Spark session
        from osmcoastline_spark.readmeta import main as readmeta_main

        return readmeta_main(raw[1:])
    if raw and raw[0] == "segments":
        # `osmcoastline_segments` parity subcommand (reference
        # src/osmcoastline_segments.cpp:118-204): diff two segment tables;
        # exit 0 = equal, 1 = different. --dump prints the text diff;
        # --geom DIR writes the 'changes' layer.
        return _segments_main(raw[1:])
    try:
        args = build_parser().parse_args(argv)
    except SystemExit as e:
        if e.code not in (0, None):
            # reference return_code_cmdline (src/return_codes.hpp): bad or
            # missing arguments exit 4, not argparse's default 2
            return 4
        raise

    from pyspark.sql import SparkSession

    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.session import get_spark
    from osmcoastline_spark.sinks import CheckpointSink

    import os as _os

    _prev_trace = _os.environ.get("SPARK_GRAFT_TRACE")
    if args.verbose:
        # reference -v prints each pipeline stage with elapsed time
        # (osmium VerboseOutput, osmcoastline.cpp:190-192); our analog is
        # the run_pipeline stage trace (restored on exit so an in-process
        # caller's later runs are not silently verbose)
        _os.environ["SPARK_GRAFT_TRACE"] = "1"
    if args.debug:
        print("Enabled debug option", file=sys.stderr)  # options.cpp:141

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark("osmcoastline", master=args.master)
    if not args.debug:
        spark.sparkContext.setLogLevel("ERROR" if not args.verbose else "WARN")

    nodes = spark.read.parquet(args.nodes)
    ways = spark.read.parquet(args.ways)
    opt = Options(
        epsg=args.srs,
        close_distance=args.close_distance,
        max_points_in_polygon=args.max_points,
        bbox_overlap=args.bbox_overlap,
        output_rings=args.output_rings,
        output_lines=args.output_lines,
        output_polygons=args.output_polygons,
        water_cell_deg=args.water_cell_deg,
    )
    res = None
    try:
        res = run_pipeline(spark, nodes, ways, opt)

        sink = CheckpointSink(args.output_database)
        # epsg=3857 geometry carries metre-valued envelopes — the z-order
        # layout needs the WebMercator extent or every positive centre
        # clamps to one Morton cell (sinks.py docstring)
        from osmcoastline_spark.geom import MERC

        extent = (-MERC, MERC, -MERC, MERC) if args.srs == 3857 else None
        for name, df in res.tables.items():
            if name == "segments":
                continue
            sink.write(
                name,
                df,
                spatial=name in ("land_polygons", "water_polygons", "rings"),
                extent=extent,
            )
        sink.write_meta(res.stats, vars(args))

        print(f"There were {res.warnings} warnings.")
        print(f"There were {res.errors} errors.")
        code = res.exit_code
        if code == 1 and args.exit_ignore_warnings:
            code = 0
    finally:
        if res is not None:
            # release the pipeline's pinned caches (error points/lines) —
            # an in-process caller with a pre-existing session would
            # otherwise accumulate them per run, since spark.stop() below
            # is skipped for pre-existing sessions (same idiom as
            # _segments_main)
            res.unpersist()
        # restore even when run_pipeline raises, so an in-process caller's
        # later runs are not silently verbose
        if args.verbose:
            if _prev_trace is None:
                _os.environ.pop("SPARK_GRAFT_TRACE", None)
            else:
                _os.environ["SPARK_GRAFT_TRACE"] = _prev_trace
        if not pre_existing:
            spark.stop()
    return code


if __name__ == "__main__":
    sys.exit(main())
