#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN; this file
carries the extra instrumentation the optimization round needs — guide §1).

Subcommands:
  plans [out_dir] [q1 q2 ...]   dump .explain("formatted") for bench queries
  time  [n] [q1 q2 ...]         noop-sink best-of-n per query (default all 10)
  trace                         one traced pipeline run (SPARK_GRAFT_TRACE=1)

Environment contract mirrors bench.py: $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), $SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmcoastline_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "q_ring_assembly",
    "q_location_join",
    "q_segment_intersections",
    "q_segments_normalize",
    "q_minhash_lsh_pairs",
    "q_simhash",
    "q_text_features",
    "q_embedding_topk",
    "q_window_agg",
    "q_dedup_exact",
]


def _session():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "bench_extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, sf_dir


def _warmup(spark, sf_dir):
    """Same warmup as bench.py so steady-state numbers are comparable."""
    import __spark_entry__ as entrymod

    qfns = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    qfns["q_dedup_exact"](spark, sf_dir).count()
    spark.range(8).mapInPandas(lambda it: it, "id long").count()
    from osmcoastline_spark.operators.filter import coastline_ways as _cw
    from osmcoastline_spark.operators.locations import ways_with_locations as _wwl
    from osmcoastline_spark.operators.rings import assemble_rings as _ar
    from osmcoastline_spark.synth import synth_nodes_ways as _synw

    _n, _w = _synw(spark, 10, seed=7)
    _cws = _cw(_w)
    _c, _o, _ = _ar(_cws, _wwl(_cws, _n))
    _c.count()
    _o.count()
    return qfns


def explain_str(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def cmd_plans(out_dir: str, names: list[str]) -> None:
    spark, sf_dir = _session()
    import __spark_entry__ as entrymod

    qfns = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names or BENCH_QUERIES:
        df = qfns[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df))
        print(f"wrote {path}")
    spark.stop()


def cmd_time(n: int, names: list[str]) -> None:
    spark, sf_dir = _session()
    qfns = _warmup(spark, sf_dir)
    out: dict[str, list[float]] = {}
    for name in names or BENCH_QUERIES:
        at = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            qfns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            at.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = at
        print(json.dumps({name: at, "min": min(at)}), flush=True)
    print(json.dumps({"mins": {k: min(v) for k, v in out.items()}}))
    spark.stop()


def cmd_trace() -> None:
    os.environ["SPARK_GRAFT_TRACE"] = "1"
    spark, sf_dir = _session()
    qfns = _warmup(spark, sf_dir)
    n_lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.synth import synth_nodes_ways
    from osmcoastline_spark.util import run_concurrently

    n_islands = max(n_lineitem // 60, 200)
    nodes, ways = synth_nodes_ways(spark, n_islands, seed=42)
    nodes = nodes.localCheckpoint(eager=True)
    ways = ways.localCheckpoint(eager=True)
    st = spark.sparkContext.statusTracker()
    for attempt in range(2):
        j0 = len(st.getJobIdsForGroup(None) or [])
        t0 = time.time()
        res = run_pipeline(
            spark,
            nodes,
            ways,
            Options(output_polygons="both", water_cell_deg=4.0, max_points_in_polygon=500),
        )
        rings = res.stats.get("rings", 0)
        land, tiles = run_concurrently(
            res.tables["land_polygons"].count, res.tables["water_polygons"].count
        )
        dt = time.time() - t0
        j1 = len(st.getJobIdsForGroup(None) or [])
        print(
            json.dumps(
                {
                    "attempt": attempt,
                    "pipeline_s": round(dt, 3),
                    "jobs": j1 - j0,
                    "rings": rings,
                    "land": land,
                    "tiles": tiles,
                }
            ),
            flush=True,
        )
        res.unpersist()
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        out_dir = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        cmd_plans(out_dir, sys.argv[3:])
    elif cmd == "time":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        cmd_time(n, sys.argv[3:])
    elif cmd == "trace":
        cmd_trace()
    else:
        raise SystemExit(f"unknown subcommand {cmd}")
