#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "tiles+rings assembled/sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": ...}

The headline metric follows BASELINE.json: rings assembled + tiles emitted
per second by the coastline pipeline over the deterministic synthetic
coastline fixture (islands + giants + open rings) sized from the sf dir.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from osmcoastline_spark.session import get_spark  # noqa: E402


def _host_probe() -> dict:
    """10-second host-health sample recorded WITH the numbers it gates.

    This shared host has two independent degradation modes (PLANS.md
    round-close record): co-tenant CPU steal, and hypervisor fault-path
    stalls where FRESH allocations run ~50x slow while CPU and
    steady-state bandwidth stay normal (measured: identical kernel 25.3 s
    vs 281 s). A bench number without the probe is uninterpretable across
    rounds. Single shared implementation + thresholds: BENCH/host_probe.py;
    the run is probed at START and END (detail.host_probe /
    detail.host_probe_end) because the degradation swings within minutes —
    only a run bracketed by two healthy samples is a clean-window number.
    """
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"))
    from host_probe import probe

    return probe()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.1
    probe = _host_probe()

    # cores, not 2x cores: at bench scale the fixed per-partition Arrow
    # round-trip cost dominates doubled task counts (BENCH/BASELINE.md §1),
    # and AQE's 16 MB advisory re-splits any genuinely big stage anyway
    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qfns = entrymod.queries()

    # Warmup: JVM JIT, parquet footer cache, and one Python/Arrow worker
    # spin-up — otherwise the FIRST timed query absorbs ~15 s of session
    # startup and the per-query numbers are not comparable across rounds.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    n_lineitem = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    qfns["q_dedup_exact"](spark, sf_dir).count()
    spark.range(8).mapInPandas(lambda it: it, "id long").count()
    # JIT the assembly machinery (window + merge-apply Arrow codepaths) on a
    # tiny fixture so the first timed q_ring_assembly measures the operator,
    # not one-time codegen/JIT of its plan shapes (~4 s at sf0.1)
    from osmcoastline_spark.operators.filter import coastline_ways as _cw
    from osmcoastline_spark.operators.locations import ways_with_locations as _wwl
    from osmcoastline_spark.operators.rings import assemble_rings as _ar
    from osmcoastline_spark.synth import synth_nodes_ways as _synw

    _n, _w = _synw(spark, 10, seed=7)
    _cws = _cw(_w)
    _c, _o, _ = _ar(_cws, _wwl(_cws, _n))
    _c.count(); _o.count()

    bench_queries = [
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
    times: dict[str, float] = {}
    # Per-query best-of-2 (round-5 methodology change, documented in
    # BENCH/BASELINE.md §4): a single timed run conflates the operator with
    # JVM C2 JIT volume-warmth of its codegen'd kernels — measured on
    # q_segment_intersections: 3.7 → 2.2 → 1.9 → 1.75 s over consecutive
    # identical runs, which is exactly the r2→r4 "drift" the round-4
    # verdict flagged. Both attempts are recorded; min is the steady state.
    # noop sink, NOT .count(): count() lets Catalyst prune computed columns
    # that don't affect cardinality — q_text_features' count() plan timed a
    # bare parquet scan (0.83 s) while the full feature computation costs
    # ~25 s pre-vectorization, and q_simhash's count() dropped all 64 bit
    # sums. The noop write materializes every output column, so the number
    # measures what the query claims to compute (round-5 correction,
    # BENCH/BASELINE.md §4; /tmp-diagnosed per-query deltas recorded there).
    query_attempts: dict[str, list[float]] = {}
    for name in bench_queries:
        at = []
        for _ in range(2):
            t0 = time.time()
            qfns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            at.append(round(time.time() - t0, 3))
        query_attempts[name] = at
        times[name] = min(at)

    # Drain query-suite residue before timing the pipeline: the query runs
    # above leave localCheckpoint blocks in the block manager whose cleanup
    # is async (ContextCleaner fires on Python GC of the RDD refs) — let it
    # happen NOW, not during the timed region.
    import gc

    gc.collect()
    time.sleep(1.0)

    # headline: full coastline pipeline on the synthetic coastline fixture
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.synth import synth_nodes_ways

    n_islands = max(n_lineitem // 60, 200)
    nodes, ways = synth_nodes_ways(spark, n_islands, seed=42)
    nodes = nodes.localCheckpoint(eager=True)
    ways = ways.localCheckpoint(eager=True)

    # best-of-2: this shared host shows 2-3x run-to-run swings from
    # co-tenants (documented in BENCH/BASELINE.md); the fastest attempt is
    # the closest to the machine's actual capability, both attempts are
    # recorded
    attempts = []
    for _ in range(2):
        t0 = time.time()
        res = run_pipeline(
            spark,
            nodes,
            ways,
            Options(output_polygons="both", water_cell_deg=4.0, max_points_in_polygon=500),
        )
        rings = res.stats.get("rings", 0)
        # the two table counts are independent Spark DAGs (land is a
        # checkpoint filter, water runs the tile derivation) — overlap them
        from osmcoastline_spark.util import run_concurrently

        land, tiles = run_concurrently(
            res.tables["land_polygons"].count
            if "land_polygons" in res.tables
            else (lambda: 0),
            res.tables["water_polygons"].count
            if "water_polygons" in res.tables
            else (lambda: 0),
        )
        attempts.append(round(time.time() - t0, 3))
        # release this attempt's cached error tables before the next one
        res.unpersist()
    pipeline_sec = min(attempts)
    times["pipeline"] = pipeline_sec

    value = round((rings + land + tiles) / pipeline_sec, 3)
    print(
        json.dumps(
            {
                "metric": "tiles+rings assembled/sec",
                "value": value,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "detail": {
                    "host_probe": probe,
                    "host_probe_end": _host_probe(),
                    "query_attempts": query_attempts,
                    "pipeline_attempts": attempts,
                    "islands": n_islands,
                    "rings": rings,
                    "land_polygons": land,
                    "water_tiles": tiles,
                    "cpus": int(cpus),
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
