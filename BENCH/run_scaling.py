#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north_rule).

Runs the IDENTICAL pipeline job on the IDENTICAL deterministic input at two
parallelism levels (default local[8] vs local[32] — the sandbox stand-in for
N vs 4N executors) and reports throughput at both plus the scaling
efficiency  eff = (T_N / T_4N) / 4 … i.e. speedup/4.

Each level runs in a fresh subprocess so the JVMs don't share anything.
Writes BENCH/SCALING_LAST.md (BASELINE.md is hand-maintained) and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.plans.pipeline import Options, run_pipeline
from osmcoastline_spark.synth import synth_nodes_ways

cpus = int(sys.argv[1])
n_islands = int(sys.argv[2])
# identical logical+physical plan at both levels: fixed partition count,
# only executor parallelism differs (the "same job, two cluster sizes" rule)
spark = get_spark("scaling", master=f"local[{cpus}]",
                  shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SCALING_SHUFFLE", "64")))
spark.sparkContext.setLogLevel("ERROR")
nodes, ways = synth_nodes_ways(spark, n_islands, seed=42)
nodes = nodes.localCheckpoint(eager=True)
ways = ways.localCheckpoint(eager=True)
t0 = time.time()
res = run_pipeline(spark, nodes, ways,
                   Options(output_polygons="both", water_cell_deg=4.0,
                           max_points_in_polygon=500))
rings = res.stats.get("rings", 0)
land = res.tables["land_polygons"].count() if "land_polygons" in res.tables else 0
tiles = res.tables["water_polygons"].count() if "water_polygons" in res.tables else 0
dt = time.time() - t0
print(json.dumps({"cpus": cpus, "sec": dt, "rings": rings, "land": land,
                  "tiles": tiles, "units": rings + land + tiles}))
spark.stop()
"""


def run_level(cpus: int, n_islands: int, attempts: int = 1) -> dict:
    """Best-of-N fresh-JVM runs: the shared host shows 2-3x co-tenant
    swings; the fastest attempt is closest to the machine's capability.
    All attempt times are recorded in the result."""
    best = None
    secs = []
    for _ in range(attempts):
        env = dict(os.environ, REPO=REPO)
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), str(n_islands)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        secs.append(round(r["sec"], 2))
        if best is None or r["sec"] < best["sec"]:
            best = r
    best["attempts"] = secs
    return best


def main() -> None:
    n_islands = int(os.environ.get("SPARK_GRAFT_SCALING_ISLANDS", "400000"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "8"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "32"))

    attempts = int(os.environ.get("SPARK_GRAFT_SCALING_ATTEMPTS", "2"))
    r_lo = run_level(lo, n_islands, attempts)
    r_hi = run_level(hi, n_islands, attempts)
    thr_lo = r_lo["units"] / r_lo["sec"]
    thr_hi = r_hi["units"] / r_hi["sec"]
    eff = (thr_hi / thr_lo) / (hi / lo)
    result = {
        "n_islands": n_islands,
        "low": {"cpus": lo, "sec": round(r_lo["sec"], 2), "units_per_sec": round(thr_lo, 2),
                "attempts": r_lo["attempts"]},
        "high": {"cpus": hi, "sec": round(r_hi["sec"], 2), "units_per_sec": round(thr_hi, 2),
                 "attempts": r_hi["attempts"]},
        "speedup": round(thr_hi / thr_lo, 3),
        "scaling_efficiency": round(eff, 3),
    }
    md = f"""# BENCH/BASELINE — scaling-efficiency evidence

Same job (full coastline pipeline: ring assembly → intersections → close →
polygonize → split → water tiles), same deterministic input
({n_islands} islands, seed=42), two parallelism levels — the sandbox
stand-in for N vs {hi // lo}N executors per BASELINE.json north_rule.

| cpus | wall sec | rings+land+tiles | throughput (units/sec) |
|---|---|---|---|
| local[{lo}] | {result['low']['sec']} | {r_lo['units']} | {result['low']['units_per_sec']} |
| local[{hi}] | {result['high']['sec']} | {r_hi['units']} | {result['high']['units_per_sec']} |

**Speedup {lo}→{hi} cores: {result['speedup']}× — scaling efficiency
{result['scaling_efficiency']} (target ≥ 0.8 of ideal {hi // lo}×).**

Caveats: local-mode cores share one JVM, one driver and one Python-worker
pool, so this under-reports multi-executor scaling (no per-executor memory
isolation, GIL-adjacent Arrow serialization on one box). The partitioning
strategy (hash on endpoint/cell ids, 2×cpus shuffle partitions, AQE skew
splitting) is the piece that transfers to a real cluster.
"""
    with open(os.path.join(REPO, "BENCH", "SCALING_LAST.md"), "w") as f:
        f.write(md)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
