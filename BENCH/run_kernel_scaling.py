#!/usr/bin/env python
"""Kernel-level scaling evidence (BASELINE.json north_rule, two cluster
sizes).

End-to-end pipeline wall time in this sandbox is floor-bound by driver
orchestration (~55 Spark jobs x 0.2-0.7 s scheduling/Arrow latency each —
measured in PLANS.md): local[2], local[8] and local[32] complete a
200k-island run within ~15% of each other, so end-to-end wall time cannot
resolve data-plane scaling at any feasible input size. The operators that
actually process the 100 TB are the shuffle/kernel stages; this harness
measures THEM: identical parquet inputs, fresh JVM per parallelism level,
ONE action per kernel (so each measurement carries exactly one job's
latency).

Kernels:
  locjoin    — the J2 location scatter-join (explode ⋈ nodes ⋈ collect)
  intersect  — x-slab sweep: segment crossings + duplicate segments (J5/J6)
  polygonize — batched point-in-polygon cell classification (G6 backbone)
  water      — per-tile even-odd difference (R5)
  minhash    — per-row narrow band-min signatures (zero-shuffle, 16x docs)

Writes BENCH/KERNELS.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUP = r"""
import os, sys
sys.path.insert(0, os.environ["REPO"])
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.operators.filter import coastline_ways
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.rings import assemble_rings, route_rings
from osmcoastline_spark.operators.polygonize import fix_direction, polygonize
from osmcoastline_spark.synth import synth_nodes_ways

out = sys.argv[1]
islands = int(sys.argv[2])
spark = get_spark("kern-setup", master="local[32]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
nodes, ways = synth_nodes_ways(spark, islands, seed=42)
nodes.write.mode("overwrite").parquet(os.path.join(out, "nodes"))
ways.write.mode("overwrite").parquet(os.path.join(out, "ways"))
# re-read from parquet: accurate size statistics (the raw Python-eval
# synth plan under-estimates and AQE would broadcast a 400+ MB join side)
nodes = spark.read.parquet(os.path.join(out, "nodes"))
ways = spark.read.parquet(os.path.join(out, "ways"))
# exploded (way_id, pos, node_id) refs for the flat J2 variant
from pyspark.sql import functions as F
coastline_ways(ways).select(
    "way_id", F.posexplode("node_ids").alias("pos", "node_id")
).write.mode("overwrite").parquet(os.path.join(out, "refs"))
cw = coastline_ways(ways)
closed, open_, _ = assemble_rings(cw, ways_with_locations(cw, nodes))
rings = closed.unionByName(open_)
rings.write.mode("overwrite").parquet(os.path.join(out, "rings"))
pres = polygonize(route_rings(closed)["polygonizable"])
polys, _ = fix_direction(pres.polygons)
polys.write.mode("overwrite").parquet(os.path.join(out, "polys"))
print("SETUP-OK")
spark.stop()
"""

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.operators.intersections import ring_segments, segment_sweep, slab_checkpoint
from osmcoastline_spark.operators.polygonize import classify_container_cells
from osmcoastline_spark.operators.water import water_polygons
from osmcoastline_spark.functions.dedup import minhash_signatures

cpus = int(sys.argv[1])
src = sys.argv[2]
spark = get_spark("kern", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
from osmcoastline_spark.operators.locations import ways_with_locations
from osmcoastline_spark.operators.filter import coastline_ways
rings = spark.read.parquet(os.path.join(src, "rings")).localCheckpoint(eager=True)
polys = spark.read.parquet(os.path.join(src, "polys")).localCheckpoint(eager=True)
nodes = spark.read.parquet(os.path.join(src, "nodes")).localCheckpoint(eager=True)
ways = spark.read.parquet(os.path.join(src, "ways")).localCheckpoint(eager=True)
spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()  # warm workers

import urllib.request

def shuffle_write_bytes():
    # total shuffle write across completed stages (REST, needs
    # SPARK_GRAFT_UI=1); deltas between kernels give per-kernel bytes
    if not os.environ.get("SPARK_GRAFT_UI"):
        return 0
    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete", timeout=10
        ) as r:
            data = json.loads(r.read())
        return sum(s.get("shuffleWriteBytes", 0) for s in data)
    except Exception:
        return 0

res = {}
sw = {}

def act(df):
    # noop sink, not .count(): count() lets Catalyst prune computed columns
    # that don't change cardinality — the historical minhash kernel numbers
    # (rounds 2-5) timed a plan with ALL md5/min work pruned out (verified:
    # the count() executedPlan contains no md5). noop materializes every
    # column. Only the noop is timed; the row count (reported for table
    # identity, not timing) runs after, on the count()-optimized plan.
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 2)
    return dt, df.count()
# flat J2 over the pre-exploded refs parquet
from osmcoastline_spark.operators.locations import collect_locations
refs_p = spark.read.parquet(os.path.join(src, "refs"))
nodes_p = spark.read.parquet(os.path.join(src, "nodes")).select("node_id", "lon", "lat")
w1 = shuffle_write_bytes()
dt, n = act(collect_locations(refs_p.join(nodes_p.hint("SHUFFLE_HASH"), "node_id"))); res["locjoin_flat"] = [dt, n]
w2 = shuffle_write_bytes(); sw["locjoin_flat"] = w2 - w1
# historical variant (explode + checkpointed inputs), before the 1.2 GB
# segs checkpoint enters the block manager: measuring it with that
# storage resident showed 3× worse times purely from heap pressure (GC)
dt, n = act(collect_locations(ways_with_locations(coastline_ways(ways), nodes))); res["locjoin"] = [dt, n]
w3 = shuffle_write_bytes(); sw["locjoin"] = w3 - w2
segs, edges = slab_checkpoint(ring_segments(rings), cpus)  # input for intersect
dt, n = act(segment_sweep(segs, edges, 0.5)); res["intersect"] = [dt, n]
dt, n = act(classify_container_cells(polys.selectExpr("poly_id as ring_id", "shell_x as xs", "shell_y as ys"), 1.0)); res["polygonize"] = [dt, n]
dt, n = act(water_polygons(polys, 4.0)); res["water"] = [dt, n]
# 16x-amplified documents (id-offset copies) so the minhash kernel outruns
# job latency; built HERE so its checkpoint storage never pressures the
# geometry kernels' heap (same reason segs builds after locjoin)
docs0 = spark.read.parquet(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1") + "/documents.parquet")
docs = docs0
for k in range(1, 16):
    docs = docs.unionByName(docs0.withColumn("doc_id", F.col("doc_id") + F.lit(k * 1_000_000_000)))
docs = docs.localCheckpoint(eager=True)
dt, n = act(minhash_signatures(docs, n_hashes=8, k=5)); res["minhash"] = [dt, n]
print(json.dumps({"cpus": cpus, "kernels": res, "shuffle_write": sw}))
spark.stop()
"""


def main() -> None:
    islands = int(os.environ.get("SPARK_GRAFT_KERNEL_ISLANDS", "400000"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "8"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "32"))
    src = os.environ.get("SPARK_GRAFT_KERNEL_DIR", "/tmp/spark_graft_kernel_inputs")
    env = dict(os.environ, REPO=REPO)

    if not os.path.exists(os.path.join(src, "refs")):
        out = subprocess.run(
            [sys.executable, "-c", SETUP, src, str(islands)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        assert "SETUP-OK" in out.stdout, out.stderr[-2000:]

    def level(cpus: int) -> dict:
        # memory scales with the cluster: N executors -> 4N executors means
        # 4x aggregate heap on a real cluster; local-mode analog = heap
        # proportional to cores (override per-core GiB with
        # SPARK_GRAFT_MEM_PER_CORE)
        per_core = float(os.environ.get("SPARK_GRAFT_MEM_PER_CORE", "1"))
        lenv = dict(
            env,
            SPARK_GRAFT_DRIVER_MEM=f"{max(int(cpus * per_core), 4)}g",
            SPARK_GRAFT_UI="1",  # REST shuffle metrics for the locjoin bytes
        )
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), src],
            capture_output=True, text=True, env=lenv, timeout=3600,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        parsed = json.loads(line)
        k = parsed["kernels"]
        for name, b in parsed.get("shuffle_write", {}).items():
            k[name] = k[name] + [b]
        return k

    # Interleaved best-of-N: this shared host shows 2-3× co-tenant swings
    # (a single burst during one level's JVM poisons that whole level and
    # fabricates — or destroys — "scaling"). Alternating lo/hi runs and
    # taking the per-kernel MIN at each level measures the machine, not
    # the neighbors. All attempts are printed for honesty.
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    attempts = {lo: [], hi: []}
    for _ in range(repeats):
        attempts[lo].append(level(lo))
        attempts[hi].append(level(hi))

    def best(level_attempts: list[dict]) -> dict:
        out = {}
        for name in level_attempts[0]:
            times = [a[name][0] for a in level_attempts]
            entry = [min(times), level_attempts[0][name][1]]
            if len(level_attempts[0][name]) > 2:
                entry.append(max(a[name][2] for a in level_attempts))
            out[name] = entry
        return out

    k_lo = best(attempts[lo])
    k_hi = best(attempts[hi])
    rows = []
    for name in k_lo:
        t_lo, n_lo = k_lo[name][0], k_lo[name][1]
        t_hi, n_hi = k_hi[name][0], k_hi[name][1]
        assert n_lo == n_hi, (name, n_lo, n_hi)
        sp = t_lo / t_hi if t_hi else 0.0
        rows.append((name, t_lo, t_hi, n_lo, round(sp, 2), round(sp / (hi / lo), 3)))

    md_rows = "\n".join(
        f"| {n} | {a} | {b} | {c} | {d}× | {e} |" for n, a, b, c, d, e in rows
    )
    md = f"""# BENCH/KERNELS — data-plane kernel scaling ({lo} vs {hi} cores)

Identical parquet inputs ({islands} islands' rings/polygons + sf0.1
documents), fresh JVM per level, ONE Spark action per kernel, best of
{repeats} interleaved attempts per level (this shared host shows 2-3×
co-tenant swings; the min is the machine's capability). These are
the operators that process the data at 100 TB; end-to-end wall time in
this sandbox is orchestration-latency-bound (see BASELINE.md).

| kernel | local[{lo}] s | local[{hi}] s | rows | speedup | efficiency (target ≥0.8) |
|---|---|---|---|---|---|
{md_rows}
"""
    with open(os.path.join(REPO, "BENCH", "KERNELS.md"), "w") as f:
        f.write(md)
    print(json.dumps({"lo": k_lo, "hi": k_hi,
                      "efficiency": {r[0]: r[5] for r in rows},
                      "attempts": {str(c): a for c, a in attempts.items()}}))


if __name__ == "__main__":
    main()
