#!/usr/bin/env python
"""Scaling evidence for the round-5 sketch-family kernels (N vs 4N cores,
same protocol as the other run_*_kernel_scaling.py scripts: identical input, fresh JVM
per level, interleaved best-of-N, per-kernel MIN per level, probe-bracketed).

Kernels (all over amplified sf0.1 events — amplified copies offset
user_id/event_id so the DISTINCT population grows with the corpus, the
regime sketches exist for):
  hll      — hll_sketch p=12 + cardinality per event_type: one narrow md5
             projection + one model-sized groupBy exchange (≤ 4096 register
             rows per group survive partial agg).
  cms      — cms_sketch d=4 w=1024 + broadcast estimate readout for the
             BASE table's distinct keys (fixed query panel,
             queries ≪ corpus).
  bloom    — bloom_build over the filtered orders keys + bloom_prune of the
             amplified lineitem probe side: the probe side is the corpus
             (never shuffled — the kernel measures the broadcast bit-join
             filter at corpus scale).
  quantile — sample_sketch (narrow zero-shuffle pass) + sample_quantiles
             (one exchange) per event_type.
  overlap  — kmv_sketch k=256 + kmv_overlap pairwise readout: the corpus
             pass is the mapInPandas bottom-k partial; the pair lattice is
             model-sized.

Appends a section to BENCH/KERNELS.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "BENCH"))
from host_probe import gate_or_abort  # noqa: E402

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.functions import sketch as SK

cpus = int(sys.argv[1])
amp_e = int(sys.argv[2])   # events amplification
amp_l = int(sys.argv[3])   # lineitem (bloom probe) amplification
spark = get_spark("sketchkern", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ev0 = spark.read.parquet(sf + "/events.parquet").select(
    "event_id", "event_type", "user_id", "value")
ev = ev0
for k in range(1, amp_e):
    ev = ev.unionByName(
        ev0.withColumn("user_id", F.col("user_id") + F.lit(k * 1_000_000))
           .withColumn("event_id", F.col("event_id") + F.lit(k * 1_000_000_000)))
ev = ev.localCheckpoint(eager=True)

orders = spark.read.parquet(sf + "/orders.parquet").select("o_orderkey", "o_totalprice")
li0 = spark.read.parquet(sf + "/lineitem.parquet").select("l_orderkey")
li = li0
for k in range(1, amp_l):
    li = li.unionByName(li0)  # same keys re-probed — the probe side is the corpus
li = li.localCheckpoint(eager=True)

spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

res = {}

def act(fn):
    t0 = time.time()
    df = fn()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.time() - t0, 2)
    return dt, df.count()

dt, n = act(lambda: SK.hll_cardinality(
    SK.hll_sketch(ev, ["event_type"], "user_id", p=12), ["event_type"], p=12))
res["hll"] = [dt, n]

keys = ev0.filter(F.col("user_id").isNotNull()).select("event_type", "user_id").distinct()
dt, n = act(lambda: SK.cms_estimate(
    SK.cms_sketch(ev, ["event_type"], "user_id", d=4, w=1024),
    keys, ["event_type"], "user_id", d=4, w=1024))
res["cms"] = [dt, n]

build = orders.filter(F.col("o_totalprice") > 400000).select(F.col("o_orderkey").alias("key"))
bloom = SK.bloom_build(build, "key", m_bits=1 << 18, k=3).localCheckpoint(eager=True)
dt, n = act(lambda: SK.bloom_prune(li, bloom, "l_orderkey", m_bits=1 << 18, k=3))
res["bloom"] = [dt, n]

dt, n = act(lambda: SK.sample_quantiles(
    SK.sample_sketch(ev, ["event_type"], "value", "event_id", rate_hex=8192),
    ["event_type"]))
res["quantile"] = [dt, n]

dt, n = act(lambda: SK.kmv_overlap(
    SK.kmv_sketch(ev, ["event_type"], "user_id", k=256), "event_type", k=256))
res["overlap"] = [dt, n]

print(json.dumps({"cpus": cpus, "kernels": res}))
spark.stop()
"""


def main() -> None:
    amp_e = int(os.environ.get("SPARK_GRAFT_EV_AMP", "64"))
    amp_l = int(os.environ.get("SPARK_GRAFT_LI_AMP", "16"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "2"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "8"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    env = dict(os.environ, REPO=REPO)
    probes = []

    def gate() -> None:
        gate_or_abort(probes, attempts)

    def level(cpus: int) -> dict:
        gate()
        per_core = float(os.environ.get("SPARK_GRAFT_MEM_PER_CORE", "1"))
        lenv = dict(env, SPARK_GRAFT_DRIVER_MEM=f"{max(int(cpus * per_core), 4)}g")
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), str(amp_e), str(amp_l)],
            capture_output=True, text=True, env=lenv, timeout=3600,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if out.returncode != 0 or not lines:
            raise RuntimeError(
                f"sketch-kernel child (cpus={cpus}) failed rc={out.returncode}:\n"
                + out.stderr[-2000:]
            )
        return json.loads(lines[-1])["kernels"]

    attempts = {lo: [], hi: []}
    for _ in range(repeats):
        attempts[lo].append(level(lo))
        attempts[hi].append(level(hi))
    gate()  # trailing bracket for the last child

    def best(la: list[dict]) -> dict:
        return {name: [min(a[name][0] for a in la), la[0][name][1]] for name in la[0]}

    k_lo, k_hi = best(attempts[lo]), best(attempts[hi])
    rows = []
    for name in k_lo:
        (t_lo, n_lo), (t_hi, n_hi) = k_lo[name], k_hi[name]
        assert n_lo == n_hi, (name, n_lo, n_hi)
        sp = t_lo / t_hi if t_hi else 0.0
        rows.append((name, t_lo, t_hi, n_lo, round(sp, 2), round(sp / (hi / lo), 3)))

    md_rows = "\n".join(
        f"| {n} | {a} | {b} | {c} | {d}× | {e} |" for n, a, b, c, d, e in rows
    )
    section = f"""

## Sketch-family kernels ({lo} vs {hi} cores, events×{amp_e} lineitem×{amp_l}, best of {repeats} interleaved, probe-bracketed)

Round-5 sketch quintet + overlap readout measured under the main-table
protocol (fresh JVM per level, noop-sink action, per-kernel min; every
child probe-bracketed). Amplified copies OFFSET user/event ids so the
distinct population grows with the corpus — the regime sketches exist
for. cms runs the queries ≪ corpus posture (base-table key panel against
the amplified sketch); bloom's amplified side is the PROBE (the corpus —
never shuffled, the kernel measures the broadcast bit-join filter).

| kernel | local[{lo}] s | local[{hi}] s | rows | speedup | efficiency |
|---|---|---|---|---|---|
{md_rows}
"""
    with open(os.path.join(REPO, "BENCH", "KERNELS.md"), "a") as f:
        f.write(section)
    print(json.dumps({"lo": k_lo, "hi": k_hi, "attempts_lo": attempts[lo], "attempts_hi": attempts[hi]}))


if __name__ == "__main__":
    main()
