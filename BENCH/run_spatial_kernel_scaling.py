#!/usr/bin/env python
"""Scaling evidence for the round-5 raster→vector kernel (N vs 4N cores,
same protocol as the other kernel harnesses: identical input, fresh JVM per
level, interleaved best-of-N, per-kernel MIN per level).

Kernels:
  vectorize — scanline run-merge of a ~2.5M-cell raster mask (4096×1024
              grid, deterministic arithmetic membership) into maximal
              rectangles: two window+agg passes, two exchanges.

Appends a section to BENCH/KERNELS.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
from pyspark.sql import functions as F
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.operators.vectorize import vectorize_cells

cpus = int(sys.argv[1])
w, h = int(sys.argv[2]), int(sys.argv[3])
spark = get_spark("spatialkern", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")

# deterministic mask: ~60% of a w×h grid, mixed solid slabs + speckle so
# the kernel does real merging work
cells = (
    spark.range(w * h)
    .select((F.col("id") % w).alias("tx"), (F.col("id") / w).cast("long").alias("ty"))
    .filter(((F.col("tx") * 31 + F.col("ty") * 17) % 10 < 6) | (F.col("tx") % 64 < 8))
    .localCheckpoint(eager=True)
)

spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

res = {}

def act(name, fn):
    t0 = time.time()
    df = fn()
    df.write.format("noop").mode("overwrite").save()
    res[name] = [round(time.time() - t0, 2), df.count()]

act("vectorize", lambda: vectorize_cells(cells))
print(json.dumps({"cpus": cpus, "kernels": res}))
spark.stop()
"""


def main() -> None:
    w = int(os.environ.get("SPARK_GRAFT_MASK_W", "4096"))
    h = int(os.environ.get("SPARK_GRAFT_MASK_H", "1024"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "2"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "8"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    env = dict(os.environ, REPO=REPO)

    def level(cpus: int) -> dict:
        lenv = dict(env, SPARK_GRAFT_DRIVER_MEM=f"{max(cpus, 4)}g")
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), str(w), str(h)],
            capture_output=True, text=True, env=lenv, timeout=3600,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if out.returncode != 0 or not lines:
            raise RuntimeError(
                f"spatial-kernel child (cpus={cpus}) failed rc={out.returncode}:\n"
                + out.stderr[-2000:]
            )
        return json.loads(lines[-1])["kernels"]

    attempts = {lo: [], hi: []}
    for _ in range(repeats):
        attempts[lo].append(level(lo))
        attempts[hi].append(level(hi))

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

## Spatial-index kernels ({lo} vs {hi} cores, {w}×{h} mask, best of {repeats} interleaved)

Round-5 raster→vector kernel under the main-table protocol
(fresh JVM per level, noop-sink action, per-kernel min across interleaved
repeats). Output rows are asserted identical across levels.

| kernel | {lo}-core s | {hi}-core s | out rows | speedup | efficiency |
|---|---|---|---|---|---|
{md_rows}
"""
    with open(os.path.join(REPO, "BENCH", "KERNELS.md"), "a") as f:
        f.write(section)
    print(json.dumps({
        "lo": k_lo, "hi": k_hi,
        "attempts": {str(k): v for k, v in attempts.items()},
    }))


if __name__ == "__main__":
    main()
