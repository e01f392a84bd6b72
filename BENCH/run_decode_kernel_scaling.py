#!/usr/bin/env python
"""Scaling evidence for the image-decode kernels (N vs 4N cores, same
protocol as the other kernel harnesses: identical input, fresh JVM per
level, interleaved best-of-N, per-kernel MIN per level; probe-gated by
BENCH/host_probe.py so a degraded host window can never record a number).

The north rule's per-row invariant (decoded-pixel PSNR + caption
equality) rides entirely on with_image_features / verify_payloads —
mapInPandas Arrow batches with ZERO exchanges — so this kernel is the
"does the per-row payload path itself scale" check that the join/agg
kernels can't answer:

  png_decode  — 200k 64×64 half-noise PNGs (deterministic per image id)
                through the real inflate-bounded codec + phash + thumb.
  jpeg_decode — 3k 64×64 noise JPEGs through the from-scratch baseline
                huffman/IDCT decoder (~20 ms/image: the heaviest
                per-row payload in the repo) + the same features.

Input bytes are synthesized and checkpointed BEFORE the timed region, so
the measurement is decode+features only. Appends a section to
BENCH/KERNELS.md and prints one JSON line.
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
import numpy as np
import pandas as pd
from osmcoastline_spark.session import get_spark
from osmcoastline_spark.functions import image as I

cpus = int(sys.argv[1])
n_png, n_jpeg = int(sys.argv[2]), int(sys.argv[3])
spark = get_spark("decodekern", master=f"local[{cpus}]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")

SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"

def synth(fmt):
    def run(it):
        from osmcoastline_spark.functions.jpeg import encode_jpeg
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(np.random.SeedSequence([7, i]))
                px = np.empty((64, 64, 3), np.uint8)
                px[:, :32] = rng.integers(0, 256, (64, 32, 3), dtype=np.uint8)
                px[:, 32:] = (40 + i) % 256
                b = I.encode_png(px) if fmt == "png" else encode_jpeg(px, quality=85)
                rows.append((f"{fmt}-{i}", b, 64, 64, fmt))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])
    return run

# bytes materialize BEFORE the timed region (generation includes the
# pure-python jpeg ENCODER, ~10 ms/image — must not pollute the decode
# measurement)
png_df = (
    spark.range(n_png).repartition(64)
    .mapInPandas(synth("png"), SCHEMA).localCheckpoint(eager=True)
)
jpeg_df = (
    spark.range(n_jpeg).repartition(64)
    .mapInPandas(synth("jpeg"), SCHEMA).localCheckpoint(eager=True)
)

spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM
spark.range(64).repartition(64).mapInPandas(lambda it: it, "id long").count()

res = {}

def act(name, df):
    t0 = time.time()
    out = I.with_image_features(df)
    out.write.format("noop").mode("overwrite").save()
    res[name] = [round(time.time() - t0, 2), out.count()]

act("png_decode", png_df)
act("jpeg_decode", jpeg_df)
print(json.dumps({"cpus": cpus, "kernels": res}))
spark.stop()
"""



def main() -> None:
    n_png = int(os.environ.get("SPARK_GRAFT_DECODE_PNG", "200000"))
    n_jpeg = int(os.environ.get("SPARK_GRAFT_DECODE_JPEG", "3000"))
    lo = int(os.environ.get("SPARK_GRAFT_SCALING_LO", "2"))
    hi = int(os.environ.get("SPARK_GRAFT_SCALING_HI", "8"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    env = dict(os.environ, REPO=REPO)

    attempts = {lo: [], hi: []}
    probes = []

    def gate() -> None:
        # single shared implementation — see host_probe.gate_or_abort
        gate_or_abort(probes, attempts)

    def level(cpus: int) -> dict:
        gate()
        lenv = dict(env, SPARK_GRAFT_DRIVER_MEM=f"{max(cpus * 2, 8)}g")
        out = subprocess.run(
            [sys.executable, "-c", CHILD, str(cpus), str(n_png), str(n_jpeg)],
            capture_output=True, text=True, env=lenv, timeout=3600,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if out.returncode != 0 or not lines:
            raise RuntimeError(
                f"decode-kernel child (cpus={cpus}) failed rc={out.returncode}:\n"
                + out.stderr[-2000:]
            )
        return json.loads(lines[-1])["kernels"]

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

## Image-decode kernels ({lo} vs {hi} cores, png×{n_png} jpeg×{n_jpeg}, best of {repeats} interleaved, probe-bracketed)

The per-row payload path of the north rule (decode + phash + thumb via
with_image_features): mapInPandas Arrow batches, zero exchanges, so the
only scaling limiter is Python-worker fan-out. Bytes synthesized and
checkpointed before the timed region; fresh JVM per level; every child
probe-bracketed (degraded windows abort, never record).

| kernel | {lo}-core s | {hi}-core s | rows | speedup | efficiency |
|---|---|---|---|---|---|
{md_rows}
"""
    with open(os.path.join(REPO, "BENCH", "KERNELS.md"), "a") as f:
        f.write(section)
    print(json.dumps({
        "lo": k_lo, "hi": k_hi, "probes": probes,
        "attempts": {str(k): v for k, v in attempts.items()},
    }))


if __name__ == "__main__":
    main()
