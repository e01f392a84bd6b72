"""Deterministic synthetic data (seeded) — image+caption rows per
BASELINE.json input_hint plus coastline-shaped nodes/ways.

Generation is *distributed*: `spark.range(n_islands)` → `mapInPandas`, with a
per-island RNG seeded by (seed, island_id) so output is identical regardless
of partitioning / parallelism — the property that lets the same fixture back
both the local[8] and local[32] scaling runs.

Shape mix mirrors the reference's stress profile (FIXTURES.md "scale
fixtures"): many small closed island rings, a few giant multi-way rings
(continent-scale skew), a fraction of open rings with gaps below/above
close_distance, duplicate segments, and one Antarctica-style ring.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from osmcoastline_spark.util import materialize

NODE_STRIDE = 1 << 20  # node ids: island_id * NODE_STRIDE + k
IMG_W, IMG_H = 8, 8  # tiny raw images; big enough for PSNR/phash


def stable_id(s: str) -> int:
    """Stable int64 from a string id (first 8 bytes of md5, sign-cleared)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 1


def _island_rng(seed: int, island: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, island]))


def _island_frame(seed: int, islands: np.ndarray) -> tuple[pd.DataFrame, pd.DataFrame]:
    """nodes + ways for a batch of island ids."""
    node_rows = []
    way_rows = []
    for isl in islands:
        isl = int(isl)
        rng = _island_rng(seed, isl)
        giant = isl % 997 == 0  # ~0.1% giant rings → key skew
        open_ring = (isl % 23 == 7) and not giant  # ~4% open rings
        npts = int(rng.integers(200, 2000)) if giant else int(rng.integers(4, 24))
        # centers avoid the poles / antimeridian band
        cx = float(rng.uniform(-170.0, 170.0))
        cy = float(rng.uniform(-80.0, 80.0))
        r = (0.002 if not giant else 0.5) * float(rng.uniform(0.5, 2.0))
        theta = np.linspace(0.0, 2.0 * np.pi, npts, endpoint=False)
        wobble = 1.0 + 0.3 * rng.standard_normal(npts).cumsum() / max(npts, 1)
        xs = cx + r * np.cos(theta) * np.abs(wobble)
        ys = cy + r * 0.7 * np.sin(theta) * np.abs(wobble)
        ids = isl * NODE_STRIDE + np.arange(npts, dtype=np.int64)
        node_rows.append(pd.DataFrame({"node_id": ids, "lon": xs, "lat": ys}))
        # split island into 1-3 ways sharing endpoints
        nways = 1 if npts < 8 else int(rng.integers(1, 4))
        bounds = np.linspace(0, npts, nways + 1).astype(int)
        for w in range(nways):
            lo, hi = bounds[w], bounds[w + 1]
            refs = ids[lo : hi + 1].tolist() if hi < npts else ids[lo:].tolist() + [int(ids[0])]
            if w == nways - 1 and open_ring:
                refs = refs[:-1]  # leave a gap: ring stays open
            way_rows.append(
                {
                    "way_id": isl * 8 + w + 1,
                    "node_ids": refs,
                    "tags": {"natural": "coastline"},
                }
            )
    nodes = pd.concat(node_rows, ignore_index=True) if node_rows else pd.DataFrame(
        {"node_id": pd.Series(dtype="int64"), "lon": pd.Series(dtype="float64"), "lat": pd.Series(dtype="float64")}
    )
    nodes["tags"] = [{} for _ in range(len(nodes))]
    ways = pd.DataFrame(way_rows, columns=["way_id", "node_ids", "tags"])
    return nodes, ways


def synth_nodes_ways(spark: SparkSession, n_islands: int, seed: int = 42) -> tuple[DataFrame, DataFrame]:
    """Distributed generation of (nodes, ways) DataFrames.

    Generated as ONE combined pass (a way row carries its island's nodes),
    then projected twice — generating nodes and ways separately would run
    the per-island RNG twice.
    """
    base = spark.range(n_islands).repartition(max(spark.sparkContext.defaultParallelism, 4))

    def gen_combined(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            nodes, ways = _island_frame(seed, pdf["id"].to_numpy())
            nodes["kind"] = "n"
            ways_out = pd.DataFrame(
                {
                    "node_id": ways["way_id"],
                    "lon": 0.0,
                    "lat": 0.0,
                    "tags": ways["tags"],
                    "kind": "w",
                    "node_ids": ways["node_ids"],
                }
            )
            nodes["node_ids"] = [None] * len(nodes)
            yield pd.concat([nodes, ways_out], ignore_index=True)[
                ["node_id", "lon", "lat", "tags", "kind", "node_ids"]
            ]

    combined, _ = materialize(
        base.mapInPandas(
            gen_combined,
            "node_id long, lon double, lat double, tags map<string,string>, "
            "kind string, node_ids array<long>",
        )
    )
    nodes = combined.filter("kind = 'n'").select("node_id", "lon", "lat", "tags")
    ways = combined.filter("kind = 'w'").select(
        combined["node_id"].alias("way_id"), "node_ids", "tags"
    )
    return nodes, ways


# ----------------------------------------------------------------- images


def encode_raw(pixels: np.ndarray) -> bytes:
    """The deterministic 'raw' codec: uint8 RGB array → bytes. Compressed
    formats ride through the from-scratch codecs (PNG/JPEG/WebP-lossless,
    see functions/image.py, functions/jpeg.py, functions/webp.py); the
    Spark-side plumbing is identical for all of them."""
    return pixels.astype(np.uint8).tobytes()


def decode_raw(data: bytes, w: int, h: int) -> np.ndarray:
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def average_phash(pixels: np.ndarray) -> int:
    """64-bit average hash over the grayscale 8×8 reduction."""
    g = pixels.astype(np.float64).mean(axis=2)
    # fixed 8x8 pooling
    h, w = g.shape
    if h < 8 or w < 8:
        # nearest-upsample a short axis to 8 so the 8x8 pooling is
        # defined: the old slice produced an EMPTY block axis, mean()
        # emitted NaN, every bit compared False and all small images
        # collided on hash 0 (hamming-0 "duplicates" of each other)
        yi = (np.arange(max(h, 8)) * h // max(h, 8)).clip(0, h - 1)
        xi = (np.arange(max(w, 8)) * w // max(w, 8)).clip(0, w - 1)
        g = g[yi][:, xi]
        h, w = g.shape
    g = g[: h - h % 8, : w - w % 8]
    g = g.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (g > g.mean()).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= 1 << 63 else v


def synth_images_for_nodes(nodes: DataFrame, seed: int = 42) -> DataFrame:
    """One image row per node; pixels/caption deterministic in node_id."""

    from osmcoastline_spark.functions.image import encode_png

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for nid in pdf["node_id"].to_numpy():
                rng = np.random.default_rng(np.random.SeedSequence([seed, int(nid)]))
                px = rng.integers(0, 256, size=(IMG_H, IMG_W, 3), dtype=np.uint8)
                # every 3rd image rides as real PNG (from-scratch codec) —
                # the input-hint decode path must handle a genuinely
                # compressed format, not just C-order bytes
                as_png = int(nid) % 3 == 0
                rows.append(
                    {
                        "image_id": f"img-{int(nid):016x}",
                        "bytes": encode_png(px) if as_png else encode_raw(px),
                        "w": IMG_W,
                        "h": IMG_H,
                        "fmt": "png" if as_png else "raw",
                        "caption": f"synthetic coastline tile for node {int(nid)}",
                        "phash": average_phash(px),
                        "node_id": int(nid),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "node_id"],
            )

    return nodes.select("node_id").mapInPandas(
        gen,
        "image_id string, bytes binary, w int, h int, fmt string, caption string, "
        "phash long, node_id long",
    )


# ------------------------------------------------------------- fixtures


def nodegrid(ascii_art: str) -> list[tuple[int, float, float]]:
    """Port of the reference's nodegrid2opl fixture format
    (/root/reference/src/nodegrid2opl.cpp:83-103): grid chars 0-9a-z ⇒
    node id 100+value at lon = 1 + col*0.01 (cols from 1), lat = 1 + y*0.01
    with y starting at 100 on the first line and decreasing per line."""
    nodes = []
    y = 100
    for line in ascii_art.splitlines():
        x = 1
        for c in line:
            if c.isdigit() or ("a" <= c <= "z"):
                nid = 100 + (ord(c) - ord("0") if c.isdigit() else ord(c) - ord("a") + 10)
                # the reference prints %f with 6 decimals and re-parses, so
                # the effective coordinate is the decimal-rounded double
                # (1 + 14*0.01 != parse("1.140000") at the ULP level)
                nodes.append(
                    (nid, float(f"{1 + x * 0.01:.6f}"), float(f"{1 + y * 0.01:.6f}"))
                )
            x += 1
        y -= 1
    return nodes


def fixture_df(spark: SparkSession, nodes: list, ways: list) -> tuple[DataFrame, DataFrame]:
    """Tiny explicit fixtures (ports of the reference's OPL heredocs,
    /root/reference/test/t/*.sh)."""
    from osmcoastline_spark.schemas import NODES_SCHEMA, WAYS_SCHEMA

    nrows = []
    for n in nodes:
        tags = n[3] if len(n) > 3 else {}
        nrows.append((int(n[0]), float(n[1]), float(n[2]), tags))
    wrows = []
    for w in ways:
        tags = w[2] if len(w) > 2 else {"natural": "coastline"}
        wrows.append((int(w[0]), [int(r) for r in w[1]], tags))
    return (
        spark.createDataFrame(nrows, NODES_SCHEMA),
        spark.createDataFrame(wrows, WAYS_SCHEMA),
    )
