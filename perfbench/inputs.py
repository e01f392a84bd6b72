"""Seeded input generators for the benchmark workloads.

Each generator returns an `Inputs`: the nodes and ways tables as pandas
frames (the engine's NODES_SCHEMA / WAYS_SCHEMA), the coordinate arrays of
every ring it built (for the driver-side geometry kernel timings), and the
facts the generator knows about its own output (the invariants the output
check tests on every seed).

The same seed gives the same tables on any host: generation runs in the
driver process with per-island RNG streams, never in Spark tasks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from osmcoastline_spark.synth import NODE_STRIDE, _island_frame

# node ids above every synth island id (islands use island * 2**20 + k)
_OWN_NODE_BASE = 1 << 50
_OWN_WAY_BASE = 1 << 40
MAX_WAY_NODES = 2000
INPUT_FILES = 4  # parquet files per table, so a scan has several tasks


@dataclass
class Inputs:
    nodes: pd.DataFrame  # node_id, lon, lat, tags (dict)
    ways: pd.DataFrame  # way_id, node_ids (list), tags (dict)
    rings: list  # [(xs, ys)] for the kernels
    facts: dict


def islands(seed: int, n_islands: int = 10_000) -> Inputs:
    """`synth_nodes_ways` islands, generated without Spark (same RNG
    streams, so the same rows as `synth.synth_nodes_ways(spark, n, seed)`)."""
    ids = np.arange(n_islands, dtype=np.int64)
    nodes, ways = _island_frame(seed, ids)
    return Inputs(
        nodes=nodes,
        ways=ways,
        rings=_island_rings(nodes),
        facts={
            "islands": n_islands,
            "open_islands": _open_islands(ways, nodes),
            "small_gaps": 0,
            "large_gaps": 0,
        },
    )


def _island_rings(nodes: pd.DataFrame) -> list:
    isl = nodes["node_id"].to_numpy() // NODE_STRIDE
    cuts = np.flatnonzero(np.diff(isl)) + 1
    xs = np.split(nodes["lon"].to_numpy(), cuts)
    ys = np.split(nodes["lat"].to_numpy(), cuts)
    return list(zip(xs, ys))


def _open_islands(ways: pd.DataFrame, nodes: pd.DataFrame) -> int:
    """Islands whose way chain does not return to its first node."""
    first = nodes.groupby(nodes["node_id"] // NODE_STRIDE)["node_id"].min()
    last_ref = ways.groupby(ways["way_id"] // 8)["node_ids"].last().map(lambda r: r[-1])
    return int((last_ref != first.reindex(last_ref.index)).sum())


class _Builder:
    """Accumulates hand-placed rings as nodes + ways with fresh ids."""

    def __init__(self) -> None:
        self.next_node = _OWN_NODE_BASE
        self.next_way = _OWN_WAY_BASE
        self.nodes: list[pd.DataFrame] = []
        self.ways: list[dict] = []
        self.rings: list = []

    def add_nodes(self, xs, ys, tags=None) -> np.ndarray:
        ids = self.next_node + np.arange(len(xs), dtype=np.int64)
        self.next_node += len(xs)
        self.nodes.append(
            pd.DataFrame(
                {
                    "node_id": ids,
                    "lon": np.asarray(xs, dtype=np.float64),
                    "lat": np.asarray(ys, dtype=np.float64),
                    "tags": tags if tags is not None else [{} for _ in range(len(xs))],
                }
            )
        )
        self.rings.append((np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64)))
        return ids

    def add_way(self, refs, tags=None) -> int:
        wid = self.next_way
        self.next_way += 1
        self.ways.append(
            {
                "way_id": wid,
                "node_ids": [int(r) for r in refs],
                "tags": tags or {"natural": "coastline"},
            }
        )
        return wid

    def ring(self, xs, ys, *, closed: bool = True, node_tags=None) -> np.ndarray:
        """One ring split into ways of at most MAX_WAY_NODES nodes that
        share their end nodes; `closed=False` drops the closing reference."""
        ids = self.add_nodes(xs, ys, node_tags)
        refs = np.append(ids, ids[0]) if closed else ids
        for lo in range(0, len(refs) - 1, MAX_WAY_NODES - 1):
            self.add_way(refs[lo : lo + MAX_WAY_NODES])
        return ids


def _circle(cx, cy, r, n, *, start=0.0, span=2 * np.pi, ccw=True):
    t = start + np.linspace(0.0, span, n, endpoint=span < 2 * np.pi)
    if not ccw:
        t = t[::-1]
    return cx + r * np.cos(t), cy + r * np.sin(t)


def dirty(seed: int, n_islands: int = 500, stars: int = 2, star_points: int = 2_000) -> Inputs:
    """Synth islands plus large rings and injected defects, placed where no
    synth island can reach (synth islands stay within lon -171..171 and
    lat -81..81), so the defects interact only as designed and the work
    is the same for every seed up to the islands' own variation:

    * `stars` star-shaped CCW rings in the band along the antimeridian,
      cut into ways of <= 2000 nodes (large rings for the validity triage
      and the line splitting);
    * one Antarctica-style open ring ending at the antimeridian, running
      south of lat -82;
    * along lat 85: open rings whose gap is one edge (< close_distance),
      open arcs whose gap is ~1.7 degrees (> close_distance), a closed
      ring drawn twice, a two-way ring with one way repeated (the
      duplicate-segment orphan path), figure eights (self-crossing), pairs
      of crossing rings, a `coastline=bogus` way and a ring with
      natural=coastline-tagged nodes.
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0xD1127]))
    nodes, ways = _island_frame(seed, np.arange(n_islands, dtype=np.int64))
    b = _Builder()
    for k in range(stars):
        cx = (175.5 if k % 2 else -175.5) + rng.uniform(-0.3, 0.3)
        cy = -60.0 + 120.0 * (k // 2) / max(stars // 2 - 1, 1) + rng.uniform(-2, 2)
        t = np.linspace(0.0, 2 * np.pi, star_points, endpoint=False)
        r = 3.0 * (1 + 0.2 * np.sin(6 * t + rng.uniform(0, 2 * np.pi)))
        b.ring(cx + r * np.cos(t), cy + r * np.sin(t))

    # Antarctica, westward with land to the south: from the antimeridian
    # down to lat -85, along it, and back up to the antimeridian
    lon = np.linspace(179.995, -179.995, 1800)
    w = np.clip((180 - np.abs(lon)) / 5, 0, 1)
    lat = -77.5 * (1 - w) + w * (-85.0 + 1.5 * np.sin(np.radians(lon) * 7 + rng.uniform(0, 1)))
    lat[0] = lat[-1] = -77.5
    b.ring(lon, lat, closed=False)

    slots = iter(range(-170, 171, 5))  # one defect every 5 degrees of longitude

    def slot():
        return float(next(slots)), 85.0 + rng.uniform(-0.5, 0.5)

    small_gaps, large_gaps = 4, 3
    for _ in range(small_gaps):
        b.ring(*_circle(*slot(), 0.8, 40), closed=False)
    for _ in range(large_gaps):
        b.ring(*_circle(*slot(), 1.2, 60, span=1.5 * np.pi), closed=False)
    for _ in range(2):  # a closed ring drawn twice
        ids = b.ring(*_circle(*slot(), 0.8, 30))
        b.add_way(np.append(ids, ids[0]))
    for _ in range(2):  # a two-way ring with its first way repeated
        ids = b.add_nodes(*_circle(*slot(), 0.8, 30))
        b.add_way(ids[:16])
        b.add_way(np.append(ids[15:], ids[0]))
        b.add_way(ids[:16])
    for _ in range(3):  # figure eight: one self-crossing
        x, y = slot()
        t = np.linspace(0, 2 * np.pi, 48, endpoint=False) + 0.05
        b.ring(x + 1.0 * np.sin(t), y + 0.8 * np.sin(t) * np.cos(t))
    for _ in range(2):  # two rings crossing each other
        x, y = slot()
        b.ring(*_circle(x - 0.5, y, 0.8, 36))
        b.ring(*_circle(x + 0.5, y, 0.8, 36))
    ids = b.add_nodes(*_circle(*slot(), 0.8, 20))  # dropped by the coastline filter
    b.add_way(np.append(ids, ids[0]), {"natural": "coastline", "coastline": "bogus"})
    tags = [{"natural": "coastline"} if i < 3 else {} for i in range(24)]
    b.ring(*_circle(*slot(), 0.8, 24), node_tags=tags)

    return Inputs(
        nodes=pd.concat([nodes, *b.nodes], ignore_index=True),
        ways=pd.concat([ways, pd.DataFrame(b.ways)], ignore_index=True),
        rings=_island_rings(nodes) + b.rings,
        facts={
            "islands": n_islands,
            "open_islands": _open_islands(ways, nodes),
            "small_gaps": small_gaps,
            "large_gaps": large_gaps,
        },
    )


GENERATORS = {"islands": islands, "dirty": dirty}


def _tags_array(tags: pd.Series) -> pa.Array:
    return pa.array([list(t.items()) for t in tags], pa.map_(pa.string(), pa.string()))


def write_parquet(inp: Inputs, root: str) -> tuple[str, str]:
    """Write nodes and ways as INPUT_FILES parquet files each under `root`;
    returns the two table directories."""
    out = []
    for name, df, cols in (
        ("nodes", inp.nodes, {"node_id": pa.int64(), "lon": pa.float64(), "lat": pa.float64()}),
        ("ways", inp.ways, {"way_id": pa.int64(), "node_ids": pa.list_(pa.int64())}),
    ):
        d = os.path.join(root, name)
        os.makedirs(d, exist_ok=True)
        arrays = {c: pa.array(df[c].tolist() if t == pa.list_(pa.int64()) else df[c].to_numpy(), t)
                  for c, t in cols.items()}
        arrays["tags"] = _tags_array(df["tags"])
        table = pa.table(arrays)
        step = -(-table.num_rows // INPUT_FILES)
        for i in range(INPUT_FILES):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        out.append(d)
    return out[0], out[1]
