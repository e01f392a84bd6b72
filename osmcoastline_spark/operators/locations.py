"""Location scatter-join (reference J2) + missing-location check (J3).

The reference fills node locations through a pointer multimap
(src/osmcoastline.cpp:276-297, src/coastline_ring.cpp:36-40) in pass 2,
after pass 1 has assembled the rings from node ids. The Spark equivalent
is explode → equi-join → re-collect, and here too the re-collect comes
after the ring plan: `ways_with_locations` gives the lazily located refs
and ring assembly (rings.assemble_rings) regroups them by ring, not by
way, so the coordinate arrays are built once. Per the north rule the
join is an explicit hash shuffle on node_id; hot node ids (shared ring
endpoints) are bounded (≤2 ways share a node in valid coastline data) so
no salting is needed here — skew lives in *cells*, not node ids, and is
handled in the cell-binned joins.

Round-3 kernel investigation (400k islands = 23M nodes / 26M refs,
fresh-JVM single-action, best-of-3 interleaved; see BENCH/BASELINE.md):

  shape                                    local[2]  local[8]  eff 2→8
  ------------------------------------------------------------------
  r2: SMJ join + collect_list(struct)        37.5      23.7     0.40
  pandas-UDF regroup (per-group objects)     70.3      57.0     0.31
  mapInArrow regroup (ListArray offsets)     46.6      19.9     0.59
  SHUFFLE_HASH join + collect_list(struct)   28.2       9.2     0.76  ← this

The round-2 diagnosis ("collect_list struct allocation") was WRONG: the
non-scaling cost was (a) the default SortMergeJoin SORTING both ~25M-row
shuffled join sides and (b) AQE coalescing the big shuffles to ~15 tasks
(advisory 64 MB) — two badly-balanced waves on 8 cores. With a
SHUFFLE_HASH hint (both sides are planet-sized, neither is broadcastable,
and the re-collect doesn't need sorted input) and 16 MB advisory chunks
(session.py), the JVM aggregation beats every Arrow round-trip variant on
both absolute time and scaling: the Arrow kernels pay ~3 µs/row of
row↔Arrow conversion for 26M rows that the in-JVM aggregate never pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_locations(joined: DataFrame) -> DataFrame:
    """(way_id, pos, node_id, lon, lat) rows → one array row per way.

    Pure-JVM re-collect: groupBy(way_id) + sort_array(collect_list(
    struct(pos, ...))) — map-side partial aggregation, one shuffle, no
    Python. pos is unique per way (posexplode output); the extra struct
    fields give a deterministic total order even for malformed inputs
    with duplicate node rows.
    """
    return (
        joined.groupBy("way_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("pos", "node_id", "lon", "lat"))).alias(
                "pts"
            )
        )
        .select(
            "way_id",
            F.col("pts.node_id").alias("node_ids"),
            F.col("pts.lon").alias("xs"),
            F.col("pts.lat").alias("ys"),
        )
    )


def ways_with_locations(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """The located refs of `ways`: (way_id, pos, node_id, lon, lat), one
    row per node ref, lazily (no job of its own).

    The node join runs LEFT: a ref whose node has no location keeps its
    row with null lon/lat, so the J3 missing-location count is a sum the
    assembly checkpoint observes, with no second explode+join pass.
    """
    refs = ways.select("way_id", F.posexplode("node_ids").alias("pos", "node_id"))
    # SHUFFLE_HASH: both sides are planet-sized (node table >> broadcast
    # threshold) so the equi-join must shuffle either way, but the default
    # SortMergeJoin additionally SORTS both shuffled sides — two
    # UnsafeExternalSorter passes over ~10 rows per way that the hash join
    # skips, and the downstream re-collect does not need sorted input
    # (sort_array orders within each ring). Measured 2→8 core efficiency
    # 0.40 → 0.76 from this hint + the 16 MB AQE advisory (session.py).
    return refs.join(
        nodes.select("node_id", "lon", "lat").hint("SHUFFLE_HASH"), "node_id", "left"
    )
