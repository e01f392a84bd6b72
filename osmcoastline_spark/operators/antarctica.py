"""G12 — Antarctica ring closure.

Reference: src/coastline_ring_collection.cpp:334-349 (detection window) +
src/coastline_ring.cpp:100-121 (synthesized walk down the antimeridian,
along the map's southern edge, and back up). At most one ring matches; the
closure points are appended to it by a Catalyst projection over the open
rings (array concatenation with literal closure points, no exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import geom


def antarctica_window():
    """Detection window of the Antarctica ring: an open ring that starts
    just east of the antimeridian and ends just west of it, both ends
    between 77°S and 78°S."""
    first_lon = F.element_at("xs", 1)
    last_lon = F.element_at("xs", -1)
    first_lat = F.element_at("ys", 1)
    last_lat = F.element_at("ys", -1)
    return (
        (first_lon > 179.99)
        & (last_lon < -179.99)
        & (first_lat < -77.0)
        & (first_lat > -78.0)
        & (last_lat < -77.0)
        & (last_lat > -78.0)
    )


_PROBE = object()


def close_antarctica_ring(
    open_rings: DataFrame, epsg: int, target=_PROBE
) -> tuple[DataFrame, bool]:
    """Returns (open_rings with the Antarctica ring closed, found_flag).

    `target` is the Antarctica ring's id, or None when there is none, if
    the caller already knows it: min(ring_id) over the open rings inside
    `antarctica_window()`, e.g. observed while materializing them. Without
    it, one aggregate job finds it."""
    if target is _PROBE:
        # min() instead of limit(1).collect(): collect-limit executes as an
        # ESCALATING sequence of jobs (1 partition, then 4, ...) — on the
        # common no-Antarctica input that is 3-4 driver-floor-priced jobs to
        # learn "empty"; the aggregate is always exactly one parallel job
        target = (
            open_rings.filter(antarctica_window()).select(F.min("ring_id")).first()[0]
        )
    if target is None:
        return open_rings, False

    lons, lats = geom.antarctica_closure_points(epsg)
    walks = {
        "node_ids": F.array_repeat(F.lit(0).cast("long"), len(lons)),
        "xs": F.array(*map(F.lit, lons.tolist())),
        "ys": F.array(*map(F.lit, lats.tolist())),
    }
    is_target = F.col("ring_id") == target
    # the ring, the closure walk, then its first point again (the
    # reference's push_back(front))
    closed = {
        c: F.when(is_target, F.concat(c, walk, F.slice(c, 1, 1))).otherwise(F.col(c))
        for c, walk in walks.items()
    }
    closed["fixed"] = F.when(is_target, F.lit(True)).otherwise(F.col("fixed"))
    return open_rings.withColumns(closed), True
