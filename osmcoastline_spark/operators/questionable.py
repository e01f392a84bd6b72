"""J9/J10 — questionable-coastline detection.

Reference: src/coastline_ring_collection.cpp:436-480. All rings are sorted
by first location; for each output polygon, `lower_bound` on the polygon's
exterior-ring start marks the FIRST ring with first_location >= start as
'outer' (note: >=, not equality — and at equal locations the tie goes to the
earliest-inserted ring, which is how a fully-duplicated ring ends up flagged
while its twin is marked outer in invalid-duplicate-segments-1). Closed,
not-outer rings with 3 < npoints < 10000 ⇒ error_lines('questionable'),
NOT reversed (add_error_line(..., false)). 4326 only.

Spark shape: polygon starts are 'query' events (kind 0) and ring starts are
'ring' events (kind 1), in one global ascending order (x, y, kind,
ring_id) — queries sort before rings at equal locations, so `>=` holds.
A ring is outer exactly when the event right before it is a query: the
first ring at or after a query is that query's lower_bound, and only
queries can sit between two consecutive ring events. So no lower_bound
is ever searched for; the predecessor's kind decides.

The order is range-partitioned by x-bucket (bucket order agrees with x
order), and one window per bucket computes each event's predecessor kind
and whether it is the bucket's last event — one exchange, one
materialization of scalar events. Observed in that same job: the
candidates whose predecessor is a ring (questionable), each bucket's last
event kind (the spine: at most 360/width + 1 rows, a constant), and the
buckets whose first event is a candidate. The driver resolves those
bucket-first rings: the predecessor is the last event of the nearest
earlier non-empty bucket, so the ring is outer when that bucket ends with
a query. The questionable count is exact on the driver; the error frame
is a semi-join of the rings on the questionable ids, or an empty frame
when there are none.
"""

from __future__ import annotations

from bisect import bisect_left

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmcoastline_spark.schemas import QUESTIONABLE_NPOINTS_CAP
from osmcoastline_spark.util import materialize

_QUERY, _RING = 0, 1


def questionable_rings(
    rings: DataFrame, polygons: DataFrame, bucket_width: float = 5.0
) -> tuple[DataFrame, int]:
    """rings: ALL assembled rings (closed and open, OSM orientation).
    polygons: output polygons (GIS orientation).

    Returns (error_lines frame of the questionable rings, its row count).
    Runs one exchange and one checkpoint when called; the frame is lazy,
    and Catalyst prunes it as empty when the count is 0."""
    closed = F.element_at("node_ids", 1) == F.element_at("node_ids", -1)
    npoints = F.size("node_ids")
    ring_events = rings.select(
        F.element_at("xs", 1).alias("x"),
        F.element_at("ys", 1).alias("y"),
        F.lit(_RING).alias("kind"),
        "ring_id",
        (closed & (npoints > 3) & (npoints < QUESTIONABLE_NPOINTS_CAP)).alias("cand"),
    )
    query_events = polygons.select(
        F.element_at("shell_x", 1).alias("x"),
        F.element_at("shell_y", 1).alias("y"),
        F.lit(_QUERY).alias("kind"),
        F.lit(None).cast("long").alias("ring_id"),
        F.lit(False).alias("cand"),
    )
    w = Window.partitionBy("bucket").orderBy("x", "y", "kind", "ring_id")
    events = (
        ring_events.unionByName(query_events)
        .withColumn("bucket", F.floor((F.col("x") + 180.0) / bucket_width))
        .select(
            "ring_id",
            "bucket",
            "kind",
            "cand",
            F.lag("kind").over(w).alias("prev"),
            F.lead("kind").over(w).isNull().alias("last"),
        )
    )
    events, seen = materialize(
        events,
        after_ring=F.count_if(F.col("cand") & (F.col("prev") == _RING)),
        spine=F.collect_list(F.when(F.col("last"), F.struct("bucket", "kind"))),
        first_cands=F.collect_list(
            F.when(F.col("cand") & F.col("prev").isNull(), F.col("bucket"))
        ),
    )

    last_kind = dict(seen["spine"])
    if None in last_kind:
        raise ValueError("questionable_rings: a ring or polygon has no start location")
    buckets = sorted(last_kind)
    max_buckets = int(360 / bucket_width) + 2
    if len(buckets) > max_buckets:
        raise ValueError(
            f"questionable_rings: events span {len(buckets)} x-buckets of width "
            f"{bucket_width}, more than the {max_buckets} that x in [-180, 180] allows"
        )
    q_buckets = []
    for b in seen["first_cands"]:
        i = bisect_left(buckets, b)  # b's own index: the earlier bucket is i-1
        if i == 0 or last_kind[buckets[i - 1]] != _QUERY:
            q_buckets.append(b)
    count = seen["after_ring"] + len(q_buckets)

    frame = rings.select(
        F.col("ring_id").alias("osm_id"),
        F.lit("questionable").alias("error"),
        "xs",
        "ys",
    )
    if count == 0:
        # an empty LocalRelation to Catalyst: pruned from any union it joins
        return frame.limit(0), 0
    first_q = F.col("prev").isNull() & F.col("bucket").isin(q_buckets)
    ids = events.filter(F.col("cand") & ((F.col("prev") == _RING) | first_q))
    ids = ids.select(F.col("ring_id").alias("osm_id"))
    return frame.join(F.broadcast(ids), "osm_id", "left_semi"), count
