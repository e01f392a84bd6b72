"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exercises every operator family from SURVEY.md §2 over the
driver's parquet tables (plus deterministic arithmetic-derived geometry so
the DuckDB oracle can verify spatial operators without a spatial extension):

  relational  : F1/F2 filters, J1 semi, J3 anti, J13 exceptAll, A6 distinct,
                A2 counters, O1 sort
  geometry    : J2 location join, R1 ring assembly (closed
                form oracle), J5 intersection math, J6 duplicate segments,
                G6 point-in-polygon, G15 tile grid, cells, R4 envelope math,
                F7/F8 edge filters, F4/F5 routing
  training    : exact dedup, minhash signatures + LSH pairs, simhash,
                n-gram jaccard, text features, fingerprints, language guess,
                corpus-LM familiarity, stratified mixing sampler, Gopher
                rule gates, hashed linear quality classifier, embedding
                cosine top-k (brute force + LSH + heuristic IVF),
                phash multi-index Hamming near-dup, cleaning family
                (line dedup, C4 filters, PII, chunking, packing),
                curation chain, vocab counts, duplicated-substring spans
  spatial-idx : raster→vector run-merge (empty-tile water slabs)
  streaming   : tumbling-window agg, batch only (no streaming plan remains)

Column names are aliased identically in Spark and SQL (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmcoastline_spark.cells import cell_id_expr
from osmcoastline_spark.functions import audio as A
from osmcoastline_spark.functions import clean as CL
from osmcoastline_spark.functions import curate as C
from osmcoastline_spark.functions import dedup as D
from osmcoastline_spark.functions import similarity as S
from osmcoastline_spark.functions import text as T
from osmcoastline_spark.operators.rings import assemble_rings
from osmcoastline_spark.streaming.events import windowed_counts_batch

# ----------------------------------------------------------------- helpers


_SHIPPED: set = set()


def _package_zip(pkg_dir: str, out_dir: str = "/tmp") -> str:
    """Build (or reuse) a content-addressed zip of the package's .py files.

    Content-addressed naming is load-bearing: a cached zip from an older
    source tree must never shadow the live package on executors — the
    userFiles dir precedes PYTHONPATH in worker sys.path, and a stale
    fixed-name /tmp zip silently ran round-old worker code until the
    schemas drifted apart (round-5 bug: split_batch missing cut_suspect)."""
    import hashlib
    import zipfile

    members = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                members.append((full, rel))
    members.sort(key=lambda m: m[1])
    digest = hashlib.sha256()
    for full, rel in members:
        digest.update(rel.encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    zip_path = os.path.join(
        out_dir, f"osmcoastline_spark_pyfiles-{digest.hexdigest()[:12]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in members:
                zf.write(full, rel)
        os.replace(tmp, zip_path)  # atomic vs concurrent sessions
    return zip_path


def _ensure_pkg(spark: SparkSession) -> None:
    """Ship osmcoastline_spark to executors regardless of how the session
    was built (the driver creates its own SparkSession; python workers
    can't rely on our PYTHONPATH). addPyFile of a package zip is the
    session-agnostic equivalent of spark-submit --py-files."""
    sc = spark.sparkContext
    # key by context identity, not id(sc): CPython reuses addresses after
    # GC, which could silently skip addPyFile for a NEW context
    key = (sc.applicationId, sc.startTime)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "osmcoastline_spark")
    try:
        sc.addPyFile(_package_zip(pkg_dir))
    except Exception:
        pass  # already added or unsupported — PYTHONPATH fallback applies
    _SHIPPED.add(key)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_pkg(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact table row count from the parquet FOOTER metadata (driver-side,
    ~1 ms) instead of a Spark count() job (~0.2 s of scheduling floor per
    call — round-6 measurement). Several queries only need the count to
    SIZE their derived id range; the value is identical to count() by the
    parquet spec (footers carry exact row counts). Only a single file or a
    flat directory of part files is read this way: a directory with
    subdirectories (partitioned or nested layouts, which Spark does not
    read as the union of every file below it) and any layout pyarrow
    can't read take the Spark count."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.isdir(path):
            return pq.ParquetFile(path).metadata.num_rows
        entries = [e for e in os.scandir(path) if not e.name.startswith(("_", "."))]
        if entries and not any(e.is_dir() for e in entries):
            return sum(pq.ParquetFile(e.path).metadata.num_rows for e in entries)
    except Exception:
        pass
    return _read(spark, sf_dir, name).count()


def _node_cells(nodes: DataFrame, n: int) -> DataFrame:
    """(tx, ty) n×n world-grid cell of every node, edge-clamped — the
    shared projection for the cell-index queries (tile_grid, vectorize).
    One definition: a grid or clamp change must not be appliable to only
    one copy."""
    return nodes.select(
        F.least(F.lit(n - 1), F.floor((F.col("lon") + 180.0) / (360.0 / n))).alias("tx"),
        F.least(F.lit(n - 1), F.floor((F.col("lat") + 90.0) / (180.0 / n))).alias("ty"),
    )


# Deterministic synthetic geometry derived from table keys (identical
# arithmetic on the DuckDB side). Nodes from part keys; segments from
# lineitem keys; rings from part-count-scaled range.

NODE_LON = "(CAST(p_partkey % 347 AS DOUBLE) * 0.9 - 170.0)"
NODE_LAT = "(CAST((p_partkey * 7) % 149 AS DOUBLE) * 1.0 - 70.0)"

# concave pentagon for point-in-polygon
PIP_RING_X = [0.0, 10.0, 10.0, 5.0, 0.0]
PIP_RING_Y = [0.0, 0.0, 10.0, 5.0, 10.0]


def _nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "part").selectExpr(
        "p_partkey AS node_id", f"{NODE_LON} AS lon", f"{NODE_LAT} AS lat"
    )


def _nodes_sql() -> str:
    return f"SELECT p_partkey AS node_id, {NODE_LON} AS lon, {NODE_LAT} AS lat FROM part"


# segments: one per lineitem row, connecting two derived points; normalized
SEG_EXPR = """
  CAST(l_orderkey % 211 AS DOUBLE) * 0.31 - 30.0 AS ax,
  CAST((l_orderkey * 3 + l_linenumber) % 197 AS DOUBLE) * 0.23 - 20.0 AS ay,
  CAST((l_partkey * 5) % 211 AS DOUBLE) * 0.31 - 30.0 AS bx,
  CAST((l_partkey * 11 + l_suppkey) % 197 AS DOUBLE) * 0.23 - 20.0 AS by
"""

NORM_SEG_SQL = f"""
WITH raw AS (SELECT {SEG_EXPR} FROM lineitem),
norm AS (
  SELECT CASE WHEN ax < bx OR (ax = bx AND ay <= by) THEN ax ELSE bx END AS x1,
         CASE WHEN ax < bx OR (ax = bx AND ay <= by) THEN ay ELSE by END AS y1,
         CASE WHEN ax < bx OR (ax = bx AND ay <= by) THEN bx ELSE ax END AS x2,
         CASE WHEN ax < bx OR (ax = bx AND ay <= by) THEN by ELSE ay END AS y2
  FROM raw)
"""


def _segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _read(spark, sf_dir, "lineitem").selectExpr(*[e.strip() for e in SEG_EXPR.split(",\n")])
    fwd = (F.col("ax") < F.col("bx")) | ((F.col("ax") == F.col("bx")) & (F.col("ay") <= F.col("by")))
    return raw.select(
        F.when(fwd, F.col("ax")).otherwise(F.col("bx")).alias("x1"),
        F.when(fwd, F.col("ay")).otherwise(F.col("by")).alias("y1"),
        F.when(fwd, F.col("bx")).otherwise(F.col("ax")).alias("x2"),
        F.when(fwd, F.col("by")).otherwise(F.col("ay")).alias("y2"),
    )


# ------------------------------------------------------------------ entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: R1 ring assembly at sf0.001 — assemble ways (derived
    deterministically from the part table) into rings via the distributed
    fixpoint, return per-ring stats."""
    return q_ring_assembly(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------- queries


def q_filter_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: tag-equality filter + negated exclusion."""
    ev = _read(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "click") & (~F.col("props").contains("bogus")))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            # per-row exact micro-quantization, then int64 sum: order-
            # independent and engine-exact, unlike round(sum(double), 4)
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")).alias("click_value_micros"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: semi-join (filter keeps nodes referenced by kept ways)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000)
    kept = c.join(o.select("o_custkey").distinct(), c.c_custkey == o.o_custkey, "left_semi")
    return kept.groupBy("c_mktsegment").agg(F.count("*").alias("n_customers"))


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: missing-location anti-join analog.

    Customers with no large order (>300k): every custkey has SOME order in
    the TPC-H-ish generator, so the unfiltered anti-join is vacuously
    empty — the totalprice filter makes the check non-trivial (3 rows at
    sf0.001, 30 at sf0.01)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    missing = c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
    return missing.select("c_custkey", "c_name")


def q_location_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: explode way refs → equi-join node locations → re-collect
    ordered → per-way point count + exact-integer squared-degree length."""
    li = _read(spark, sf_dir, "lineitem")
    nodes = _nodes(spark, sf_dir)
    refs = li.select(
        F.col("l_orderkey").alias("way_id"),
        F.col("l_linenumber").alias("pos"),
        (F.col("l_partkey") % 200).alias("node_id"),
    )
    # the production J2 re-collect kernel (SHUFFLE_HASH join + in-JVM
    # sort_array(collect_list) — operators/locations.py), so the DuckDB
    # oracle verifies the same code path the pipeline runs
    j = refs.join(nodes.hint("SHUFFLE_HASH"), "node_id")
    from osmcoastline_spark.operators.locations import collect_locations

    pts = collect_locations(j)
    # Per-way length checksum with ZERO libm: the reference's own G3
    # squared-degree distance (reference/src/coastline_ring.cpp
    # distance() uses plain dx/dy arithmetic; mirrored at geom.py
    # sq_distance). Each leg is floor((dx*dx + dy*dy) * 1e6 + 0.5) as
    # BIGINT — subtraction, multiply, add and floor are IEEE
    # correctly-rounded on every engine, and the BIGINT sum is exact and
    # order-independent, so the checksum is bit-identical between Spark
    # and DuckDB by construction (no sin/cos/asin ULP drift, which round-1
    # and round-2 showed cannot be fully quantized away).
    def leg(i):
        dx = F.element_at(F.col("xs"), i.cast("int")) - F.element_at(
            F.col("xs"), (i - 1).cast("int")
        )
        dy = F.element_at(F.col("ys"), i.cast("int")) - F.element_at(
            F.col("ys"), (i - 1).cast("int")
        )
        return F.floor((dx * dx + dy * dy) * F.lit(1000000.0) + F.lit(0.5)).cast("long")

    sqlen = F.when(F.size("xs") < 2, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            F.sequence(F.lit(2), F.greatest(F.size("xs"), F.lit(2))),
            F.lit(0).cast("long"),
            lambda acc, i: acc + leg(i),
        )
    )
    return pts.select("way_id", F.size("xs").cast("int").alias("npoints"), sqlen.alias("length_q"))


def q_ring_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: the distributed ring-assembly fixpoint vs a closed-form oracle.

    Ring r (r in 0..R-1) is built from s = (r%7)+1 ways of 3 nodes each,
    chained in a cycle; way ids are globally sequential. The oracle knows
    the answer arithmetically: ring_id = min way id, nways = s,
    npoints = 2s+1.
    """
    part = _read(spark, sf_dir, "part")
    n_part = _rowcount(spark, sf_dir, "part")
    R = max(n_part // 2, 8)
    # derive ids from the ACTUAL part keys, not spark.range: both engines
    # must see the same id set whatever base the keys start at (the driver
    # testdata is 0-based; standard TPC-H is 1-based — same conversion as
    # q_water_tiles, round-4 review)
    base = part.select(F.col("p_partkey").alias("r")).filter(F.col("r") < R)
    ways = base.select(
        "r",
        F.explode(F.sequence(F.lit(0), F.col("r") % 7)).alias("j"),
        ((F.col("r") % 7) + 1).alias("s"),
    ).select(
        "r",
        "j",
        "s",
        (
            (F.col("r") / 7).cast("long") * 28
            + (F.col("r") % 7) * ((F.col("r") % 7) + 1) / 2
            + F.col("j")
            + 1
        ).cast("long").alias("way_id"),
    )
    ways_loc = ways.select(
        "way_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.col("r") * 1000 + F.pmod(F.col("j") * 2 + i, F.col("s") * 2),
        ).alias("node_ids"),
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: (F.pmod(F.col("r") * 1000 + F.col("j") * 2 + i, F.lit(360)) - 180.0).cast(
                "double"
            ),
        ).alias("xs"),
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: (F.pmod(F.col("r") * 77 + F.col("j") * 2 + i, F.lit(160)) - 80.0).cast(
                "double"
            ),
        ).alias("ys"),
    )
    # assemble_rings takes the ways (node ids) and their located points,
    # here exploded from the synthetic arrays
    points = ways_loc.select(
        "way_id", F.posexplode(F.arrays_zip("node_ids", "xs", "ys")).alias("pos", "p")
    ).select(
        "way_id",
        "pos",
        F.col("p.node_ids").alias("node_id"),
        F.col("p.xs").alias("lon"),
        F.col("p.ys").alias("lat"),
    )
    closed, _open, _seen = assemble_rings(ways_loc.select("way_id", "node_ids"), points)
    return closed.select(
        "ring_id", "nways", F.size("node_ids").cast("int").alias("npoints")
    )


def q_segments_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/S4: undirected segment normalization (canonical total order)."""
    return _segments(spark, sf_dir)


def q_duplicate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: exact-duplicate segments via groupBy on all coords."""
    return (
        _segments(spark, sf_dir)
        .groupBy("x1", "y1", "x2", "y2")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
    )


def q_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/G1: the pipeline's x-slab segment sweep + the reference's exact
    intersection arithmetic, vs the same formula in SQL over an H×V
    crossing grid."""
    part = _read(spark, sf_dir, "part")
    n = _rowcount(spark, sf_dir, "part")
    H = max(int(n**0.5), 4)
    # derive ids from the ACTUAL part keys, not spark.range: both engines
    # must see the same id set whatever base the keys start at (the driver
    # testdata is 0-based; standard TPC-H is 1-based — same conversion as
    # q_water_tiles, round-4 review)
    ids = part.select(F.col("p_partkey").alias("id")).filter(F.col("id") < H)
    hseg = ids.select(
        F.lit(0.0).alias("x1"),
        (F.col("id") * 0.01 + 0.005).alias("y1"),
        F.lit(1.0).alias("x2"),
        (F.col("id") * 0.01 + 0.005).alias("y2"),
        F.lit(0).alias("kind"),
        F.col("id").alias("sid"),
    )
    vseg = ids.select(
        (F.col("id") * 0.01 + 0.003).alias("x1"),
        F.lit(-1.0).alias("y1"),
        (F.col("id") * 0.01 + 0.003).alias("x2"),
        F.lit(2.0).alias("y2"),
        F.lit(1).alias("kind"),
        (F.col("id") + 100000).alias("sid"),
    )
    segs = hseg.unionByName(vseg).withColumn("ring_id", F.col("sid")).withColumn(
        "idx", F.lit(0)
    )
    from osmcoastline_spark.operators.intersections import (
        intersection_pairs,
        segment_sweep,
        slab_checkpoint,
    )

    segs, edges = slab_checkpoint(segs, spark.sparkContext.defaultParallelism)
    pts = intersection_pairs(segment_sweep(segs, edges))
    return pts.select(F.round("x", 9).alias("ix"), F.round("y", 9).alias("iy"))


def q_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6/R3: batched even-odd ray-cast vs the identical unrolled SQL."""
    import pandas as pd
    import numpy as np
    from osmcoastline_spark import geom

    nodes = _nodes(spark, sf_dir).selectExpr(
        "node_id", "(lon + 170.0) / 15.0 AS px", "(lat + 70.0) / 10.0 AS py"
    )

    def run(it):
        for pdf in it:
            inside = geom.points_in_ring(
                pdf["px"].to_numpy(), pdf["py"].to_numpy(),
                np.array(PIP_RING_X), np.array(PIP_RING_Y),
            )
            out = pdf[["node_id"]].copy()
            out["inside"] = inside.astype(int)
            yield out

    return nodes.mapInPandas(run, "node_id long, inside int")


def q_cell_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid cell encoding (the spatial-join index) per node → counts."""
    nodes = _nodes(spark, sf_dir)
    return (
        nodes.withColumn("cell", cell_id_expr(F.col("lon"), F.col("lat"), 5.0))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def q_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15 + J12: zoom-3 tile grid joined to nodes → per-tile counts."""
    nodes = _nodes(spark, sf_dir)
    n = 8  # 2^3
    return (
        _node_cells(nodes, n)
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )


def q_envelope_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 split decisions: axis + midpoint per synthetic envelope."""
    nodes = _nodes(spark, sf_dir)
    env = nodes.select(
        (F.col("node_id") % 50).alias("grp"), "lon", "lat"
    ).groupBy("grp").agg(
        F.min("lon").alias("minx"),
        F.min("lat").alias("miny"),
        F.max("lon").alias("maxx"),
        F.max("lat").alias("maxy"),
    )
    wide = (F.col("maxx") - F.col("minx")) >= (F.col("maxy") - F.col("miny"))
    return env.select(
        "grp",
        F.when(wide, F.lit(0)).otherwise(F.lit(1)).alias("axis"),
        F.round(
            F.when(wide, (F.col("maxx") + F.col("minx")) / 2.0).otherwise(
                (F.col("maxy") + F.col("miny")) / 2.0
            ),
            9,
        ).alias("mid"),
    )


def q_edge_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F8: antimeridian / southern-edge suppression predicates."""
    segs = _segments(spark, sf_dir)
    return segs.filter(
        ~(
            ((F.col("y1") < -85.049) & (F.col("y2") < -85.049))
            | ((F.col("x1") > 179.9999) & (F.col("x2") > 179.9999))
            | ((F.col("x1") < -179.9999) & (F.col("x2") < -179.9999))
        )
        & (F.col("x1") < -25.0)
    )


def q_way_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5: closed-way predicate + size routing counts."""
    li = _read(spark, sf_dir, "lineitem")
    ways = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))).alias("p")
    ).select(
        F.col("l_orderkey").alias("way_id"),
        F.col("p.l_partkey").alias("node_ids"),
    )
    closed = F.element_at("node_ids", 1) == F.element_at("node_ids", -1)
    npts = F.size("node_ids")
    route = (
        F.when(~closed, "not_closed")
        .when(npts > 3, "polygon")
        .when(npts == 1, "single_point_in_ring")
        .otherwise("not_a_ring")
    )
    return ways.select(route.alias("route")).groupBy("route").agg(F.count("*").alias("n"))


def q_except_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: segment-diff via exceptAll both directions."""
    s = _segments(spark, sf_dir)
    old = s.filter((F.col("x1") + F.col("y1")) % 3 < 2)
    new = s.filter((F.col("x2") + F.col("y2")) % 3 < 2)
    removed = old.exceptAll(new).withColumn("change", F.lit("removed"))
    added = new.exceptAll(old).withColumn("change", F.lit("added"))
    return removed.unionByName(added).groupBy("change").agg(F.count("*").alias("n"))


def q_segment_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 output modes (round 4): the OGR 'changes' layer over the
    canonical segment diff — change=0 removed / 1 added, one 2-point line
    per changed segment (reference src/osmcoastline_segments.cpp:97-113).
    Endpoints re-projected to scalars for the value-hash gate."""
    from osmcoastline_spark.operators.segments_diff import (
        changes_layer,
        diff_segments,
    )

    s = _segments(spark, sf_dir)
    old = s.filter((F.col("x1") + F.col("y1")) % 3 < 2)
    new = s.filter((F.col("x2") + F.col("y2")) % 3 < 2)
    removed, added = diff_segments(old, new)
    return changes_layer(removed, added).select(
        "change",
        F.element_at("xs", 1).alias("x1"),
        F.element_at("ys", 1).alias("y1"),
        F.element_at("xs", 2).alias("x2"),
        F.element_at("ys", 2).alias("y2"),
    )


def q_distinct_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: sorted-distinct node-id set of kept ways."""
    li = _read(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 25).select(
        (F.col("l_partkey") % 500).alias("node_id")
    ).distinct()


def q_stats_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S8: the run-metrics row."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    return spark.createDataFrame(
        [
            (
                li.count(),
                o.count(),
                li.filter(F.col("l_returnflag") == "R").count(),
            )
        ],
        "num_lineitems long, num_orders long, num_returned long",
    )


def q_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window counts over events (streaming/events.py)."""
    ev = _read(spark, sf_dir, "events")
    out = windowed_counts_batch(ev, minutes=60)
    return out.select(
        F.unix_timestamp("window_start").alias("bucket"),
        "event_type",
        "n",
        "total_value_micros",
    )


# ------------------------------------------------- training-data operators


def q_gap_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+J8+R2: greedy gap closing vs an arithmetic oracle.

    Ring r has two open chains A (3 points east-ward) and B (2 points);
    A.end→B.start is always closable (gap 0.04); B.end→A.start is closable
    (gap ~0.028) except when r%3==0 (gap ~0.28). Greedy therefore closes
    rings r%3!=0 into 6-point rings (append_first) and leaves r%3==0 as a
    5-point open merged chain. ring_id = min way id = 1000+2r; nways = 2;
    fixed = true either way. Rings are 3° apart so no cross-ring pair is
    within max_distance=0.01 (squared degrees).
    """
    from osmcoastline_spark.operators.close import close_rings

    part = _read(spark, sf_dir, "part")
    n_part = _rowcount(spark, sf_dir, "part")
    R = max(min(n_part, 5000) // 2, 8)
    # derive ids from the ACTUAL part keys, not spark.range: both engines
    # must see the same id set whatever base the keys start at (the driver
    # testdata is 0-based; standard TPC-H is 1-based — same conversion as
    # q_water_tiles, round-4 review)
    base = part.select(F.col("p_partkey").alias("r")).filter(F.col("r") < R)
    x0 = (F.col("r") % 50).cast("double") * 3.0 - 75.0
    y0 = (F.col("r") / 50).cast("long").cast("double") * 3.0 - 60.0
    far = F.col("r") % 3 == 0
    a = base.select(
        (F.lit(1000) + F.col("r") * 2).alias("ring_id"),
        F.array(F.col("r") * 10, F.col("r") * 10 + 1, F.col("r") * 10 + 2).alias("node_ids"),
        F.array(x0, x0 + 0.1, x0 + 0.2).alias("xs"),
        F.array(y0, y0, y0).alias("ys"),
        F.lit(1).alias("nways"),
        F.lit(False).alias("fixed"),
        (F.col("r") * 10).alias("lead"),
    )
    b = base.select(
        (F.lit(1000) + F.col("r") * 2 + 1).alias("ring_id"),
        F.array(F.col("r") * 10 + 3, F.col("r") * 10 + 4).alias("node_ids"),
        F.array(
            x0 + 0.24, F.when(far, x0 + 0.2).otherwise(x0 + 0.02)
        ).alias("xs"),
        F.array(
            y0, F.when(far, y0 + 0.2).otherwise(y0 + 0.02)
        ).alias("ys"),
        F.lit(1).alias("nways"),
        F.lit(False).alias("fixed"),
        (F.col("r") * 10 + 3).alias("lead"),
    )
    merged, _cres = close_rings(a.unionByName(b), 0.01)
    return merged.select(
        "ring_id",
        "nways",
        F.size("node_ids").cast("int").alias("npoints"),
        (F.element_at("node_ids", 1) == F.element_at("node_ids", -1)).cast("int").alias(
            "closed"
        ),
        F.col("fixed").cast("int").alias("fixed"),
    )


def q_questionable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9+J10: lower_bound outer marking vs an arithmetic oracle.

    Ring i is a closed 5-point square starting at a strictly increasing
    (x, y); a polygon starts exactly at ring i's first vertex for EVEN i,
    marking it outer — so exactly the odd rings are questionable."""
    from osmcoastline_spark.operators.questionable import questionable_rings

    part = _read(spark, sf_dir, "part")
    n_part = _rowcount(spark, sf_dir, "part")
    R = max(min(n_part, 20000) // 2, 8)
    # derive ids from the ACTUAL part keys, not spark.range: both engines
    # must see the same id set whatever base the keys start at (the driver
    # testdata is 0-based; standard TPC-H is 1-based — same conversion as
    # q_water_tiles, round-4 review)
    base = part.select(F.col("p_partkey").alias("i")).filter(F.col("i") < R)
    xi = (F.col("i") % 600).cast("double") * 0.5 - 150.0
    yi = (F.col("i") / 600).cast("long").cast("double") * 0.5 - 60.0
    rings = base.select(
        F.col("i").alias("ring_id"),
        F.array(
            F.col("i") * 10, F.col("i") * 10 + 1, F.col("i") * 10 + 2,
            F.col("i") * 10 + 3, F.col("i") * 10,
        ).alias("node_ids"),
        F.array(xi, xi + 0.01, xi + 0.01, xi, xi).alias("xs"),
        F.array(yi, yi, yi + 0.01, yi + 0.01, yi).alias("ys"),
    )
    polys = base.filter(F.col("i") % 2 == 0).select(
        F.array(xi, xi, xi + 0.01, xi + 0.01, xi).alias("shell_x"),
        F.array(yi, yi + 0.01, yi + 0.01, yi, yi).alias("shell_y"),
    )
    frame, _count = questionable_rings(rings, polys)
    return frame.select("osm_id", "error")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return D.dedup_exact(docs)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return D.minhash_signatures(docs, n_hashes=4, k=5)


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return D.minhash_lsh_pairs(docs, n_hashes=4, bands=2, k=5)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs over docs + deterministic truncated
    clones (doc_id+1e6, first len-40 chars): the generator's docs share no
    8-grams with each other, so without injected near-dups this check was
    vacuous (0 rows on both engines, round-2 VERDICT). The clones
    guarantee one high-Jaccard pair per base doc. The hot-shingle DF cap
    (default 1000) is active and mirrored in the oracle."""
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", "text")
    )
    clones = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring(
            "text", F.lit(1), F.greatest(F.length("text") - 40, F.lit(16))
        ).alias("text"),
    )
    return D.ngram_jaccard_pairs(docs.unionByName(clones), k=8, threshold=0.2)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl URL curation chain (functions/urls.py): canonicalize →
    keep-first URL dedup → skew-safe per-domain top-10 cap (C4's "limit
    pages per domain"). URLs are synthesized deterministically per doc
    (mixed-case scheme/host, default and non-default ports, trailing
    slashes, tracking params, fragments — every canonicalization rule
    fires), so planted collisions exist: ids agreeing on the
    ([id%3==0], id%7, [id%4==1], id%50) canonical key collapse. The
    oracle re-implements the whole chain in DuckDB string builtins;
    domain ranks use the naive window, cross-checking the salted
    two-phase top-N against the definitional form."""
    from osmcoastline_spark.functions.urls import (
        canonicalize_urls, domain_topn, url_keep_first,
    )

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("http"))
        .when(d % 3 == 1, F.lit("https"))
        .otherwise(F.lit("HTTPS"))
    )
    port = (
        F.when((d % 4 == 0) & (d % 3 == 0), F.lit(":80"))
        .when((d % 4 == 0), F.lit(":443"))
        .when(d % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme,
        F.lit("://WWW.h"), (d % 7).cast("string"), F.lit("-Example.COM"),
        port,
        F.lit("/Docs/"), (d % 50).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("utm_source=feed&id="), (d % 25).cast("string"), F.lit("&gclid=xyz")),
        ).otherwise(F.concat(F.lit("id="), (d % 25).cast("string"))),
        F.when(d % 5 == 0, F.lit("#Section2")).otherwise(F.lit("")),
    )
    canon = canonicalize_urls(docs.withColumn("url", url))
    kept = url_keep_first(canon)
    capped = domain_topn(
        kept, 10, order_cols=[F.col("n_chars").desc(), F.col("doc_id")]
    )
    return capped.select(
        "doc_id", "canonical_url", "domain", "dup_count", "domain_rank"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return D.simhash64(docs)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return T.with_text_features(docs).select(
        "doc_id", "tokens", "word_units", "punct_ratio", "quality", "fingerprint"
    )


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_guess(F.col("text")).alias("lang_guess"))


def q_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM familiarity (curate.lm_familiarity): train an add-one
    char-trigram model on the corpus itself, score each doc by mean
    smoothed trigram probability. Exact BIGINT numerators, one IEEE
    division at the end — engine-identical, full value-hash oracle."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return C.lm_familiarity(docs)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mixing sampler (curate.stratified_sample):
    keep iff substr(md5('mix:'||doc_id),1,8) < per-lang 8-hex threshold.
    No floats, no RNG state — the sample is a pure function of (salt, id,
    rates), reproducible across engines, runs, and partitionings."""
    docs = _read(spark, sf_dir, "documents")
    return C.stratified_sample(docs).select("doc_id", "lang")


MIX_WEIGHTS = {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.1}
MIX_BUDGET = 40000


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-driven mixture sampler with upsampling
    (curate.mixture_sample): rate_s = budget*w_s/tokens_s, docs emitted
    floor(rate) times plus a md5-Bernoulli extra — src0's weight drives
    rate ≈ 2.7 (multi-epoch upsampling exercised), src3 ≈ 0.5
    (downsampling), the 16 unlisted sources drop. The uniform is the
    32-bit md5 prefix vs floor(frac(rate)·2^32): rate is a fixed order
    of IEEE ops over exact ints and double literals, so DuckDB
    reproduces the exact multiset including epoch counts."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return C.mixture_sample(docs, MIX_WEIGHTS, MIX_BUDGET)


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k uniform per-group sample (curate.group_sample_k): the 5
    md5-order-smallest docs per source — deterministic sampling without
    replacement, skew-safe via the salted two-phase top-N, which the
    naive-window DuckDB twin cross-checks."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return C.group_sample_k(docs, 5)


def q_assign_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment (curate.assign_shards): contiguous
    2000-char shards over doc_id order via the two-pass distributed
    prefix sum (range partition + local cumsum + broadcast offsets —
    never Spark's single-task global window). The oracle is DuckDB's
    single global window, cross-checking the distributed decomposition
    against the definitional form."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return C.assign_shards(docs, 2000, order_cols=["doc_id"]).select(
        "doc_id", "n_chars", "shard"
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates (curate.gopher_rules): length floor,
    mean-word-length band, stopword floor, language recognised — each a
    named 0/1 column plus the conjunction, all pure Catalyst."""
    docs = _read(spark, sf_dir, "documents")
    return C.gopher_rules(docs)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition gates (curate.repetition_stats): duplicate-word
    fraction + top-bigram fraction from exact integer counts, one IEEE
    division each — engine-identical, full value-hash oracle."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return C.repetition_stats(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (curate.decontaminate): word-4-gram
    overlap between the deterministic benchmark subset (doc_id % 17 == 0)
    and the rest of the corpus; broadcast bench-gram membership join."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return C.decontaminate(docs)


def q_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table (text.vocab_counts): word + occurrence +
    document frequencies with a deterministic rank (count desc, word
    asc). Exact integers; the rank window sorts the vocabulary, not the
    corpus."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return T.vocab_counts(docs)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (dedup.duplicated_spans): maximal
    token spans covered by word 8-grams occurring more than once in the
    corpus — the Spark-native equivalent of the Lee et al. suffix-array
    substring-dedup stage. Non-vacuous on the synthetic corpus via the
    round-3 truncated-clone docs (47 docs carry duplicated 8-gram runs at
    sf0.01). Spark groups by a 128-bit xxhash64 pair; the oracle groups
    by the window string itself, so a hash collision would surface as a
    value diff."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return D.duplicated_spans(docs, k=8)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup, keep-first (clean.line_dedup — the
    CCNet paragraph-dedup stage). The synthetic corpus has no newlines,
    so the oracle row runs the operator at word granularity (sep=' '):
    the same code path, shuffles, and keep-first semantics, with the
    heavily repeated word soup making it non-vacuous. Real multi-line
    behavior is pinned by tests/test_clean.py fixtures."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return CL.line_dedup(docs, sep=" ")


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (clean.corpus_diff): the 'new' snapshot is
    derived deterministically from documents — doc_id%31==0 removed,
    doc_id%13==0 text-mutated (changed), fresh ids doc_id+2_000_000 for
    doc_id%37==0 (added) — so all three statuses fire. Both sides hash
    map-side; the full-outer join moves ids + md5 only. Oracle: DuckDB
    FULL OUTER JOIN twin."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 31 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 37 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return CL.corpus_diff(docs, new)


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 per-line quality filters (clean.c4_line_filters). Lines are
    synthesized deterministically per doc_id inside the query (the
    established closed-form-oracle trick, cf. q_audio_features): seven
    lines per doc exercising every rule — terminal punctuation,
    min-words, '{', lorem ipsum, javascript — so each rule fires
    non-vacuously and DuckDB verifies the kept text byte-for-byte.
    (The javascript line passes every OTHER rule — ≥5 words, terminal
    '.', no brace — so only that predicate drops it.)"""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    nl = F.lit("\n")
    synth = F.concat(
        F.lit("Sentence number one has five words."), nl,
        F.substring("text", 1, 40), nl,
        F.lit("Too short."), nl,
        F.concat(F.lit("Document "), F.col("doc_id").cast("string"),
                 F.lit(" keeps this varied content line.")), nl,
        F.lit("Lorem ipsum dolor sit amet filler text."), nl,
        F.lit("A curly { brace drops this whole line."), nl,
        F.lit("Please enable JavaScript support to continue reading."),
    )
    return CL.c4_line_filters(docs.select("doc_id", synth.alias("text")))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (clean.chunk_documents): 16-token chunks
    with 4-token overlap (step 12); a chunk after the first is emitted
    only if it adds new tokens. Zero-shuffle narrow projection; exact
    integer arithmetic throughout — full value-hash oracle."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return CL.chunk_documents(docs, chunk_tokens=16, overlap=4)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED cleaning+curation chain (clean.curation_pipeline):
    C4 line filters → corpus keep-first line dedup → Gopher + repetition
    gates on the cleaned text → final keep flag. Each stage is already
    independently oracled; this row pins the composition itself (stage
    outputs feeding stage inputs, empty-text and missing-row
    interactions included). Lines are synthesized per doc_id: constant
    lines exercise the dedup steal, rule-breaking lines exercise C4,
    and a doc_id-length-varying sentence makes the r_len/r_mwl gates
    split non-vacuously. The SQL twin reuses the gopher/repetition twin
    bodies verbatim, re-pointed at the cleaned CTE."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    nl = F.lit("\n")
    d = F.col("doc_id")
    synth = F.concat(
        F.lit("Sentence number one has five words."), nl,
        F.substring(F.col("text"), F.lit(1), F.lit(40)), nl,
        F.lit("Too short."), nl,
        F.concat(F.lit("Document "), d.cast("string"),
                 F.lit(" keeps this varied content line.")), nl,
        F.lit("Lorem ipsum dolor sit amet filler text."), nl,
        F.lit("A curly { brace drops this whole line."), nl,
        F.concat(F.substring(F.col("text"), F.lit(1), F.lit(60) + (d % 80)),
                 F.lit(" and so it ends.")),
    )
    return CL.curation_pipeline(docs.select("doc_id", synth.alias("text")))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (clean.pii_redact): emails / IPv4s / phones
    synthesized deterministically from doc_id (every doc gets an email;
    doc_id%3==0 adds an IP, doc_id%5==0 adds a phone), then redacted and
    counted. Pure Catalyst regex — identical Java/RE2 subset in the
    DuckDB twin."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    synth = F.concat(
        F.lit("user"), d.cast("string"), F.lit("@example.com "),
        F.col("text"),
        F.when(d % 3 == 0,
               F.concat(F.lit(" 10.0.0."), (d % 256).cast("string"))
               ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" +1 555 867 5309")).otherwise(F.lit("")),
    )
    return CL.pii_redact(docs.select("doc_id", synth.alias("text")))


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio: synthesize one deterministic ±amp square-wave WAV
    per document (params are pure functions of doc_id), decode through the
    REAL from-scratch RIFF/PCM parser (functions/audio.py), extract
    rms/zcr/peak/duration over Arrow batches. The oracle is closed-form:
    a square wave's rms IS amp (exact in float64), its zero-crossing count
    is (n-1) // half_period, so DuckDB verifies the entire decode+feature
    path without parsing a single byte — the q_water_tiles lattice trick
    applied to audio."""
    import pandas as pd

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                amp = 1000 + (did % 9) * 1000
                half = 1 + did % 7
                n = 400 + (did % 5) * 80
                wav = A.encode_wav(A.square_wave(amp, half, n), 8000)
                rows.append((did, wav, "wav"))
            yield pd.DataFrame(rows, columns=["audio_id", "bytes", "fmt"])

    clips = docs.mapInPandas(synth, "audio_id long, bytes binary, fmt string")
    return A.with_audio_features(clips)


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video: synthesize one RV01 clip per document (2-5 solid
    8x8 frames whose gray value is a pure function of (doc_id, frame)),
    decode + sample every 2nd frame via functions/video.sample_frames,
    report exact per-frame mean luminance. Closed-form oracle: a constant
    frame's mean IS its gray value."""
    import pandas as pd

    from osmcoastline_spark.functions import video as V
    import numpy as np

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf = 2 + did % 4
                frames = np.stack(
                    [
                        np.full((8, 8, 3), (did * 7 + 31 * k) % 256, dtype=np.uint8)
                        for k in range(nf)
                    ]
                )
                rows.append((did, V.encode_rv01(frames, 10), "rv01"))
            yield pd.DataFrame(rows, columns=["video_id", "bytes", "fmt"])

    clips = docs.mapInPandas(synth, "video_id long, bytes binary, fmt string")
    return V.sample_frames(clips, every=2, with_hash=False)


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image: synthesize one two-tone 16×16 PNG per document
    (left/right half values are pure functions of doc_id), push the bytes
    through the REAL from-scratch PNG codec (zlib inflate bounded at the
    IHDR promise, filter reconstruction) via image.with_image_features,
    and report phash + mean luma. Closed-form oracle: the mean of a
    half-lo/half-hi image is (lo+hi)/2 exactly, and the 8×8 average-hash
    of a vertical split is one of two constants — 0x0F0F0F0F0F0F0F0F when
    the right half is brighter, its complement (as signed int64) when the
    left is — so DuckDB verifies the entire decode+feature path without
    inflating a byte. The q_audio_features/q_video_frames trick applied
    to the input-hint's primary payload type."""
    import numpy
    import pandas as pd

    from osmcoastline_spark.functions import image as IM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def synth(it):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                lo = 10 + did % 97
                hi = 130 + did % 97
                left, right = (lo, hi) if did % 2 == 0 else (hi, lo)
                px = numpy.zeros((16, 16, 3), dtype=numpy.uint8)
                px[:, :8] = left
                px[:, 8:] = right
                rows.append((str(did), IM.encode_png(px), 16, 16, "png"))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    images = docs.mapInPandas(
        synth, "image_id string, bytes binary, w int, h int, fmt string"
    )
    return IM.with_image_features(images).select(
        "image_id", "computed_phash", "mean_luma"
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.brute_force_topk(emb, queries, k=3)


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN, wide-band configuration (3 tables × 4 bits vs the exact
    twin's 2×6): more tables + coarser buckets → larger candidate sets, a
    different join/banding shape over the same kernel. Round-5 VERDICT #2:
    deterministic md5-parity planes so this row is full value-hash green
    (previously Gaussian planes, rows-only). The float-Gaussian variant
    (similarity.lsh_topk) remains pytest-covered by its recall test —
    float plane sums aren't bit-portable across engines by construction."""
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return S.lsh_topk_exact(emb, k=3, bits=4, n_tables=3, dim=64)


def q_embedding_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracle-able sign-LSH ANN (similarity.lsh_topk_exact): integer-
    quantized embeddings, md5-parity Rademacher planes, exact-int cosine —
    every step bit-identical between Spark and DuckDB, so the LSH family
    gets a value-hash row, not just the rows-only check above."""
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return S.lsh_topk_exact(emb, k=3, bits=6, n_tables=2, dim=64)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss reduction (similarity.random_project):
    64→16 dims via md5-parity Rademacher planes (salt 'rp:'), exact
    int64 sums + one shared-literal division — the shrink-before-ANN
    step, zero exchanges. Output exploded to (vec_id, dim_idx, y_int, y)
    so the value hash covers every projected coordinate."""
    emb = _read(spark, sf_dir, "embeddings")
    proj = S.random_project(emb, out_dim=16, dim=64)
    return proj.select(
        "vec_id", F.posexplode("proj_q").alias("dim_idx", "y_int")
    ).withColumn(
        "y", F.col("y_int").cast("double") / F.lit(4000000.0)  # sqrt(16)*1e6
    )


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: inverted lists keyed by the dominant-dimension sign
    cell, queries probe their top-2 cells. Deterministic quantizer ⇒ full
    SQL oracle (unlike the random-hyperplane LSH)."""
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return S.ivf_topk(emb, k=3, nprobe=2)


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs via multi-index Hamming
    (image.phash_near_dup_pairs): 15-bit bands → 4-band lossless candidate
    index for distance ≤ 3 (pigeonhole), exact bit_count(xor) verify.
    pHashes are synthesized arithmetically from doc_id (4 × 15-bit
    multiplicative pieces — overflow-free under ANSI); every 7th image
    gets a copy with two deterministic bit flips, so the planted pairs
    (hamming ≤ 2) are exactly the expected drop set and the oracle is the
    brute-force all-pairs scan DuckDB can afford at sf scale."""
    from osmcoastline_spark.functions import image as IM

    docs = _read(spark, sf_dir, "documents").select("doc_id")

    def piece(p: int, q: int):
        return (F.col("doc_id") * F.lit(p) + F.lit(q)) % 32768

    phash = (
        piece(2654435761, 97)
        + piece(2246822519, 193) * F.lit(32768)
        + piece(3266489917, 389) * F.lit(1073741824)
        + piece(668265263, 769) * F.lit(35184372088832)
    )
    mask = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 60 AS INT)) ^ "
        "shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 13 + 7) % 60 AS INT))"
    )
    base = docs.select(F.col("doc_id").alias("image_id"), phash.alias("phash"))
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 500000).alias("image_id"),
        phash.bitwiseXOR(mask).alias("phash"),
    )
    return IM.phash_near_dup_pairs(
        base.unionByName(copies), max_distance=3, band_bits=15
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (clean.pack_sequences) over the chunking stage's
    output: per-bucket pack-and-slice with exact integer running sums —
    the window runs per pack_group so no global sort exists. Composes
    with q_chunk_documents exactly (same chunk lattice feeds both)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = CL.chunk_documents(docs, chunk_tokens=16, overlap=4)
    return CL.pack_sequences(chunks, seq_len=64, buckets=8)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality scorer (curate.quality_classifier): fastText
    feature set (unigrams + word bigrams), feature-hashed weights collapsed
    into md5 arithmetic — exact BIGINT numerator + one IEEE division, zero
    joins/shuffles. pass_quality is an integer sign test."""
    return C.quality_classifier(_read(spark, sf_dir, "documents"))


def q_water_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5/A5 water derivation vs a closed-form oracle (round-4 VERDICT #6).

    One lattice island per 1-degree tile: island r sits centered in tile
    (r%8, r//8) with side (1+(r%4))/8 degrees — every coordinate and area
    is an exact binary fraction, so the 64x-quantized water area is an
    exact integer on both engines. Exercises the REAL operator chain
    (bbox tile-cover join, per-tile even-odd difference, antimeridian
    sliver filter — reference src/coastline_polygons.cpp:322-442)
    end-to-end; the oracle knows cell id, hole count and water area
    arithmetically.
    """
    from osmcoastline_spark.operators.water import (
        drop_antimeridian_slivers,
        water_polygons,
    )

    part = _read(spark, sf_dir, "part")
    n_part = _rowcount(spark, sf_dir, "part")
    R = min(max(n_part // 50, 8), 40)
    # derive r from the ACTUAL part keys (not spark.range) so both engines
    # see the same id set whatever base the key starts at (round-4 review:
    # the driver testdata is 0-based but standard TPC-H is 1-based)
    base = part.select(F.col("p_partkey").alias("r")).filter(F.col("r") < R)
    hs = (1 + F.col("r") % 4) / F.lit(16.0)
    cx = (F.col("r") % 8).cast("double") + F.lit(0.5)
    cy = (F.col("r") / 8).cast("long").cast("double") + F.lit(0.5)
    land = base.select(
        F.col("r").alias("poly_id"),
        F.array(cx - hs, cx - hs, cx + hs, cx + hs).alias("shell_x"),
        F.array(cy - hs, cy + hs, cy + hs, cy - hs).alias("shell_y"),
        F.array().cast("array<array<double>>").alias("holes_x"),
        F.array().cast("array<array<double>>").alias("holes_y"),
        F.lit(4).alias("npoints"),
        (cx - hs).alias("env_minx"),
        (cy - hs).alias("env_miny"),
        (cx + hs).alias("env_maxx"),
        (cy + hs).alias("env_maxy"),
    )
    water = drop_antimeridian_slivers(water_polygons(land, 1.0))

    def a2(xc, yc):
        # open-ring shoelace x2 (wraparound term included)
        core = F.aggregate(
            F.zip_with(
                F.slice(xc, 1, F.size(xc) - 1),
                F.slice(yc, 2, F.size(yc) - 1),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) - F.aggregate(
            F.zip_with(
                F.slice(xc, 2, F.size(xc) - 1),
                F.slice(yc, 1, F.size(yc) - 1),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        wrap = F.element_at(xc, -1) * F.element_at(yc, 1) - F.element_at(
            xc, 1
        ) * F.element_at(yc, -1)
        return core + wrap

    hole_sum = F.aggregate(
        F.zip_with(F.col("holes_x"), F.col("holes_y"), lambda hx, hy: F.abs(a2(hx, hy))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return water.select(
        "cell",
        F.size("holes_x").cast("int").alias("n_holes"),
        F.round((F.abs(a2(F.col("shell_x"), F.col("shell_y"))) - hole_sum) * 32).cast(
            "long"
        ).alias("water_area64"),
    )


def q_vectorize_water(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector: the J15 "no coastline ⇒ all water" tile set
    (reference src/coastline_polygons.cpp:322-360 emits one rectangle PER
    empty tile) merged into maximal water slabs by the scanline run-merge
    (operators/vectorize.py). Zoom-4 grid (16×16 world tiles); empty =
    no node falls in the tile."""
    from osmcoastline_spark.operators.vectorize import vectorize_cells

    nodes = _nodes(spark, sf_dir)
    n = 16
    occ = _node_cells(nodes, n).distinct()
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("tx"), (F.col("id") / n).cast("long").alias("ty")
    )
    empty = grid.join(occ, ["tx", "ty"], "left_anti")
    return vectorize_cells(empty)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_filter_ways": q_filter_ways,
        "q_semi_join": q_semi_join,
        "q_anti_join": q_anti_join,
        "q_location_join": q_location_join,
        "q_ring_assembly": q_ring_assembly,
        "q_segments_normalize": q_segments_normalize,
        "q_duplicate_segments": q_duplicate_segments,
        "q_segment_intersections": q_segment_intersections,
        "q_point_in_polygon": q_point_in_polygon,
        "q_cell_ids": q_cell_ids,
        "q_tile_grid": q_tile_grid,
        "q_water_tiles": q_water_tiles,
        "q_envelope_split": q_envelope_split,
        "q_edge_filter": q_edge_filter,
        "q_way_routing": q_way_routing,
        "q_except_diff": q_except_diff,
        "q_segment_changes": q_segment_changes,
        "q_distinct_ids": q_distinct_ids,
        "q_stats_counters": q_stats_counters,
        "q_window_agg": q_window_agg,
        "q_gap_close": q_gap_close,
        "q_questionable": q_questionable,
        "q_dedup_exact": q_dedup_exact,
        "q_minhash_signatures": q_minhash_signatures,
        "q_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_url_dedup": q_url_dedup,
        "q_simhash": q_simhash,
        "q_text_features": q_text_features,
        "q_lang_guess": q_lang_guess,
        "q_lm_familiarity": q_lm_familiarity,
        "q_stratified_sample": q_stratified_sample,
        "q_mixture_sample": q_mixture_sample,
        "q_group_sample": q_group_sample,
        "q_assign_shards": q_assign_shards,
        "q_gopher_rules": q_gopher_rules,
        "q_repetition_stats": q_repetition_stats,
        "q_decontaminate": q_decontaminate,
        "q_vocab_counts": q_vocab_counts,
        "q_duplicated_spans": q_duplicated_spans,
        "q_line_dedup": q_line_dedup,
        "q_corpus_diff": q_corpus_diff,
        "q_c4_line_filters": q_c4_line_filters,
        "q_chunk_documents": q_chunk_documents,
        "q_curation_pipeline": q_curation_pipeline,
        "q_pii_redact": q_pii_redact,
        "q_audio_features": q_audio_features,
        "q_video_frames": q_video_frames,
        "q_image_features": q_image_features,
        "q_embedding_topk": q_embedding_topk,
        "q_embedding_lsh_topk": q_embedding_lsh_topk,
        "q_embedding_lsh_exact": q_embedding_lsh_exact,
        "q_random_projection": q_random_projection,
        "q_embedding_ivf_topk": q_embedding_ivf_topk,
        "q_phash_neardup": q_phash_neardup,
        "q_quality_classifier": q_quality_classifier,
        "q_pack_sequences": q_pack_sequences,
        "q_vectorize_water": q_vectorize_water,
    }


# ----------------------------------------------------------------- oracles


def oracle_sql() -> dict[str, str]:
    seg = NORM_SEG_SQL
    px = "((" + NODE_LON + ") + 170.0) / 15.0"
    py = "((" + NODE_LAT + ") + 70.0) / 10.0"

    # unrolled even-odd ray cast over the PIP ring edges
    edges = list(zip(PIP_RING_X, PIP_RING_Y, PIP_RING_X[1:] + PIP_RING_X[:1], PIP_RING_Y[1:] + PIP_RING_Y[:1]))
    crossing_terms = " + ".join(
        f"(CASE WHEN (({y1} > py) != ({y2} > py)) AND "
        f"(px < {x1} + (py - {y1}) * ({x2} - {x1}) / ({y2} - {y1})) THEN 1 ELSE 0 END)"
        for x1, y1, x2, y2 in edges
    )

    return {
        "q_filter_ways": """
            SELECT user_id, count(*) AS n_clicks,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS click_value_micros
            FROM events
            WHERE event_type = 'click' AND props NOT LIKE '%bogus%'
            GROUP BY user_id
        """,
        "q_semi_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 1000)
            GROUP BY c_mktsegment
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
              (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "q_location_join": f"""
            WITH nodes AS ({_nodes_sql()}),
            refs AS (
              SELECT l_orderkey AS way_id, l_linenumber AS pos,
                     l_partkey % 200 AS node_id
              FROM lineitem
            ),
            pts AS (
              SELECT way_id, pos, node_id, lon, lat
              FROM refs JOIN nodes USING (node_id)
            ),
            seq AS (
              SELECT way_id, lon, lat,
                     row_number() OVER (PARTITION BY way_id ORDER BY pos, node_id, lon, lat) AS rn
              FROM pts
            ),
            -- libm-free G3 squared-degree length: dx/dy subtraction,
            -- multiply, add, floor are all IEEE correctly-rounded, and the
            -- BIGINT sum is exact in any order -> bit-identical to Spark
            segs AS (
              SELECT a.way_id,
                     CAST(floor(((b.lon - a.lon) * (b.lon - a.lon)
                               + (b.lat - a.lat) * (b.lat - a.lat))
                               * 1000000.0 + 0.5) AS BIGINT) AS m
              FROM seq a JOIN seq b ON a.way_id = b.way_id AND b.rn = a.rn + 1
            ),
            np AS (SELECT way_id, count(*) AS npoints FROM seq GROUP BY way_id)
            SELECT np.way_id, CAST(np.npoints AS INT) AS npoints,
                   CAST(coalesce(s.len, 0) AS BIGINT) AS length_q
            FROM np LEFT JOIN (SELECT way_id, sum(m) AS len FROM segs GROUP BY way_id) s
            USING (way_id)
        """,
        "q_ring_assembly": """
            WITH r AS (SELECT p_partkey AS r FROM part WHERE p_partkey < greatest((SELECT count(*) FROM part) // 2, 8))
            SELECT CAST((r // 7) * 28 + (r % 7) * ((r % 7) + 1) // 2 + 1 AS BIGINT) AS ring_id,
                   CAST((r % 7) + 1 AS INT) AS nways,
                   CAST(2 * ((r % 7) + 1) + 1 AS INT) AS npoints
            FROM r
        """,
        "q_segments_normalize": seg + "SELECT x1, y1, x2, y2 FROM norm",
        "q_duplicate_segments": seg
        + "SELECT x1, y1, x2, y2, count(*) AS k FROM norm GROUP BY 1,2,3,4 HAVING count(*) > 1",
        "q_segment_intersections": """
            WITH n AS (SELECT CAST(greatest(floor(sqrt((SELECT count(*) FROM part))), 4) AS BIGINT) AS h),
            ids AS (SELECT p_partkey AS i FROM part),
            hs AS (SELECT i FROM ids, n WHERE i < n.h),
            vs AS (SELECT i FROM ids, n WHERE i < n.h)
            SELECT round(v.i * 0.01 + 0.003, 9) AS ix,
                   round(h.i * 0.01 + 0.005, 9) AS iy
            FROM hs h CROSS JOIN vs v
            -- a pair crosses only while the vertical's x is inside the
            -- horizontals' span [0,1] and the horizontal's y inside the
            -- verticals' span [-1,2]; beyond H=100 the grid outgrows the
            -- span and the naive all-pairs count overshoots (sf0.1 bug)
            WHERE v.i * 0.01 + 0.003 <= 1.0
              AND h.i * 0.01 + 0.005 >= -1.0
              AND h.i * 0.01 + 0.005 <= 2.0
        """,
        "q_point_in_polygon": f"""
            WITH pts AS (
              SELECT p_partkey AS node_id, {px} AS px, {py} AS py FROM part
            )
            SELECT node_id, CAST(({crossing_terms}) % 2 AS INT) AS inside FROM pts
        """,
        "q_cell_ids": f"""
            WITH nodes AS ({_nodes_sql()})
            SELECT (CAST(floor((lon + 180.0) / 5.0) AS BIGINT) * 1000000
                    + CAST(floor((lat + 90.0) / 5.0) AS BIGINT)) AS cell,
                   count(*) AS n
            FROM nodes GROUP BY 1
        """,
        "q_tile_grid": f"""
            WITH nodes AS ({_nodes_sql()})
            SELECT least(7, CAST(floor((lon + 180.0) / 45.0) AS BIGINT)) AS tx,
                   least(7, CAST(floor((lat + 90.0) / 22.5) AS BIGINT)) AS ty,
                   count(*) AS n
            FROM nodes GROUP BY 1, 2
        """,
        "q_water_tiles": """
            WITH r AS (
              SELECT p_partkey AS r FROM part
              WHERE p_partkey < least(greatest((SELECT count(*) FROM part) // 50, 8), 40)
            ),
            m AS (SELECT r, 1 + (r % 4) AS m FROM r)
            SELECT CAST((180 + (r % 8)) * 1000000 + (90 + (r // 8)) AS BIGINT) AS cell,
                   1 AS n_holes,
                   CAST(64 - m * m AS BIGINT) AS water_area64
            FROM m
        """,
        "q_envelope_split": f"""
            WITH nodes AS ({_nodes_sql()}),
            env AS (
              SELECT node_id % 50 AS grp, min(lon) AS minx, min(lat) AS miny,
                     max(lon) AS maxx, max(lat) AS maxy
              FROM nodes GROUP BY 1
            )
            SELECT grp,
                   CASE WHEN (maxx - minx) >= (maxy - miny) THEN 0 ELSE 1 END AS axis,
                   round(CASE WHEN (maxx - minx) >= (maxy - miny)
                         THEN (maxx + minx) / 2.0 ELSE (maxy + miny) / 2.0 END, 9) AS mid
            FROM env
        """,
        "q_edge_filter": seg
        + """
            SELECT x1, y1, x2, y2 FROM norm
            WHERE NOT ((y1 < -85.049 AND y2 < -85.049)
                    OR (x1 > 179.9999 AND x2 > 179.9999)
                    OR (x1 < -179.9999 AND x2 < -179.9999))
              AND x1 < -25.0
        """,
        "q_way_routing": """
            WITH seq AS (
              SELECT l_orderkey AS way_id, l_partkey,
                     row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn,
                     count(*) OVER (PARTITION BY l_orderkey) AS np
              FROM lineitem
            ),
            ends AS (
              SELECT way_id, np,
                     max(CASE WHEN rn = 1 THEN l_partkey END) AS first_id,
                     max(CASE WHEN rn = np THEN l_partkey END) AS last_id
              FROM seq GROUP BY way_id, np
            )
            SELECT CASE WHEN first_id != last_id THEN 'not_closed'
                        WHEN np > 3 THEN 'polygon'
                        WHEN np = 1 THEN 'single_point_in_ring'
                        ELSE 'not_a_ring' END AS route,
                   count(*) AS n
            FROM ends GROUP BY 1
        """,
        "q_except_diff": seg
        + """
            , old AS (SELECT * FROM norm WHERE (x1 + y1) % 3 < 2),
            new AS (SELECT * FROM norm WHERE (x2 + y2) % 3 < 2),
            rem AS (SELECT 'removed' AS change, count(*) AS n FROM
                    (SELECT * FROM old EXCEPT ALL SELECT * FROM new)),
            add_ AS (SELECT 'added' AS change, count(*) AS n FROM
                    (SELECT * FROM new EXCEPT ALL SELECT * FROM old))
            SELECT * FROM rem UNION ALL SELECT * FROM add_
        """,
        "q_segment_changes": seg
        + """
            , old AS (SELECT * FROM norm WHERE (x1 + y1) % 3 < 2),
            new AS (SELECT * FROM norm WHERE (x2 + y2) % 3 < 2)
            SELECT 0 AS change, * FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
            UNION ALL
            SELECT 1 AS change, * FROM (SELECT * FROM new EXCEPT ALL SELECT * FROM old)
        """,
        "q_distinct_ids": """
            SELECT DISTINCT l_partkey % 500 AS node_id FROM lineitem WHERE l_quantity > 25
        """,
        "q_stats_counters": """
            SELECT (SELECT count(*) FROM lineitem) AS num_lineitems,
                   (SELECT count(*) FROM orders) AS num_orders,
                   (SELECT count(*) FROM lineitem WHERE l_returnflag = 'R') AS num_returned
        """,
        "q_window_agg": """
            SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket,
                   event_type, count(*) AS n,
                   CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_micros
            FROM events GROUP BY 1, 2
        """,
        "q_dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "q_minhash_signatures": """
            WITH sh AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
              FROM documents WHERE doc_id % 10 = 0
            ),
            shingle AS (SELECT doc_id, substring(text, CAST(i AS INT), 5) AS s FROM sh),
            bands AS (SELECT doc_id, s, unnest(generate_series(0, 3)) AS band FROM shingle)
            SELECT doc_id, CAST(band AS INT) AS band,
                   min(md5(s || '#' || band)) AS sig
            FROM bands GROUP BY doc_id, band
        """,
        "q_minhash_lsh_pairs": """
            WITH sh AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i
              FROM documents WHERE doc_id % 10 = 0
            ),
            shingle AS (SELECT doc_id, substring(text, CAST(i AS INT), 5) AS s FROM sh),
            bands AS (SELECT doc_id, s, unnest(generate_series(0, 3)) AS band FROM shingle),
            sigs AS (
              SELECT doc_id, band, min(md5(s || '#' || band)) AS sig
              FROM bands GROUP BY doc_id, band
            ),
            keys AS (
              SELECT doc_id, band // 2 AS lsh_band,
                     string_agg(band || ':' || sig, '|' ORDER BY band || ':' || sig) AS key
              FROM sigs GROUP BY doc_id, band // 2
            )
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM keys a JOIN keys b ON a.lsh_band = b.lsh_band AND a.key = b.key
            WHERE a.doc_id < b.doc_id
        """,
        "q_ngram_jaccard": """
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
            ),
            alldocs AS (
              SELECT doc_id, text FROM base
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     substring(text, 1, greatest(length(text) - 40, 16)) AS text
              FROM base
            ),
            sh AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
              FROM alldocs
            ),
            shingle0 AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 8) AS s FROM sh),
            df AS (SELECT s FROM shingle0 GROUP BY s HAVING count(*) <= 1000),
            shingle AS (SELECT doc_id, s FROM shingle0 JOIN df USING (s)),
            sizes AS (SELECT doc_id, count(*) AS nsh FROM shingle GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
              FROM shingle a JOIN shingle b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i) >= 0.2
        """,
        # full canonicalization chain re-implemented in DuckDB string
        # builtins; naive-window domain ranks cross-check the salted
        # two-phase top-N
        "q_url_dedup": """
            WITH raw AS (
              SELECT doc_id, n_chars,
                     (CASE WHEN doc_id % 3 = 0 THEN 'http'
                           WHEN doc_id % 3 = 1 THEN 'https'
                           ELSE 'HTTPS' END)
                     || '://WWW.h' || CAST(doc_id % 7 AS VARCHAR) || '-Example.COM'
                     || (CASE WHEN doc_id % 4 = 0 AND doc_id % 3 = 0 THEN ':80'
                              WHEN doc_id % 4 = 0 THEN ':443'
                              WHEN doc_id % 4 = 1 THEN ':8080'
                              ELSE '' END)
                     || '/Docs/' || CAST(doc_id % 50 AS VARCHAR)
                     || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                     || '?'
                     || (CASE WHEN doc_id % 2 = 0
                              THEN 'utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR) || '&gclid=xyz'
                              ELSE 'id=' || CAST(doc_id % 25 AS VARCHAR) END)
                     || (CASE WHEN doc_id % 5 = 0 THEN '#Section2' ELSE '' END)
                     AS url
              FROM documents
            ),
            s1 AS (
              SELECT doc_id, n_chars, split_part(url, '#', 1) AS u FROM raw
            ),
            s2 AS (
              SELECT doc_id, n_chars,
                     split_part(u, '?', 1) AS base,
                     CASE WHEN strpos(u, '?') > 0
                          THEN substring(u, strpos(u, '?') + 1) ELSE '' END AS qs
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, n_chars, qs,
                     lower(split_part(base, '://', 1)) AS scheme,
                     substring(base, strpos(base, '://') + 3) AS rest
              FROM s2
            ),
            s4 AS (
              SELECT doc_id, n_chars, qs, scheme,
                     lower(split_part(rest, '/', 1)) AS hp0,
                     substring(rest, length(split_part(rest, '/', 1)) + 1) AS path0
              FROM s3
            ),
            s5 AS (
              SELECT doc_id, n_chars, qs, scheme,
                     CASE WHEN scheme = 'http' AND hp0 LIKE '%:80'
                          THEN left(hp0, length(hp0) - 3)
                          WHEN scheme = 'https' AND hp0 LIKE '%:443'
                          THEN left(hp0, length(hp0) - 4)
                          ELSE hp0 END AS hostport,
                     CASE WHEN path0 LIKE '%/'
                          THEN left(path0, length(path0) - 1)
                          ELSE path0 END AS path
              FROM s4
            ),
            s6 AS (
              SELECT doc_id, n_chars, scheme, hostport, path,
                     array_to_string(list_filter(string_split(qs, '&'),
                       t -> NOT (t = '' OR left(t, 4) = 'utm_'
                                 OR left(t, 7) = 'fbclid='
                                 OR left(t, 6) = 'gclid='
                                 OR left(t, 4) = 'ref=')), '&') AS q2
              FROM s5
            ),
            canon AS (
              SELECT doc_id, n_chars,
                     scheme || '://' || hostport || path
                       || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END
                       AS canonical_url,
                     CASE WHEN left(h2, 4) = 'www.' THEN substring(h2, 5) ELSE h2 END AS host
              FROM (SELECT *, split_part(hostport, ':', 1) AS h2 FROM s6)
            ),
            dom AS (
              SELECT doc_id, n_chars, canonical_url,
                     CASE WHEN len(parts) >= 2
                          THEN parts[-2] || '.' || parts[-1] ELSE host END AS domain
              FROM (SELECT *, string_split(host, '.') AS parts FROM canon)
            ),
            winners AS (
              SELECT canonical_url, min(doc_id) AS keep_id,
                     CAST(count(*) AS BIGINT) AS dup_count
              FROM dom GROUP BY canonical_url
            ),
            kept AS (
              SELECT d.doc_id, d.n_chars, d.canonical_url, d.domain, w.dup_count
              FROM dom d JOIN winners w
                ON d.canonical_url = w.canonical_url AND d.doc_id = w.keep_id
            ),
            ranked AS (
              SELECT doc_id, canonical_url, domain, dup_count,
                     CAST(row_number() OVER (
                       PARTITION BY domain ORDER BY n_chars DESC, doc_id
                     ) AS INT) AS domain_rank
              FROM kept
            )
            SELECT doc_id, canonical_url, domain, dup_count, domain_rank
            FROM ranked WHERE domain_rank <= 10
        """,
        "q_simhash": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
              FROM documents WHERE doc_id % 10 = 0
            ),
            h AS (
              SELECT doc_id, substring(md5(tok), 1, 16) AS hx
              FROM toks WHERE length(tok) > 0
            ),
            bits AS (
              SELECT doc_id,
                     unnest(generate_series(0, 63)) AS bitpos, hx
              FROM h
            ),
            contrib AS (
              SELECT doc_id, bitpos,
                     2 * ((CAST(instr('0123456789abcdef',
                                substring(hx, CAST(bitpos // 4 AS INT) + 1, 1)) - 1 AS BIGINT)
                           >> CAST(3 - bitpos % 4 AS INT)) & 1) - 1 AS c
              FROM bits
            ),
            sums AS (SELECT doc_id, bitpos, sum(c) AS s FROM contrib GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN
                     CASE WHEN bitpos = 63 THEN -9223372036854775808
                          ELSE (1::BIGINT << CAST(bitpos AS INT)) END
                   ELSE 0 END) AS BIGINT) AS simhash
            FROM sums GROUP BY doc_id
        """,
        "q_lang_guess": _LANG_SQL,
        "q_text_features": _TEXT_FEATURES_SQL,
        "q_lm_familiarity": _LM_FAMILIARITY_SQL,
        "q_stratified_sample": _STRATIFIED_SAMPLE_SQL,
        "q_mixture_sample": _MIXTURE_SAMPLE_SQL,
        # naive-window twins for the two-phase / two-pass Spark forms
        "q_group_sample": """
            SELECT doc_id, source, sample_rank FROM (
              SELECT doc_id, source,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('gsk:' || CAST(doc_id AS VARCHAR)), doc_id
                     ) AS INT) AS sample_rank
              FROM documents
            ) WHERE sample_rank <= 5
        """,
        "q_assign_shards": """
            SELECT doc_id, n_chars,
                   CAST(floor(CAST(COALESCE(sum(n_chars) OVER (
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS DOUBLE) / 2000.0) AS BIGINT) AS shard
            FROM documents
        """,
        "q_gopher_rules": _GOPHER_RULES_SQL,
        "q_repetition_stats": _REPETITION_SQL,
        "q_decontaminate": _DECONTAMINATE_SQL,
        "q_vocab_counts": _VOCAB_COUNTS_SQL,
        "q_duplicated_spans": _DUPLICATED_SPANS_SQL,
        "q_line_dedup": _LINE_DEDUP_SQL,
        "q_corpus_diff": """
            WITH old AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
            new AS (
              SELECT doc_id,
                     md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS new_hash
              FROM documents WHERE doc_id % 31 <> 0
              UNION ALL
              SELECT doc_id + 2000000 AS doc_id, md5(text) AS new_hash
              FROM documents WHERE doc_id % 37 = 0
            ),
            j AS (
              SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, o.old_hash, n.new_hash
              FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            )
            SELECT doc_id,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash <> new_hash THEN 'changed' END AS status,
                   old_hash, new_hash
            FROM j
            WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
        """,
        "q_c4_line_filters": _C4_LINE_FILTERS_SQL,
        "q_chunk_documents": _CHUNK_DOCUMENTS_SQL,
        "q_curation_pipeline": _CURATION_PIPELINE_SQL,
        "q_pii_redact": _PII_REDACT_SQL,
        "q_audio_features": _AUDIO_FEATURES_SQL,
        "q_video_frames": _VIDEO_FRAMES_SQL,
        "q_image_features": _IMAGE_FEATURES_SQL,
        "q_embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 100 = 0),
            v AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS nv FROM embeddings),
            scored AS (
              SELECT query_id, nbr_id,
                     round(list_inner_product(qv, nv) /
                           (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(nv, nv))), 6) AS cos
              FROM q CROSS JOIN v WHERE query_id != nbr_id
            ),
            ranked AS (
              SELECT query_id, nbr_id, cos,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
        """,
        # Both LSH rows are full value-hash oracled (round-5 VERDICT #2):
        # every float-seeded step is replaced with portable arithmetic —
        # integer quantization (float32→double is exact, then one rounded
        # multiply+floor), md5-hex-parity ±1 planes, exact int64 bucket
        # sums, and a cosine whose double expression shape
        # dot/(sqrt(na)*sqrt(nb)) is single-rounded identically everywhere.
        # q_embedding_lsh_topk = wide-band config (3 tables × 4 bits);
        # q_embedding_lsh_exact = 2 × 6.
        "q_embedding_lsh_topk": """
            WITH emb AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
            ),
            e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) AS d1,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
              FROM emb
            ),
            signs AS (
              SELECT t.range AS t, b.range AS b, d.range AS d,
                     CASE WHEN strpos('02468ace',
                            substring(md5(concat(t.range, ':', b.range, ':', d.range)), 1, 1)) > 0
                          THEN 1 ELSE -1 END AS s
              FROM range(0, 3) t, range(0, 4) b, range(0, 64) d
            ),
            bits AS (
              SELECT e.vec_id, s.t, s.b,
                     CASE WHEN sum(s.s * e.q) > 0 THEN 1 ELSE 0 END AS bit
              FROM e JOIN signs s ON s.d = e.d1 - 1
              GROUP BY 1, 2, 3
            ),
            buckets AS (
              SELECT vec_id, t, sum(bit * (1::BIGINT << b)) AS bk
              FROM bits GROUP BY 1, 2
            ),
            norms AS (SELECT vec_id, sum(q * q) AS nq FROM e GROUP BY 1),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS nbr_id
              FROM buckets a JOIN buckets b ON a.t = b.t AND a.bk = b.bk
              WHERE a.vec_id <> b.vec_id
            ),
            dots AS (
              SELECT c.query_id, c.nbr_id, sum(ea.q * eb.q) AS dq
              FROM cand c
              JOIN e ea ON ea.vec_id = c.query_id
              JOIN e eb ON eb.vec_id = c.nbr_id AND eb.d1 = ea.d1
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT d.query_id, d.nbr_id,
                     CAST(d.dq AS DOUBLE)
                       / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
              FROM dots d
              JOIN norms na ON na.vec_id = d.query_id
              JOIN norms nb ON nb.vec_id = d.nbr_id
            ),
            ranked AS (
              SELECT query_id, nbr_id, cos,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "q_random_projection": """
            WITH e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) AS d1,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
              FROM embeddings
            ),
            signs AS (
              SELECT j.range AS j, d.range AS d,
                     CASE WHEN strpos('02468ace',
                            substring(md5(concat('rp:0:', j.range, ':', d.range)), 1, 1)) > 0
                          THEN 1 ELSE -1 END AS s
              FROM range(0, 16) j, range(0, 64) d
            ),
            p AS (
              SELECT e.vec_id, s.j, CAST(sum(s.s * e.q) AS BIGINT) AS y_int
              FROM e JOIN signs s ON s.d = e.d1 - 1
              GROUP BY 1, 2
            )
            SELECT vec_id, CAST(j AS INT) AS dim_idx, y_int,
                   CAST(y_int AS DOUBLE) / 4000000.0 AS y
            FROM p
        """,
        "q_embedding_lsh_exact": """
            WITH emb AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
            ),
            e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) AS d1,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
              FROM emb
            ),
            signs AS (
              SELECT t.range AS t, b.range AS b, d.range AS d,
                     CASE WHEN strpos('02468ace',
                            substring(md5(concat(t.range, ':', b.range, ':', d.range)), 1, 1)) > 0
                          THEN 1 ELSE -1 END AS s
              FROM range(0, 2) t, range(0, 6) b, range(0, 64) d
            ),
            bits AS (
              SELECT e.vec_id, s.t, s.b,
                     CASE WHEN sum(s.s * e.q) > 0 THEN 1 ELSE 0 END AS bit
              FROM e JOIN signs s ON s.d = e.d1 - 1
              GROUP BY 1, 2, 3
            ),
            buckets AS (
              SELECT vec_id, t, sum(bit * (1::BIGINT << b)) AS bk
              FROM bits GROUP BY 1, 2
            ),
            norms AS (SELECT vec_id, sum(q * q) AS nq FROM e GROUP BY 1),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS nbr_id
              FROM buckets a JOIN buckets b ON a.t = b.t AND a.bk = b.bk
              WHERE a.vec_id <> b.vec_id
            ),
            dots AS (
              SELECT c.query_id, c.nbr_id, sum(ea.q * eb.q) AS dq
              FROM cand c
              JOIN e ea ON ea.vec_id = c.query_id
              JOIN e eb ON eb.vec_id = c.nbr_id AND eb.d1 = ea.d1
              GROUP BY 1, 2
            ),
            scored AS (
              SELECT d.query_id, d.nbr_id,
                     CAST(d.dq AS DOUBLE)
                       / (sqrt(CAST(na.nq AS DOUBLE)) * sqrt(CAST(nb.nq AS DOUBLE))) AS cos
              FROM dots d
              JOIN norms na ON na.vec_id = d.query_id
              JOIN norms nb ON nb.vec_id = d.nbr_id
            ),
            ranked AS (
              SELECT query_id, nbr_id, cos,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "q_gap_close": """
            WITH r AS (
              SELECT p_partkey AS r FROM part
              WHERE p_partkey < greatest(least((SELECT count(*) FROM part), 5000) // 2, 8)
            )
            SELECT CAST(1000 + r * 2 AS BIGINT) AS ring_id,
                   2 AS nways,
                   CAST(CASE WHEN r % 3 = 0 THEN 5 ELSE 6 END AS INT) AS npoints,
                   CAST(CASE WHEN r % 3 = 0 THEN 0 ELSE 1 END AS INT) AS closed,
                   1 AS fixed
            FROM r
        """,
        "q_questionable": """
            WITH i AS (
              SELECT p_partkey AS i FROM part
              WHERE p_partkey < greatest(least((SELECT count(*) FROM part), 20000) // 2, 8)
            )
            SELECT CAST(i AS BIGINT) AS osm_id, 'questionable' AS error
            FROM i WHERE i % 2 = 1
        """,
        "q_embedding_ivf_topk": """
            WITH e AS (
              SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id % 10 = 0
            ),
            idx AS (
              SELECT vec_id, v,
                     unnest(generate_series(1, len(v))) AS i
              FROM e
            ),
            comp AS (
              SELECT vec_id, v, i, abs(v[i]) AS a,
                     CASE WHEN v[i] > 0 THEN i * 2 + 1 ELSE i * 2 END AS cell
              FROM idx
            ),
            rd AS (
              SELECT vec_id, v, cell,
                     row_number() OVER (PARTITION BY vec_id ORDER BY a DESC, i DESC) AS r
              FROM comp
            ),
            lists AS (SELECT vec_id AS nbr_id, cell FROM rd WHERE r = 1),
            probes AS (SELECT vec_id AS query_id, cell FROM rd WHERE r <= 2),
            cands AS (
              SELECT DISTINCT query_id, nbr_id
              FROM probes JOIN lists USING (cell)
              WHERE query_id != nbr_id
            ),
            scored AS (
              SELECT c.query_id, c.nbr_id,
                     round(list_inner_product(q.v, n.v) /
                           (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(n.v, n.v))), 6) AS cos
              FROM cands c
              JOIN e q ON q.vec_id = c.query_id
              JOIN e n ON n.vec_id = c.nbr_id
            ),
            ranked AS (
              SELECT query_id, nbr_id, cos,
                     row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, nbr_id, cos, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
        """,
        "q_phash_neardup": _PHASH_NEARDUP_SQL,
        "q_quality_classifier": _QUALITY_SQL,
        "q_pack_sequences": _PACK_SEQUENCES_SQL,
        # raster→vector scanline run-merge over the J15 empty-tile water
        # set — the window twin of operators/vectorize.py:vectorize_cells
        "q_vectorize_water": f"""
WITH nodes AS ({_nodes_sql()}),
occ AS (SELECT DISTINCT
          least(15, CAST(floor((lon + 180.0) / 22.5) AS BIGINT)) AS tx,
          least(15, CAST(floor((lat + 90.0) / 11.25) AS BIGINT)) AS ty
        FROM nodes),
grid AS (SELECT gx.x AS tx, gy.y AS ty
         FROM generate_series(0, 15) gx(x) CROSS JOIN generate_series(0, 15) gy(y)),
empty AS (SELECT tx, ty FROM grid g
          WHERE NOT EXISTS (SELECT 1 FROM occ o WHERE o.tx = g.tx AND o.ty = g.ty)),
r0 AS (SELECT ty AS y, tx AS x,
              CASE WHEN lag(tx) OVER w IS NULL OR tx - lag(tx) OVER w > 1
                   THEN 1 ELSE 0 END AS s
       FROM empty WINDOW w AS (PARTITION BY ty ORDER BY tx)),
r1 AS (SELECT y, x,
              sum(s) OVER (PARTITION BY y ORDER BY x ROWS UNBOUNDED PRECEDING) AS run
       FROM r0),
runs AS (SELECT y, run, min(x) AS x1, max(x) AS x2 FROM r1 GROUP BY y, run),
v0 AS (SELECT x1, x2, y,
              CASE WHEN lag(y) OVER w2 IS NULL OR y - lag(y) OVER w2 > 1
                   THEN 1 ELSE 0 END AS s
       FROM runs WINDOW w2 AS (PARTITION BY x1, x2 ORDER BY y)),
v1 AS (SELECT x1, x2, y,
              sum(s) OVER (PARTITION BY x1, x2 ORDER BY y ROWS UNBOUNDED PRECEDING) AS vrun
       FROM v0)
SELECT x1, min(y) AS y1, x2, max(y) AS y2,
       CAST((x2 - x1 + 1) * (max(y) - min(y) + 1) AS BIGINT) AS ncells
FROM v1 GROUP BY x1, x2, vrun""",
    }


# phash near-dup twin: the banded multi-index is LOSSLESS for d < n_bands,
# so the oracle is the definitional brute-force all-pairs Hamming scan.
_PH_PIECES = (
    "( (doc_id * 2654435761 + 97) % 32768"
    " + ((doc_id * 2246822519 + 193) % 32768) * 32768"
    " + ((doc_id * 3266489917 + 389) % 32768) * 1073741824"
    " + ((doc_id * 668265263 + 769) % 32768) * 35184372088832 )"
)

_PHASH_NEARDUP_SQL = f"""
    WITH base AS (
      SELECT doc_id AS image_id, {_PH_PIECES} AS phash FROM documents
    ),
    cp AS (
      SELECT doc_id + 500000 AS image_id,
             xor({_PH_PIECES},
                 xor(CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT),
                     CAST(1 AS BIGINT) << CAST((doc_id * 13 + 7) % 60 AS INT))) AS phash
      FROM documents WHERE doc_id % 7 = 0
    ),
    imgs AS (SELECT * FROM base UNION ALL SELECT * FROM cp)
    SELECT a.image_id AS a, b.image_id AS b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM imgs a JOIN imgs b ON a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


# quality-classifier twin: same tokenizer as the repetition twin, same
# md5-hexval weight arithmetic; list_sum([]) is NULL in DuckDB, hence the
# COALESCE (Spark's aggregate init gives 0 directly)
_QUALITY_SQL = r"""
WITH f AS (
  SELECT doc_id,
         list_concat(
           list_filter(t, x -> length(x) > 0),
           CASE WHEN len(t) >= 2
                THEN list_transform(generate_series(1, len(t) - 1),
                                    i -> t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)])
                ELSE [] END
         ) AS feats
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
),
s AS (
  SELECT doc_id, CAST(len(feats) AS INT) AS n_features,
         CAST(COALESCE(list_sum(list_transform(feats,
              f -> (instr('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 2 - 15)), 0) AS BIGINT) AS score_num
  FROM f
)
SELECT doc_id, n_features, score_num,
       CASE WHEN n_features > 0
            THEN CAST(score_num AS DOUBLE) / CAST(n_features AS DOUBLE)
            ELSE 0.0 END AS score,
       (score_num > 0) AS pass_quality
FROM s
"""


# language-guess SQL twin (marker counting via replace-length trick)
def _marker_count(marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"CAST((length(' ' || lower(text) || ' ') - "
        f"length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(marker)} AS INT)"
    )


_LANG_SCORES = {
    lang: " + ".join(_marker_count(m) for m in markers)
    for lang, markers in T.LANG_MARKERS.items()
}

_LANG_SQL = f"""
WITH scores AS (
  SELECT doc_id,
         {_LANG_SCORES['de']} AS s_de,
         {_LANG_SCORES['en']} AS s_en,
         {_LANG_SCORES['es']} AS s_es,
         {_LANG_SCORES['fr']} AS s_fr
  FROM documents
),
mx AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
              greatest(s_de, s_en, s_es, s_fr) AS m FROM scores)
SELECT doc_id,
       CASE WHEN m <= 0 THEN 'und'
            WHEN s_de = m THEN 'de'
            WHEN s_en = m THEN 'en'
            WHEN s_es = m THEN 'es'
            ELSE 'fr' END AS lang_guess
FROM mx
"""

_STOP_LIST = ", ".join(f"'{w}'" for w in T.STOPWORDS)

_TEXT_FEATURES_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
tokstats AS (
  SELECT doc_id,
         count(*) AS tokens,
         sum(CASE WHEN lower(tok) IN ({_STOP_LIST}) THEN 1 ELSE 0 END) AS stops
  FROM toks WHERE length(tok) > 0 GROUP BY doc_id
),
feat AS (
  SELECT d.doc_id,
         coalesce(t.tokens, 0) AS tokens,
         length(regexp_replace(
           regexp_replace(d.text, '[A-Za-z0-9]+|[^\\sA-Za-z0-9]', chr(1), 'g'),
           '[^' || chr(1) || ']', '', 'g')) AS word_units,
         CASE WHEN length(d.text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(d.text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                   / length(d.text) END AS praw,
         CASE WHEN coalesce(t.tokens, 0) = 0 THEN 0.0
              ELSE CAST(coalesce(t.stops, 0) AS DOUBLE) / t.tokens END AS sraw,
         length(d.text) AS n
  FROM documents d LEFT JOIN tokstats t USING (doc_id)
),
fp AS (
  SELECT doc_id,
         CAST(sum(CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT)
              * CASE (i - 1) % 8
                  WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 WHEN 3 THEN 29791
                  WHEN 4 THEN 923521 WHEN 5 THEN 28629151 WHEN 6 THEN 887503681
                  ELSE 27512614111 END) % 1000000007 AS BIGINT) AS fingerprint
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text), 1))) AS i
    FROM documents
  ) WHERE length(text) > 0
  GROUP BY doc_id
)
SELECT f.doc_id,
       CAST(f.tokens AS INT) AS tokens,
       CAST(f.word_units AS INT) AS word_units,
       round(f.praw, 6) AS punct_ratio,
       round((least(CAST(f.n AS DOUBLE) / 200.0, 1.0)
              + greatest(0.0, 1.0 - f.praw * 4.0)
              + least(f.sraw * 5.0, 1.0)) / 3.0, 6) AS quality,
       coalesce(fp.fingerprint, 0) AS fingerprint
FROM feat f LEFT JOIN fp USING (doc_id)
"""

# corpus-LM familiarity twin: identical trigram model + exact BIGINT numer
# (DuckDB sum() returns HUGEINT -> cast back so the division operands match)
_LM_FAMILIARITY_SQL = """
WITH g AS (
  SELECT doc_id, substring(text, CAST(i AS INT), 3) AS gram
  FROM (
    SELECT doc_id, text, unnest(generate_series(1, length(text) - 2)) AS i
    FROM documents WHERE length(text) >= 3
  )
),
model AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
totals AS (SELECT CAST(sum(c) AS BIGINT) AS t_total, count(*) AS vocab FROM model),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams, CAST(sum(c + 1) AS BIGINT) AS numer
  FROM g JOIN model USING (gram)
  GROUP BY doc_id
)
SELECT doc_id, n_grams,
       CAST(numer AS DOUBLE) * 1000000
         / (CAST(n_grams AS DOUBLE) * CAST(t_total + vocab AS DOUBLE)) AS mean_p_ppm
FROM per_doc CROSS JOIN totals
"""

# stratified-sampler twin: thresholds generated from the SAME rate table the
# Spark operator uses (curate.DEFAULT_MIX), so the two can never drift
_MIX_CASE = "CASE lang " + " ".join(
    f"WHEN '{stratum}' THEN '{C._mix_threshold_hex(rate)}'"
    for stratum, rate in sorted(C.DEFAULT_MIX.items())
) + " ELSE '00000000' END"

_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < {_MIX_CASE}
"""

# mixture_sample twin: same IEEE op order as curate.mixture_sample —
# (CAST(budget) * CAST(w)) / CAST(tok), floor/frac threshold, 32-bit md5
# prefix as the sum over its first 8 hex digits of (instr('0123456789abcdef',
# digit) − 1) << 4·(8 − i), exact BIGINT arithmetic. Weight literals are CAST
# AS DOUBLE because bare 0.2 is DECIMAL in DuckDB.
_MIX_W_CASE = " ".join(
    f"WHEN '{s}' THEN CAST({w!r} AS DOUBLE)" for s, w in sorted(MIX_WEIGHTS.items())
)
_MIXTURE_SAMPLE_SQL = f"""
WITH totals AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok FROM documents GROUP BY source
),
j AS (
  SELECT d.doc_id, d.source, d.n_chars,
         (CAST({MIX_BUDGET} AS DOUBLE)
          * (CASE d.source {_MIX_W_CASE} ELSE CAST(0.0 AS DOUBLE) END))
          / CAST(t.tok AS DOUBLE) AS rate,
         list_sum(list_transform(generate_series(1, 8),
           i -> (CAST(instr('0123456789abcdef',
                      substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), i, 1)) - 1
                 AS BIGINT) << CAST(4 * (8 - i) AS INT)))) AS u32
  FROM documents d JOIN totals t USING (source)
),
n AS (
  SELECT doc_id, source, n_chars,
         CAST(floor(rate) AS BIGINT)
         + CASE WHEN u32 < CAST(floor((rate - floor(rate)) * 4294967296.0) AS BIGINT)
                THEN 1 ELSE 0 END AS n_copies
  FROM j
)
SELECT doc_id, source, n_chars, CAST(t.e AS INT) AS epoch
FROM n, unnest(generate_series(1, n_copies)) AS t(e)
"""

# gopher-rules twin: thresholds mirror curate.gopher_rules (150 / [3.0,4.6]
# / 0.04); r_lang is "any marker language scores > 0", i.e. lang != 'und'
_GOPHER_RULES_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
tokstats AS (
  SELECT doc_id,
         count(*) AS tokens,
         sum(CASE WHEN lower(tok) IN ({_STOP_LIST}) THEN 1 ELSE 0 END) AS stops
  FROM toks WHERE length(tok) > 0 GROUP BY doc_id
),
feat AS (
  SELECT d.doc_id,
         length(d.text) AS n,
         coalesce(t.tokens, 0) AS tokens,
         CASE WHEN coalesce(t.tokens, 0) = 0 THEN 0.0
              ELSE CAST(coalesce(t.stops, 0) AS DOUBLE) / t.tokens END AS sraw,
         length(regexp_replace(d.text, '[^A-Za-z]', '', 'g')) AS alpha,
         CASE WHEN length(d.text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(d.text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                   / length(d.text) END AS praw,
         greatest({_LANG_SCORES['de']}, {_LANG_SCORES['en']},
                  {_LANG_SCORES['es']}, {_LANG_SCORES['fr']}) AS lang_m
  FROM documents d LEFT JOIN tokstats t USING (doc_id)
),
rules AS (
  SELECT doc_id,
         CASE WHEN tokens > 0 THEN CAST(alpha AS DOUBLE) / tokens ELSE 0.0 END AS mwl,
         praw, sraw, n, lang_m
  FROM feat
)
SELECT doc_id,
       mwl AS mean_word_len,
       praw AS punct_ratio,
       CASE WHEN n >= 150 THEN 1 ELSE 0 END AS r_len,
       CASE WHEN mwl >= 3.0 AND mwl <= 4.6 THEN 1 ELSE 0 END AS r_mwl,
       CASE WHEN sraw >= 0.04 THEN 1 ELSE 0 END AS r_stop,
       CASE WHEN lang_m > 0 THEN 1 ELSE 0 END AS r_lang,
       (CASE WHEN n >= 150 THEN 1 ELSE 0 END)
       * (CASE WHEN mwl >= 3.0 AND mwl <= 4.6 THEN 1 ELSE 0 END)
       * (CASE WHEN sraw >= 0.04 THEN 1 ELSE 0 END)
       * (CASE WHEN lang_m > 0 THEN 1 ELSE 0 END) AS pass_all
FROM rules
"""

# repetition twin: exact integer counts, one IEEE division per fraction;
# thresholds mirror curate.repetition_stats (0.5 / 0.08)
_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
wagg AS (
  SELECT doc_id, count(*) AS tokens, count(DISTINCT tok) AS distinct_tokens
  FROM toks WHERE length(tok) > 0 GROUP BY doc_id
),
g AS (
  SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS gram
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    WHERE len(t) >= 2
  )
),
pc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
bagg AS (
  SELECT doc_id, max(c) AS top_bigram, CAST(sum(c) AS BIGINT) AS bigrams
  FROM pc GROUP BY doc_id
),
fr AS (
  SELECT w.doc_id, w.tokens, w.distinct_tokens,
         1.0 - CAST(w.distinct_tokens AS DOUBLE) / w.tokens AS dup,
         CASE WHEN b.bigrams IS NULL OR b.bigrams = 0 THEN 0.0
              ELSE CAST(b.top_bigram AS DOUBLE) / b.bigrams END AS top2
  FROM wagg w LEFT JOIN bagg b USING (doc_id)
)
SELECT doc_id, tokens, distinct_tokens,
       dup AS dup_word_frac,
       top2 AS top_bigram_frac,
       CASE WHEN dup <= 0.5 THEN 1 ELSE 0 END AS r_dup_word,
       CASE WHEN top2 <= 0.08 THEN 1 ELSE 0 END AS r_top_bigram,
       CASE WHEN dup <= 0.5 AND top2 <= 0.08 THEN 1 ELSE 0 END AS pass_repetition
FROM fr
"""

# decontamination twin: same deterministic benchmark subset (doc_id % 17 = 0)
# and word-4-gram windows as curate.decontaminate
_DECONTAMINATE_SQL = """
WITH g AS (
  SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i + 3 AS INT)], ' ') AS gram
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    WHERE len(t) >= 4
  )
),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 0),
hits AS (
  SELECT c.doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hit_grams
  FROM (SELECT * FROM g WHERE doc_id % 17 <> 0) c
  LEFT JOIN bench b USING (gram)
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, hit_grams,
       CASE WHEN hit_grams > 0 THEN 1 ELSE 0 END AS contaminated
FROM hits
"""

# audio twin: closed-form square-wave features — the synth params are pure
# functions of doc_id, so DuckDB never parses a byte of WAV
_VOCAB_COUNTS_SQL = """
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
  FROM documents
),
a AS (
  SELECT word, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
  FROM w WHERE length(word) > 0 GROUP BY word
)
SELECT word, CAST(n_occ AS BIGINT) AS n_occ, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(row_number() OVER (ORDER BY n_occ DESC, word ASC) AS BIGINT) AS rank
FROM a
"""

# duplicated-spans twin: same window/island arithmetic, but grouped by
# the window STRING (no hashes anywhere in the output), so an xxhash64
# pair collision on the Spark side would surface as a value diff.
_DUPLICATED_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     w -> length(w) > 0) AS t
  FROM documents
),
w AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[CAST(i AS INT):CAST(i + 7 AS INT)], ' ') AS win
  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
c AS (SELECT win FROM w GROUP BY win HAVING count(*) > 1),
fl AS (SELECT doc_id, pos FROM w JOIN c USING (win)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM fl
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM g
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 7 AS BIGINT) AS span_end,
       CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_windows
FROM isl GROUP BY doc_id, island
"""

# line-dedup twin: keep-first at word granularity (sep=' ', the corpus
# has no newlines — clean.line_dedup docstring + q_line_dedup explain).
# Same shape as the Spark plan: explode with 1-based ordinality, per-line
# min(struct(doc_id,pos)) first-occurrence agg, join back, reassemble.
_LINE_DEDUP_SQL = """
WITH exploded AS (
  SELECT doc_id, unnest(list_transform(string_split(text, ' '),
         (x, i) -> struct_pack(line := x, pos := i))) AS s
  FROM documents
),
lines AS (SELECT doc_id, s.line AS line, s.pos AS pos FROM exploded),
firsts AS (
  SELECT line, min(struct_pack(d := doc_id, p := pos)) AS fo
  FROM lines WHERE length(line) > 0 GROUP BY line
),
kept AS (
  SELECT l.doc_id, l.line, l.pos
  FROM lines l LEFT JOIN firsts f USING (line)
  WHERE length(l.line) = 0 OR (f.fo.d = l.doc_id AND f.fo.p = l.pos)
),
base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_lines
  FROM documents
),
kagg AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_dedup,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, coalesce(k.text_dedup, '') AS text_dedup, b.n_lines,
       coalesce(k.n_kept, 0) AS n_kept
FROM base b LEFT JOIN kagg k USING (doc_id)
"""

# C4 line-filter twin: same six synthesized lines per doc, same five
# rules in the shared Java/RE2 regex subset.
_C4_LINE_FILTERS_SQL = """
WITH synth AS (
  SELECT doc_id,
         'Sentence number one has five words.' || chr(10) ||
         substr(text, 1, 40) || chr(10) ||
         'Too short.' || chr(10) ||
         'Document ' || CAST(doc_id AS VARCHAR) ||
           ' keeps this varied content line.' || chr(10) ||
         'Lorem ipsum dolor sit amet filler text.' || chr(10) ||
         'A curly { brace drops this whole line.' || chr(10) ||
         'Please enable JavaScript support to continue reading.' AS text
  FROM documents
),
f AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls,
         list_filter(string_split(text, chr(10)), l ->
            regexp_matches(l, '[.!?"]$')
            AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                                w -> length(w) > 0)) >= 5
            AND NOT contains(l, '{')
            AND NOT contains(lower(l), 'lorem ipsum')
            AND NOT contains(lower(l), 'javascript')) AS ks
  FROM synth
)
SELECT doc_id, array_to_string(ks, chr(10)) AS text_clean,
       CAST(len(ls) AS BIGINT) AS n_lines, CAST(len(ks) AS BIGINT) AS n_kept
FROM f
"""

# chunking twin: same start lattice (1-based, step 12), same
# adds-new-tokens rule for chunks after the first; DuckDB list slicing
# is 1-based inclusive, so t[s : s+15] is the 16-token window.
_CHUNK_DOCUMENTS_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     w -> length(w) > 0) AS t
  FROM documents
),
st AS (
  SELECT doc_id, t, len(t) AS n, unnest(generate_series(1, len(t), 12)) AS s
  FROM toks WHERE len(t) > 0
),
f AS (
  SELECT doc_id, t, n, s, CAST((s - 1) / 12 + 1 AS BIGINT) AS chunk_id
  FROM st WHERE s = 1 OR s + 4 <= n
)
SELECT doc_id, chunk_id,
       array_to_string(t[CAST(s AS INT):CAST(least(s + 15, n) AS INT)], ' ')
         AS chunk_text,
       CAST(least(16, n - s + 1) AS BIGINT) AS n_tokens,
       CAST(n AS BIGINT) AS doc_tokens
FROM f
"""

# pack-sequences twin: the chunk twin runs as a nested CTE (same lattice),
# then the per-bucket running sum slices the concatenation every seq_len.
# DuckDB's window SUM yields HUGEINT — cast back to BIGINT to match Spark.
_PACK_SEQUENCES_SQL = f"""
WITH chunks AS ({_CHUNK_DOCUMENTS_SQL})
SELECT pack_group, doc_id, chunk_id, n_tokens,
       CAST(cum // 64 AS BIGINT) AS pack_id,
       CAST(cum % 64 AS BIGINT) AS pack_offset,
       (cum % 64 + n_tokens > 64) AS straddles
FROM (
  SELECT CAST(doc_id % 8 AS INT) AS pack_group, doc_id, chunk_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
  FROM chunks
)
"""

# curation-pipeline twin: the composed chain. The gopher/repetition twin
# BODIES are reused verbatim with their source re-pointed from the
# `documents` view to the cleaned CTE (string-level FROM rewrite — safer
# than shadowing the view with a same-named CTE, which DuckDB would
# resolve circularly for the synth stage).
_CURATION_PIPELINE_SQL = (
    """
WITH synth AS (
  SELECT doc_id,
         'Sentence number one has five words.' || chr(10) ||
         substr(text, 1, 40) || chr(10) ||
         'Too short.' || chr(10) ||
         'Document ' || CAST(doc_id AS VARCHAR) ||
           ' keeps this varied content line.' || chr(10) ||
         'Lorem ipsum dolor sit amet filler text.' || chr(10) ||
         'A curly { brace drops this whole line.' || chr(10) ||
         substr(text, 1, 60 + doc_id % 80) || ' and so it ends.' AS text
  FROM documents
),
c4 AS (
  SELECT doc_id,
         array_to_string(list_filter(string_split(text, chr(10)), l ->
            regexp_matches(l, '[.!?"]$')
            AND len(list_filter(string_split_regex(trim(l), '\\s+'),
                                w -> length(w) > 0)) >= 5
            AND NOT contains(l, '{')
            AND NOT contains(lower(l), 'lorem ipsum')
            AND NOT contains(lower(l), 'javascript')), chr(10)) AS text
  FROM synth
),
expl AS (
  SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
         (x, i) -> struct_pack(line := x, pos := i))) AS s
  FROM c4
),
lns AS (SELECT doc_id, s.line AS line, s.pos AS pos FROM expl),
firsts AS (
  SELECT line, min(struct_pack(d := doc_id, p := pos)) AS fo
  FROM lns WHERE length(line) > 0 GROUP BY line
),
keptl AS (
  SELECT l.doc_id, l.line, l.pos
  FROM lns l LEFT JOIN firsts f USING (line)
  WHERE length(l.line) = 0 OR (f.fo.d = l.doc_id AND f.fo.p = l.pos)
),
basec AS (
  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
  FROM c4
),
kaggc AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM keptl GROUP BY doc_id
),
cleaned_docs AS (
  SELECT b.doc_id, coalesce(k.text_dedup, '') AS text, b.n_lines,
         coalesce(k.n_kept, 0) AS n_kept
  FROM basec b LEFT JOIN kaggc k USING (doc_id)
),
g_out AS ("""
    + _GOPHER_RULES_SQL.replace("FROM documents", "FROM cleaned_docs")
    + """),
r_out AS ("""
    + _REPETITION_SQL.replace("FROM documents", "FROM cleaned_docs")
    + """)
SELECT d.doc_id, d.text AS text_final, d.n_lines, d.n_kept,
       g.r_len, g.r_mwl, g.r_stop, g.r_lang, g.pass_all,
       coalesce(r.pass_repetition, 0) AS pass_repetition,
       g.pass_all * coalesce(r.pass_repetition, 0) *
         (CASE WHEN d.n_kept > 0 THEN 1 ELSE 0 END) AS keep
FROM cleaned_docs d JOIN g_out g USING (doc_id)
LEFT JOIN r_out r USING (doc_id)
"""
)

# PII twin: identical regex strings (clean.EMAIL_RE/IPV4_RE/PHONE_RE
# spliced below), identical email->IP->phone order; DuckDB replace needs
# the explicit 'g' flag to match Spark's global regexp_replace.
_PII_REDACT_SQL = """
WITH synth AS (
  SELECT doc_id,
         'user' || CAST(doc_id AS VARCHAR) || '@example.com ' || text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END ||
         CASE WHEN doc_id % 5 = 0 THEN ' +1 555 867 5309' ELSE '' END AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '@EMAIL@')) AS BIGINT) AS n_emails,
         regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') AS t1
  FROM synth
),
s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '@IPV4@')) AS BIGINT) AS n_ips,
         regexp_replace(t1, '@IPV4@', '<IP>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_emails, n_ips,
         CAST(len(regexp_extract_all(t2, '@PHONE@')) AS BIGINT) AS n_phones,
         regexp_replace(t2, '@PHONE@', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT doc_id, t3 AS text_redacted, n_emails, n_ips, n_phones,
       CASE WHEN n_emails + n_ips + n_phones > 0 THEN 1 ELSE 0 END AS has_pii
FROM s3
""".replace("@EMAIL@", CL.EMAIL_RE).replace("@IPV4@", CL.IPV4_RE).replace(
    "@PHONE@", CL.PHONE_RE
)

_AUDIO_FEATURES_SQL = """
WITH p AS (
  SELECT doc_id AS audio_id,
         1000 + (doc_id % 9) * 1000 AS amp,
         1 + doc_id % 7 AS half,
         400 + (doc_id % 5) * 80 AS n
  FROM documents
)
SELECT audio_id,
       CAST(8000 AS BIGINT) AS sample_rate,
       n AS n_samples,
       CAST(n AS DOUBLE) / 8000 AS duration_s,
       CAST(amp AS DOUBLE) AS rms,
       (n - 1) // half AS zcr,
       amp AS peak
FROM p
"""

# video twin: constant 8x8 frames, sampled every 2nd — mean luma is the
# frame's gray value exactly
_VIDEO_FRAMES_SQL = """
WITH p AS (SELECT doc_id AS video_id, 2 + doc_id % 4 AS nf FROM documents),
f AS (
  SELECT video_id, unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 2)) AS frame_idx
  FROM p
)
SELECT video_id, frame_idx,
       CAST((video_id * 7 + 31 * frame_idx) % 256 AS DOUBLE) AS mean_luma
FROM f
"""


# q_image_features twin: a vertical two-tone 16x16 image has mean
# (lo+hi)/2 exactly (both int, /2 exact in IEEE), and its 8x8 average
# hash is right-half-bits when the right half is brighter (row-major
# bit 63 first -> 0x0F0F0F0F0F0F0F0F = 1085102592571150095) or the
# complement when the left is (0xF0F0F0F0F0F0F0F0 wraps to signed
# -1085102592571150096). Verified bit-for-bit against the decoder in
# tests and by the driver's value-hash compare.
_IMAGE_FEATURES_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS image_id,
       CASE WHEN doc_id % 2 = 0 THEN 1085102592571150095
            ELSE -1085102592571150096 END AS computed_phash,
       CAST((10 + doc_id % 97) + (130 + doc_id % 97) AS DOUBLE) / 2
           AS mean_luma
FROM documents
"""


