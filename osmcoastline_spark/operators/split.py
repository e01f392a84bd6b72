"""R4 — recursive polygon split into a quadtree-like tile grid.

Reference: src/coastline_polygons.cpp:122-243. While a polygon's exterior
has more than max_points points: halve its envelope along the longer axis,
expand each half by bbox_overlap (clamped to the SRS extent), intersect,
recurse. Defaults: max_points=1000 (options.hpp:61), overlap=0.0001° /
10 m (options.cpp:216-222); give up when the overlap is ≥ 1/4 of the
envelope extent (split would not shrink).

Spark plan: a driver-controlled fixpoint — each iteration is ONE distributed
pass where every oversized polygon splits into its two halves via the exact
cut-by-line kernel (geom.cut_ring — true multi-part results, unlike a
Sutherland–Hodgman clip). Finished polygons accumulate; only oversized ones
loop. Skew note: a single giant polygon (Eurasia) dominates early rounds —
rows are per-polygon so AQE rebalances; after O(log(npoints/max_points))
rounds the giant has fanned out into thousands of parallel rows, which is
exactly the point of the split.

Holes: each hole is cut by the same line; pieces attach to the child whose
shell contains their first vertex (even-odd region semantics preserved).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmcoastline_spark import geom
from osmcoastline_spark.schemas import EXTENT_3857, EXTENT_4326
from osmcoastline_spark.util import arrow_stage, column_rows, materialize

_SPLIT_SCHEMA = (
    "poly_id long, shell_x array<double>, shell_y array<double>, "
    "holes_x array<array<double>>, holes_y array<array<double>>, "
    "npoints int, env_minx double, env_miny double, env_maxx double, env_maxy double, "
    "final boolean, depth int, cut_suspect boolean, "
    "own_minx double, own_miny double, own_maxx double, own_maxy double"
)


_MASK64 = 0xFFFFFFFFFFFFFFFF


def _child_id(parent: int, child_no: int) -> int:
    """Deterministic 63-bit child id from (parent id, child ordinal)."""
    z = (int(parent) * 0x9E3779B97F4A7C15 + child_no) & _MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    z ^= z >> 31
    return z & 0x7FFFFFFFFFFFFFFF


def _split_one(
    row, expand: float, extent: tuple[float, float, float, float]
) -> list[dict]:
    xs = np.asarray(row["shell_x"], dtype=np.float64)
    ys = np.asarray(row["shell_y"], dtype=np.float64)
    minx, miny, maxx, maxy = geom.envelope(xs, ys)
    if maxx - minx < maxy - miny:
        if expand >= (maxy - miny) / 4:
            return [_emit(row, final=True)]
        axis, mid = 1, (maxy + miny) / 2
    else:
        if expand >= (maxx - minx) / 4:
            return [_emit(row, final=True)]
        axis, mid = 0, (maxx + minx) / 2
    lo_c = min(mid + expand, extent[2] if axis == 0 else extent[3])
    hi_c = max(mid - expand, extent[0] if axis == 0 else extent[1])

    lo_pieces, lo_suspect = geom.cut_ring_checked(xs, ys, axis, lo_c, keep_low=True)
    hi_pieces, hi_suspect = geom.cut_ring_checked(xs, ys, axis, hi_c, keep_low=False)
    if not lo_pieces or not hi_pieces:
        # split unsuccessful — keep un-split (reference :215-217)
        return [_emit(row, final=True)]

    # distribute holes
    holes_x = row["holes_x"] or ()
    holes_y = row["holes_y"] or ()
    lo_holes: list[tuple[np.ndarray, np.ndarray]] = []
    hi_holes: list[tuple[np.ndarray, np.ndarray]] = []
    for hx, hy in zip(holes_x, holes_y):
        lp, ls = geom.cut_ring_checked(np.asarray(hx), np.asarray(hy), axis, lo_c, True)
        hp, hs = geom.cut_ring_checked(np.asarray(hx), np.asarray(hy), axis, hi_c, False)
        lo_holes.extend(lp)
        hi_holes.extend(hp)
        lo_suspect |= ls
        hi_suspect |= hs

    # suspicion is inherited: cutting an already-suspect (possibly
    # non-simple) piece can produce anything, so children keep the flag
    parent_suspect = bool(row.get("cut_suspect", False))
    # owned (non-expanded) region lineage: sibling pieces OVERLAP in the
    # 2*expand band by design (reference bbox_overlap), which is fine for
    # the land output but breaks any even-odd consumer — a point covered
    # by two sibling rings flips back to "outside". The owned boxes split
    # at the un-expanded midline, so piece ∩ own-box regions tile the
    # parent disjointly; water_polygons clips to them.
    own = (
        row.get("own_minx", -np.inf), row.get("own_miny", -np.inf),
        row.get("own_maxx", np.inf), row.get("own_maxy", np.inf),
    )
    own = tuple(float(v) if v is not None else (np.inf if i >= 2 else -np.inf)
                for i, v in enumerate(own))
    if axis == 0:
        lo_own = (own[0], own[1], min(own[2], mid), own[3])
        hi_own = (max(own[0], mid), own[1], own[2], own[3])
    else:
        lo_own = (own[0], own[1], own[2], min(own[3], mid))
        hi_own = (own[0], max(own[1], mid), own[2], own[3])
    out = []
    child_no = 0
    for side_pieces, side_holes, side_suspect, cut_c, side_own in (
        (lo_pieces, lo_holes, lo_suspect, lo_c, lo_own),
        (hi_pieces, hi_holes, hi_suspect, hi_c, hi_own),
    ):
        for k, (px, py) in enumerate(side_pieces):
            child_no += 1
            hxs, hys = [], []
            for hx, hy in side_holes:
                # probe with a vertex STRICTLY off this side's cut line:
                # a cut hole piece's bridge vertices lie exactly ON the
                # child shell's boundary, where the strict even-odd test
                # is undefined — probing the first vertex silently lost
                # every hole straddling the cut from the keep-low child
                # (the lake filled in as land). An off-line vertex is an
                # original hole vertex, strictly interior to the owning
                # child shell; a piece with no off-line vertex is a
                # zero-width sliver on the line and carries no area.
                hc = hx if axis == 0 else hy
                off = np.nonzero(hc != cut_c)[0]
                if not len(off):
                    continue
                i = int(off[0])
                if geom.points_in_ring(hx[i : i + 1], hy[i : i + 1], px, py)[0]:
                    hxs.append(hx.tolist())
                    hys.append(hy.tolist())
            e = geom.envelope(px, py)
            out.append(
                {
                    # Child ids via a splitmix64-style mix of (parent, child)
                    # rather than bit-shift lineage: shifting 5 bits/level
                    # overflows int64 after ~7 levels for way-derived ids
                    # (~2^30) while a continent shell needs ~12 levels. The
                    # mix is deterministic and collision-resistant (~n²/2^63
                    # birthday bound); identity only, never joined back.
                    "poly_id": _child_id(row["poly_id"], child_no),
                    "shell_x": px.tolist(),
                    "shell_y": py.tolist(),
                    "holes_x": hxs,
                    "holes_y": hys,
                    "npoints": len(px),
                    "env_minx": e[0],
                    "env_miny": e[1],
                    "env_maxx": e[2],
                    "env_maxy": e[3],
                    "final": False,
                    "depth": row["depth"] + 1,
                    "cut_suspect": parent_suspect or side_suspect,
                    "own_minx": side_own[0],
                    "own_miny": side_own[1],
                    "own_maxx": side_own[2],
                    "own_maxy": side_own[3],
                }
            )
    return out


def _emit(row, final: bool) -> dict:
    d = {k: row[k] for k in (
        "poly_id", "shell_x", "shell_y", "holes_x", "holes_y",
        "npoints", "env_minx", "env_miny", "env_maxx", "env_maxy",
    )}
    d["final"] = final
    d["depth"] = row["depth"]
    d["cut_suspect"] = bool(row.get("cut_suspect", False))
    for k, dflt in (
        ("own_minx", -np.inf), ("own_miny", -np.inf),
        ("own_maxx", np.inf), ("own_maxy", np.inf),
    ):
        v = row.get(k)
        d[k] = float(v) if v is not None else dflt
    return d


def split_polygons(
    polygons: DataFrame,
    max_points: int = 1000,
    expand: float = 0.0001,
    epsg: int = 4326,
    max_rounds: int = 48,
    observe: dict[str, Column] | None = None,
):
    """Iterative R4. Input/Output: POLYGONS_SCHEMA columns (lineage columns
    are preserved on finished rows via pass-through union), plus
    `own_minx/own_miny/own_maxx/own_maxy` — each piece's OWNED region box
    (the recursion's un-expanded midline cuts; ±inf where never cut).
    Sibling pieces overlap by the 2*expand band, but piece ∩ own-box
    regions tile the parent disjointly — even-odd consumers
    (water_polygons) clip to them.

    `observe` ({name: per-row numeric Column}) is summed over the output
    rows with `was_split` set, in the jobs that checkpoint them; the call
    then returns (polygons, sums), where sums also carries `rows_added`:
    output rows minus input rows. Both cost no extra Spark job."""
    extent = EXTENT_4326 if epsg == 4326 else EXTENT_3857
    base_cols = [
        "poly_id", "shell_x", "shell_y", "holes_x", "holes_y",
        "npoints", "env_minx", "env_miny", "env_maxx", "env_maxy",
    ]
    work = (
        polygons.select(*base_cols)
        .withColumn("depth", F.lit(0))
        .withColumn("cut_suspect", F.lit(False))
        .withColumn("own_minx", F.lit(float("-inf")))
        .withColumn("own_miny", F.lit(float("-inf")))
        .withColumn("own_maxx", F.lit(float("inf")))
        .withColumn("own_maxy", F.lit(float("inf")))
    )
    # `done` accumulates as a LIST of per-round DataFrames, unioned once at
    # the end: each round's children are checkpointed (truncating lineage of
    # the shrinking frontier), but finished polygons are NEVER rewritten —
    # re-checkpointing the accumulated set each round would be
    # O(rounds × data) snapshot I/O, the round-1 scaling killer.
    done_parts = [work.filter(F.col("npoints") <= max_points).withColumn("final", F.lit(True))]
    # the oversized inputs are pinned once: the checkpoint job counts them
    # (the loop's first emptiness test) and the first round reads only them
    todo, seen = materialize(
        work.filter(F.col("npoints") > max_points), n=F.count(F.lit(1))
    )
    n_todo = seen["n"]

    # levels handled INSIDE one Arrow batch per round: each distributed
    # round pays a Python stage + a checkpoint (~1 s of driver floor
    # at bench scale), so recursing a few levels in-UDF divides the round
    # count by LEVELS_PER_ROUND. Outputs are identical to one-level rounds
    # (each level applies the same _split_one), and skew stays bounded: one
    # task expands a polygon at most 2^LEVELS_PER_ROUND-fold before the
    # next exchange rebalances.
    LEVELS_PER_ROUND = 4

    # every round's checkpoint counts which children are done and which
    # loop again, and sums `observe` over the cut pieces of each side
    # (depth > 0, the output's `was_split`): the loop test, the output row
    # count and the caller's sums all come from the checkpoint jobs
    is_done = F.col("final") | (F.col("npoints") <= max_points)
    is_todo = ~F.col("final") & (F.col("npoints") > max_points)
    observing = observe is not None
    observe = observe or {}
    metrics = {"n_done": F.count_if(is_done), "n_todo": F.count_if(is_todo)}
    for side, pred in (("done", is_done), ("todo", is_todo)):
        for k, c in observe.items():
            metrics[f"{side}_{k}"] = F.sum(F.when(pred & (F.col("depth") > 0), c))
    rows_added = -n_todo
    sums = dict.fromkeys(observe, 0)
    todo_sums = dict.fromkeys(observe, 0)

    for _ in range(max_rounds):
        if n_todo == 0:
            break

        def split_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
            for batch in batches:
                rows = []
                for row in column_rows(batch.to_struct_array()):
                    stack = [(row, 1)]
                    while stack:
                        r, lvl = stack.pop()
                        for p in _split_one(r, expand, extent):
                            if (
                                not p["final"]
                                and p["npoints"] > max_points
                                and lvl < LEVELS_PER_ROUND
                            ):
                                stack.append((p, lvl + 1))
                            else:
                                rows.append(p)
                if rows:
                    yield {k: [r[k] for r in rows] for k in rows[0]}

        children, seen = materialize(
            arrow_stage(todo.withColumn("final", F.lit(False)), split_batch, _SPLIT_SCHEMA),
            **metrics,
        )
        done_parts.append(children.filter(is_done))
        todo = children.filter(is_todo)
        n_todo = seen["n_todo"]
        rows_added += seen["n_done"]
        for k in observe:
            sums[k] += seen[f"done_{k}"] or 0
            todo_sums[k] = seen[f"todo_{k}"] or 0

    # anything still oversized after max_rounds is kept as-is (refuse to loop
    # forever — mirrors the reference's give-up paths)
    done_parts.append(todo.withColumn("final", F.lit(True)))
    if n_todo:
        rows_added += n_todo
        for k in observe:
            sums[k] += todo_sums[k]
    done = done_parts[0]
    for part in done_parts[1:]:
        done = done.unionByName(part)
    # `was_split` marks pieces PRODUCED by cutting (depth>0): the post-split
    # validity pass only needs to scan those — unsplit polygons entered
    # split already triage-validated (simple shells) and cutting is the
    # only step that can introduce new invalidity. `cut_suspect` narrows
    # further: only pieces whose producing cut hit a degeneracy
    # (geom.cut_ring_checked) can be non-simple, so the expensive
    # distributed crossing scan is restricted to those.
    out = done.withColumn("was_split", F.col("depth") > 0).drop("final", "depth")
    if observing:
        return out, {**sums, "rows_added": rows_added}
    return out
