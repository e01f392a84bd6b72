"""Pure-numpy 2D geometry kernels.

Everything here is a deterministic, vectorized function designed to run inside
the pipeline's mapInArrow stages, on numpy views of the Arrow batches (no
per-row Python in the Spark hot path, no native geometry dependency). Formulas that affect output parity are kept identical to
the reference:

* segment-segment intersection — /root/reference/src/coastline_ring_collection.cpp:202-230
* squared-euclidean endpoint distance — /root/reference/src/coastline_ring.cpp:157-164
* Antarctica ring closure — /root/reference/src/coastline_ring.cpp:100-121
* SRS extents / WebMercator — /root/reference/src/srs.cpp:60-76
"""

from __future__ import annotations

import math

import numpy as np

MERC = 20037508.342789244
MERC_MAX_LAT = 85.0511288


# --------------------------------------------------------------- basics


def signed_area2(xs: np.ndarray, ys: np.ndarray) -> float:
    """Twice the signed shoelace area; > 0 for counter-clockwise rings.

    The products sum with `math.fsum` (correctly rounded), not BLAS
    `np.dot`: the dot kernel OpenBLAS picks per CPU rounds differently,
    and Buffer(0)'s sign and zero-area decisions must not depend on the
    host."""
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    return math.fsum(np.concatenate([x * np.roll(y, -1), -(np.roll(x, -1) * y)]))


def is_clockwise(xs, ys) -> bool:
    return signed_area2(xs, ys) < 0


def envelope(xs, ys) -> tuple[float, float, float, float]:
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    return float(x.min()), float(y.min()), float(x.max()), float(y.max())


def ring_is_closed(xs, ys) -> bool:
    return xs[0] == xs[-1] and ys[0] == ys[-1]


def close_ring_coords(xs, ys):
    if not ring_is_closed(xs, ys):
        xs = np.append(xs, xs[0])
        ys = np.append(ys, ys[0])
    return xs, ys


# ------------------------------------------------- point-in-polygon (batched)


def points_in_ring(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Even-odd ray-cast: bool mask of points strictly inside the ring.

    Vectorized over points; the ring loop is over its edges (numpy
    broadcasting over points × edges). Batched point-in-polygon per
    BASELINE.json north_rule.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x = np.asarray(xs, dtype=np.float64)
    y = np.asarray(ys, dtype=np.float64)
    if ring_is_closed(x, y):
        x, y = x[:-1], y[:-1]
    n = len(x)
    x1, y1 = x, y
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    # (points, edges) broadcast
    PX = px[:, None]
    PY = py[:, None]
    cond = (y1[None, :] > PY) != (y2[None, :] > PY)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (PY - y1[None, :]) * (x2[None, :] - x1[None, :]) / (
            y2[None, :] - y1[None, :]
        )
    crossings = (cond & (PX < xint)).sum(axis=1)
    return (crossings % 2).astype(bool)


# ------------------------------------------ segment intersection (ref parity)


def segment_intersections(
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized port of the reference intersection predicate.

    Pairs sharing an endpoint never intersect; inclusive parameter range
    [0, 1] on both segments. Returns (mask, ix, iy).
    Reference: src/coastline_ring_collection.cpp:202-230.
    """
    arrs = [np.asarray(a, dtype=np.float64) for a in (ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)]
    ax1, ay1, ax2, ay2, bx1, by1, bx2, by2 = arrs

    shared = (
        ((ax1 == bx1) & (ay1 == by1))
        | ((ax1 == bx2) & (ay1 == by2))
        | ((ax2 == bx1) & (ay2 == by1))
        | ((ax2 == bx2) & (ay2 == by2))
    )

    denom = (by2 - by1) * (ax2 - ax1) - (bx2 - bx1) * (ay2 - ay1)
    nume_a = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
    nume_b = (ax2 - ax1) * (ay1 - by1) - (ay2 - ay1) * (ax1 - bx1)

    pos = (denom > 0) & (nume_a >= 0) & (nume_a <= denom) & (nume_b >= 0) & (nume_b <= denom)
    neg = (denom < 0) & (nume_a <= 0) & (nume_a >= denom) & (nume_b <= 0) & (nume_b >= denom)
    mask = ~shared & (pos | neg)

    with np.errstate(divide="ignore", invalid="ignore"):
        ua = np.where(mask, nume_a / np.where(denom == 0, 1.0, denom), 0.0)
    ix = ax1 + ua * (ax2 - ax1)
    iy = ay1 + ua * (ay2 - ay1)
    return mask, ix, iy


def sq_distance(x1, y1, x2, y2):
    """Squared euclidean distance in degrees — NOT haversine; parity with
    reference gap-closing (src/coastline_ring.cpp:157-164)."""
    dx = np.asarray(x2, dtype=np.float64) - np.asarray(x1, dtype=np.float64)
    dy = np.asarray(y2, dtype=np.float64) - np.asarray(y1, dtype=np.float64)
    return dx * dx + dy * dy


# ------------------------------------------------------------ WebMercator


def merc_forward(lon, lat):
    """Closed-form EPSG:4326 → EPSG:3857 (reference transforms via
    GDAL/PROJ, src/srs.cpp:29-58; same formula)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_MAX_LAT, MERC_MAX_LAT)
    x = lon * MERC / 180.0
    y = np.log(np.tan((90.0 + lat) * math.pi / 360.0)) / math.pi * MERC
    return x, np.clip(y, -MERC, MERC)


def merc_inverse(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = x / MERC * 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp(y / MERC * math.pi)) - math.pi / 2.0)
    return lon, lat


# ----------------------------------------------------------- WKT helpers


def _fmt(v: float) -> str:
    s = f"{v:.15g}"
    return "0" if s == "-0" else s


def wkt_point(x: float, y: float) -> str:
    return f"POINT({_fmt(x)} {_fmt(y)})"


def wkt_linestring(xs, ys) -> str:
    pts = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys))
    return f"LINESTRING({pts})"


def wkt_polygon(shell_x, shell_y, holes_x=None, holes_y=None) -> str:
    def ring(xs, ys):
        xs, ys = close_ring_coords(np.asarray(xs), np.asarray(ys))
        return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in zip(xs, ys)) + ")"

    parts = [ring(shell_x, shell_y)]
    for hx, hy in zip(holes_x or [], holes_y or []):
        parts.append(ring(hx, hy))
    return "POLYGON(" + ", ".join(parts) + ")"


def canonical_ring(xs, ys) -> tuple[tuple[float, float], ...]:
    """Rotation+orientation-normalized ring for order-insensitive golden
    comparison (GEOS and our kernels may emit different start vertices)."""
    xs = list(xs)
    ys = list(ys)
    if xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    pts = list(zip(xs, ys))
    if is_clockwise(xs, ys):
        pts = pts[::-1]
    k = min(range(len(pts)), key=lambda i: pts[i])
    return tuple(pts[k:] + pts[:k])


# ----------------------------------------------- polygon cut by a grid line


def cut_ring(xs, ys, axis: int, c: float, keep_low: bool) -> list[tuple[np.ndarray, np.ndarray]]:
    """Cut a simple ring by the line {coord[axis] == c}; return the list of
    closed rings on the kept side (coord <= c when keep_low else >= c).

    This is the exact-geometry replacement for the reference's
    polygon ∩ half-envelope (src/coastline_polygons.cpp:204-212): cutting by
    a line yields true multi-part results for concave polygons, which a
    Sutherland–Hodgman clip would bridge incorrectly.

    Per-ring Python loop; vectorization happens across rings in the caller's
    Arrow batch. Rings are open (no repeated last point) internally.
    """
    return cut_ring_checked(xs, ys, axis, c, keep_low)[0]


def cut_ring_checked(
    xs, ys, axis: int, c: float, keep_low: bool
) -> tuple[list[tuple[np.ndarray, np.ndarray]], bool]:
    """cut_ring plus a `suspect` flag: True iff the cut hit a degeneracy
    that could make a piece non-simple (vertex exactly on the cut line,
    coincident or odd-count crossing positions, collapsed duplicate
    vertices, or a failed chain walk).

    Why this is a sound validity pre-filter: a transversal cut of a SIMPLE
    ring yields chains that are vertex-disjoint sub-paths of the ring,
    bridged along disjoint intervals of the cut line — the pieces are
    simple by construction. Only the degenerate cases above can introduce
    self-touches or crossings, so the reference's post-split IsValid pass
    (src/coastline_polygons.cpp:444-467) need only examine pieces whose
    producing cut was degenerate (plus cheap column-level repeated-vertex /
    zero-area checks on every piece)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring_is_closed(xs, ys):
        xs, ys = xs[:-1], ys[:-1]
    coord = xs if axis == 0 else ys
    other = ys if axis == 0 else xs
    inside = coord <= c if keep_low else coord >= c
    if inside.all():
        return [(xs, ys)], False
    if not inside.any():
        return [], False
    suspect = bool((coord == c).any())

    n = len(xs)
    # Build chains of kept vertices with entry/exit points on the cut line.
    chains = []  # (entry_key, exit_key, [pts])
    entries: dict[int, int] = {}  # intersection index -> chain index
    exits: dict[int, int] = {}
    cuts: list[float] = []  # position along the line of each intersection

    start = int(np.argmax(~inside))  # some outside vertex
    cur_pts: list[tuple[float, float]] | None = None
    cur_entry = -1
    for k in range(n):
        i = (start + k) % n
        j = (i + 1) % n
        if inside[i]:
            cur_pts.append((xs[i], ys[i]))
        if inside[i] != inside[j]:
            # crossing on edge i->j
            t = (c - coord[i]) / (coord[j] - coord[i])
            pos = other[i] + t * (other[j] - other[i])
            cuts.append(float(pos))
            ci = len(cuts) - 1
            pt = (c, pos) if axis == 0 else (pos, c)
            if inside[j]:  # entering
                cur_pts = [pt]
                cur_entry = ci
            else:  # exiting
                cur_pts.append(pt)
                chains.append([cur_entry, ci, cur_pts])
                entries[cur_entry] = len(chains) - 1
                exits[ci] = len(chains) - 1
                cur_pts = None
    if not chains:
        return [], suspect
    if len(cuts) % 2 != 0 or len(np.unique(cuts)) != len(cuts):
        suspect = True

    # Pair intersection points along the line: sorted, consecutive pairs
    # (q0,q1), (q2,q3), … bound interior intervals — bridge exit→entry there.
    order = np.argsort(np.array(cuts), kind="stable")
    nxt: dict[int, int] = {}  # chain -> next chain via bridge
    for a in range(0, len(order) - 1, 2):
        p, q = int(order[a]), int(order[a + 1])
        if p in exits and q in entries:
            nxt[exits[p]] = entries[q]
        elif q in exits and p in entries:
            nxt[exits[q]] = entries[p]
        else:
            # degenerate tangency — skip (matches "split unsuccessful"
            # fallback in the reference, which keeps the unsplit polygon)
            suspect = True

    out: list[tuple[np.ndarray, np.ndarray]] = []
    used = set()
    for c0 in range(len(chains)):
        if c0 in used:
            continue
        pts: list[tuple[float, float]] = []
        cc = c0
        ok = True
        while True:
            used.add(cc)
            pts.extend(chains[cc][2])
            cc = nxt.get(cc, -1)
            if cc == c0 or cc == -1:
                ok = cc == c0 or len(chains) == 1
                break
            if cc in used:
                ok = False
                break
        if not ok:
            suspect = True
        if pts and ok:
            px = np.array([p[0] for p in pts])
            py = np.array([p[1] for p in pts])
            # drop consecutive duplicates
            keep = np.ones(len(px), dtype=bool)
            keep[1:] = (px[1:] != px[:-1]) | (py[1:] != py[:-1])
            if not keep.all():
                suspect = True
            px, py = px[keep], py[keep]
            if len(px) >= 3:
                out.append((px, py))
            else:
                suspect = True
    return out, suspect


def clip_ring_rect(
    xs, ys, minx: float, miny: float, maxx: float, maxy: float
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Ring ∩ axis-aligned rectangle via four successive line cuts."""
    pieces = [(np.asarray(xs, dtype=np.float64), np.asarray(ys, dtype=np.float64))]
    for axis, c, keep_low in (
        (0, minx, False),
        (0, maxx, True),
        (1, miny, False),
        (1, maxy, True),
    ):
        nxt = []
        for px, py in pieces:
            nxt.extend(cut_ring(px, py, axis, c, keep_low))
        pieces = nxt
        if not pieces:
            break
    return pieces


# ----------------------------------------------------- Antarctica closure


def antarctica_closure_points(epsg: int) -> tuple[np.ndarray, np.ndarray]:
    """Synthesized walk: down the antimeridian to the map edge, along the
    southern edge, back up. Port of src/coastline_ring.cpp:100-121."""
    vmin = -90.0 if epsg == 4326 else -MERC_MAX_LAT
    lons: list[float] = []
    lats: list[float] = []
    lat = -78
    while lat > int(vmin):
        lons.append(-180.0)
        lats.append(float(lat))
        lat -= 1
    for lon in range(-180, 180):
        lons.append(float(lon))
        lats.append(vmin)
    if epsg == 3857:
        lons.append(180.0)
        lats.append(vmin)
    lat = int(vmin)
    while lat < -78:
        lons.append(180.0)
        lats.append(float(lat))
        lat += 1
    return np.array(lons), np.array(lats)
