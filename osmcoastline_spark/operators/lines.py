"""F8 + line chunking — coastline rings as LineStrings with edge-segment
suppression.

Reference: src/coastline_polygons.cpp:66-89 (suppress segments along the
map's southern edge / antimeridian — they exist only to close polygons) and
:271-302 (chunk lines at max_points). Constants from src/srs.hpp:107-117.

Per ring, a numpy mask marks the suppressed segments; the point sequence
splits at the suppression gaps and chunks to max_points. Rings are
independent rows, so this is one narrow mapInArrow stage
(`util.arrow_stage`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from osmcoastline_spark.util import arrow_stage, column_rows

WGS84_EDGES = {"max_x": 179.9999, "min_x": -179.9999, "min_y": -85.049}
MERC_EDGES = {"max_x": 20037500.0, "min_x": -20037500.0, "min_y": -20037400.0}


def rings_to_lines(
    polygons: DataFrame, max_points: int = 1000, epsg: int = 4326
) -> DataFrame:
    """Explode each polygon ring (exterior + holes) into suppressed/chunked
    LineStrings. Output: xs, ys arrays per line."""
    edges = WGS84_EDGES if epsg == 4326 else MERC_EDGES
    min_y, max_x, min_x = edges["min_y"], edges["max_x"], edges["min_x"]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[dict]:
        # a flushed reference chunk has max(max_points, 2) points =
        # max(max_points - 1, 1) segments — INCLUDING max_points == 0:
        # options.cpp:156-158 only sets split_large_polygons = false for
        # -m 0 (polygon splitting off), while output_lines(0) still
        # reaches coastline_polygons.cpp:286, where getNumPoints() >= 0
        # is always true and every added segment flushes a 2-point line.
        # (A round-5 edit misread that as "0 disables line chunking too"
        # and emitted unchunked rings — parity break, reverted.)
        step = max(max_points - 1, 1)
        for batch in batches:
            out_x, out_y = [], []
            cols = ("shell_x", "shell_y", "holes_x", "holes_y")
            for sx, sy, hxs, hys in zip(*(column_rows(batch.column(c)) for c in cols)):
                for xs, ys in [(sx, sy), *zip(hxs or (), hys or ())]:
                    if xs[0] != xs[-1] or ys[0] != ys[-1]:
                        xs = np.append(xs, xs[0])
                        ys = np.append(ys, ys[0])
                    # vectorized suppression mask over segments, then each
                    # kept run chunks into fixed-size slices — no per-vertex
                    # Python loop
                    x1, y1 = xs[:-1], ys[:-1]
                    x2, y2 = xs[1:], ys[1:]
                    sup = (
                        ((y1 < min_y) & (y2 < min_y))
                        | ((x1 > max_x) & (x2 > max_x))
                        | ((x1 < min_x) & (x2 < min_x))
                    )
                    kept = np.nonzero(~sup)[0]
                    if len(kept) == 0:
                        continue
                    for run_segs in np.split(kept, np.nonzero(np.diff(kept) != 1)[0] + 1):
                        for k in range(0, len(run_segs), step):
                            chunk = run_segs[k : k + step]
                            out_x.append(xs[chunk[0] : chunk[-1] + 2])
                            out_y.append(ys[chunk[0] : chunk[-1] + 2])
            yield {"xs": out_x, "ys": out_y}

    return arrow_stage(
        polygons.select("shell_x", "shell_y", "holes_x", "holes_y"),
        run,
        "xs array<double>, ys array<double>",
    )
