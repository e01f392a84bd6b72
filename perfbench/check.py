"""Output check: order-insensitive table digests, the pins recorded at
PIN_SEED, and the invariants each generator knows for any seed."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import MapType

PIN_SEED = 42
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def digest(df) -> tuple[int, str]:
    """(rows, digest) of a table, independent of row order and
    partitioning: row count, decimal sum and xor of a 64-bit hash of
    every column. One Spark job, which also materializes the table."""
    cols = [
        F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    h = F.xxhash64(*cols)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    n = int(r["n"])
    return n, f"{n}:{r['s'] or 0}:{(r['x'] or 0) & (2**64 - 1):016x}"


def outcome(result, digests: dict[str, tuple[int, str]]) -> dict:
    """What the check compares: table counts and digests, stats,
    warnings, errors and exit code of a PipelineResult."""
    return {
        "counts": {t: n for t, (n, _) in sorted(digests.items())},
        "digests": {t: d for t, (_, d) in sorted(digests.items())},
        "stats": json.loads(json.dumps(result.stats, sort_keys=True, default=int)),
        "warnings": int(result.warnings),
        "errors": int(result.errors),
        "exit_code": int(result.exit_code),
    }


def invariants(workload: str, out: dict, facts: dict) -> list[str]:
    """Failures of what the generator guarantees for any seed."""
    s, c = out["stats"], out["counts"]
    want = {
        "rings_fixed": facts["open_islands"] + facts["small_gaps"],
        "unconnected_nodes": 2 * facts["large_gaps"],
    }
    if workload == "islands":
        want["rings"] = facts["islands"]
        tables = ("land_polygons", "water_polygons")
    else:
        want["antarctica_closed"] = True
        tables = ("rings", "lines")
    bad = [f"stats[{k}]={s.get(k)!r}, generator says {v!r}" for k, v in want.items() if s.get(k) != v]
    bad += [f"{t} is empty" for t in tables if not c.get(t)]
    if workload == "islands" and c.get("land_polygons", 0) < facts["islands"]:
        bad.append(f"{c.get('land_polygons')} land polygons for {facts['islands']} islands")
    return bad


def load_pins() -> dict:
    if not os.path.exists(PINS_PATH):
        return {}
    with open(PINS_PATH) as f:
        return json.load(f)


def save_pin(workload: str, out: dict) -> None:
    pins = load_pins()
    pins[workload] = out
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def compare(expected: dict, got: dict, what: str) -> list[str]:
    """Differences between two outcomes, one line per differing field."""
    bad = []
    for key in sorted(set(expected) | set(got)):
        e, g = expected.get(key), got.get(key)
        if isinstance(e, dict) and isinstance(g, dict):
            bad += [
                f"{what} {key}[{k}]: expected {e.get(k)!r}, got {g.get(k)!r}"
                for k in sorted(set(e) | set(g))
                if e.get(k) != g.get(k)
            ]
        elif e != g:
            bad.append(f"{what} {key}: expected {e!r}, got {g!r}")
    return bad


def check(workload: str, seed: int, out: dict, facts: dict, pins: bool = True) -> list[str]:
    """Invariant failures, plus differences from the pin at PIN_SEED."""
    bad = invariants(workload, out, facts)
    pin = load_pins().get(workload) if pins and seed == PIN_SEED else None
    if pin is not None:
        bad += compare(pin, out, "pin")
    return bad
