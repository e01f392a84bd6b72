"""The Arrow boundary every pipeline Python stage crosses (util.py):
`list_views` / `column_rows` read list columns as numpy views with offsets
rebased onto the batch, `pack` / `list_array` write them back. Round trips
are exact to the bit, for nulls, empty lists and batches sliced anywhere,
and a Spark kernel's output does not depend on the Arrow batch size.
`arrow_stage` runs at most one task per core, except the sweep's."""

import warnings

import numpy as np
import pyarrow as pa
import pytest

from osmcoastline_spark.util import arrow_stage, column_rows, list_array, list_views, pack

DOUBLES = pa.list_(pa.field("element", pa.float64()))
NESTED = pa.list_(pa.field("element", DOUBLES))
STRUCT = pa.struct([("id", pa.int64()), ("xs", DOUBLES), ("holes", NESTED)])
PARTS = pa.list_(pa.field("element", STRUCT))
SPECIAL = [0.0, -0.0, np.inf, -np.inf, 5e-324, 1.0 + 2**-52, -1e308]


def _doubles(rng, n: int) -> list[float]:
    v = rng.standard_normal(n) * 10.0 ** rng.integers(-300, 300, n)
    pick = rng.random(n) < 0.2
    v[pick] = rng.choice(SPECIAL, int(pick.sum()))
    return v.tolist()


def _ragged(rng, depth: int):
    """A row of a list type `depth` levels deep: empty lists and null rows
    included (a null only at the row level, as Spark writes geometry)."""
    if rng.random() < 0.15:
        return None
    n = int(rng.choice([0, 0, 1, 2, 5, 17]))
    if depth == 1:
        return _doubles(rng, n)
    return [_ragged(rng, depth - 1) or [] for _ in range(n)]


def _column(rng, type: pa.DataType, n: int) -> pa.Array:
    if type == DOUBLES:
        return pa.array([_ragged(rng, 1) for _ in range(n)], type)
    if type == NESTED:
        return pa.array([_ragged(rng, 2) for _ in range(n)], type)
    structs = [
        {"id": int(rng.integers(1 << 40)), "xs": _ragged(rng, 1), "holes": _ragged(rng, 2)}
        for _ in range(int(rng.integers(0, 4)) * n)
    ]
    offsets = np.sort(rng.integers(0, len(structs) + 1, n - 1))
    offsets = np.concatenate([[0], offsets, [len(structs)]])
    null = rng.random(n) < 0.15
    offsets[1:][null] = offsets[:-1][null]  # a null row holds no parts
    return list_array(offsets, pa.array(structs, STRUCT), null, PARTS)


def _hex(v):
    """Python value with every float as its exact hex string."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, dict):
        return {k: _hex(x) for k, x in v.items()}
    if isinstance(v, (list, np.ndarray)):
        return [_hex(x) for x in (v.tolist() if isinstance(v, np.ndarray) else v)]
    return v


def _repack(rows: list, type: pa.DataType) -> pa.Array:
    """`column_rows`' rows back to an Arrow column; a struct is rebuilt
    around its fields, each packed by the codec."""
    if type != PARTS:
        return pack(rows, type)
    parts = [p for r in rows if r is not None for p in r]
    fields = [
        pack([p[f.name] for p in parts], f.type) for f in (STRUCT.field(i) for i in range(3))
    ]
    values = pa.StructArray.from_arrays(fields, fields=list(STRUCT))
    offsets = np.concatenate([[0], np.cumsum([0 if r is None else len(r) for r in rows])])
    return list_array(offsets, values, [r is None for r in rows], PARTS)


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("type", [DOUBLES, NESTED, PARTS], ids=["list", "list_list", "list_struct"])
def test_round_trip_is_exact_on_every_slice(seed, type):
    rng = np.random.default_rng(seed)
    col = _column(rng, type, 12)
    n = len(col)
    for lo in range(n + 1):
        for hi in range(lo, n + 1):
            part = col.slice(lo, hi - lo)
            want = _hex(part.to_pylist())
            rows = column_rows(part)
            assert _hex(rows) == want
            back = _repack(rows, type)
            assert back.type == type and back.offset == 0
            assert _hex(back.to_pylist()) == want
            assert back.is_null().to_pylist() == part.is_null().to_pylist()
            if type != PARTS:
                *offsets, values = list_views(part)
                flat = part
                for off in offsets:  # rebased onto the slice, level by level
                    assert off[0] == 0 and len(off) == len(flat) + 1
                    flat = flat.flatten()
                    assert off[-1] == len(flat)
                assert _hex(values) == _hex(flat.to_pylist())


def test_views_are_zero_copy_for_doubles():
    col = pa.array([[1.0, 2.0], [], [3.0]], DOUBLES).slice(1, 2)
    offsets, values = list_views(col)
    assert offsets.tolist() == [0, 0, 1] and values.tolist() == [3.0]
    assert not values.flags.writeable  # a view of the Arrow buffer, not a copy


def test_null_mask_needs_offsets_rebased_to_zero():
    """pyarrow (16.1) rejects a null mask over the offsets of a sliced
    array, which a batch holding a null `holes_x` hands a kernel; offsets
    rebased to 0 first, as the codec builds them, work."""
    col = pa.array([[1.0], None, [2.0, 3.0], [4.0]], DOUBLES).slice(1, 3)
    null = col.is_null()
    with pytest.raises(pa.ArrowNotImplementedError, match="Null bitmap with offsets slice"):
        pa.ListArray.from_arrays(col.offsets, col.values, mask=null)
    offsets, values = list_views(col)
    rebuilt = list_array(offsets, values, null.to_numpy(zero_copy_only=False), DOUBLES)
    assert rebuilt.to_pylist() == [None, [2.0, 3.0], [4.0]]


def _polygons(spark):
    """Square polygons of 8 points, one in three with two holes and one in
    three with null holes, enough rows for many 7-row batches."""
    rows = []
    for i in range(40):
        x0, y0 = (i % 8) * 3.0, (i // 8) * 3.0
        sx = [x0 + v for v in (0, 1, 2, 2, 2, 1, 0, 0, 0)]
        sy = [y0 + v for v in (0, 0, 0, 1, 2, 2, 2, 1, 0)]
        if i % 3 == 0:
            hx = [[x0 + v for v in (0.2, 0.8, 0.8, 0.2, 0.2)], [x0 + v for v in (1.2, 1.8, 1.8, 1.2)]]
            hy = [[y0 + v for v in (0.2, 0.2, 0.8, 0.8, 0.2)], [y0 + v for v in (1.2, 1.2, 1.8, 1.8)]]
        elif i % 3 == 1:
            hx = hy = None
        else:
            hx = hy = []
        rows.append((i, sx, sy, hx, hy, len(sx), x0, y0, x0 + 2.0, y0 + 2.0))
    return spark.createDataFrame(
        rows,
        "poly_id long, shell_x array<double>, shell_y array<double>, "
        "holes_x array<array<double>>, holes_y array<array<double>>, "
        "npoints int, env_minx double, env_miny double, env_maxx double, env_maxy double",
    ).repartition(3)


def _rows(df) -> list:
    return sorted(repr(_hex([r.asDict()[c] for c in sorted(df.columns)])) for r in df.collect())


def test_kernel_output_independent_of_arrow_batch_size(spark):
    from osmcoastline_spark.operators.split import split_polygons

    polys = _polygons(spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    want = _rows(split_polygons(polys, max_points=4, expand=0.0001))
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        got = _rows(split_polygons(polys, max_points=4, expand=0.0001))
    finally:
        spark.conf.set(key, before)
    assert got == want
    assert len(want) > 40  # the squares were cut


def test_polygonize_with_holes_logs_no_pyspark_warning(spark):
    """The valid-inland-sea-with-island shape: a shell with a hole, so the
    hole checks run. No stage of it makes pyspark warn (a grouped-map
    pandas UDF with partial type hints logged "Cannot infer the eval type
    from type hints" on every run with holes)."""
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.synth import fixture_df, nodegrid
    from tests.test_reference_scenarios import INLAND_SEA_ART

    nodes, ways = fixture_df(
        spark,
        nodegrid(INLAND_SEA_ART),
        [(200, [100, 103, 109, 110, 106, 102, 101, 100]), (201, [104, 105, 108, 107, 104])],
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = run_pipeline(spark, nodes, ways, Options())
        land = res.tables["land_polygons"].collect()
    res.unpersist()
    assert len(land) == 1 and len(land[0].holes_x) == 1
    pyspark_warnings = [
        str(w.message) for w in caught
        if issubclass(w.category, UserWarning) and "pyspark" in w.filename
    ]
    assert pyspark_warnings == []


def _ids(df):
    """`df`'s ids through an identity Python stage (a kernel defined here,
    so Spark pickles it by value: workers cannot import the tests)."""

    def kernel(batches):
        for b in batches:
            yield {"id": b.column("id")}

    return arrow_stage(df, kernel, "id long")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_arrow_stage_runs_one_task_per_core(spark):
    """A union of checkpoints has the partitions of all its parts; the
    Python stage over it runs one task per core, every row kept."""
    parts = [spark.range(10 * i, 10 * i + 10, 1, 4) for i in range(3)]
    union = parts[0].union(parts[1]).union(parts[2])
    assert union.rdd.getNumPartitions() == 12
    out = _ids(union)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism == 4
    assert "Exchange" not in _plan(out)  # a narrow coalesce
    assert sorted(r.id for r in out.collect()) == list(range(30))


def test_arrow_stage_never_adds_partitions_or_an_exchange(spark):
    out = _ids(spark.range(0, 5, 1, 1))
    assert out.rdd.getNumPartitions() == 1
    assert "Exchange" not in _plan(out)
    assert sorted(r.id for r in out.collect()) == list(range(5))


def test_segment_sweep_keeps_one_task_per_slab(spark):
    """The sweep's kernel holds a whole partition in memory, so its slabs
    are never merged into the core count's worth of tasks."""
    from osmcoastline_spark.operators.intersections import segment_sweep

    segs = spark.createDataFrame(
        [(i, 0, float(i), 0.0, float(i) + 0.5, 1.0) for i in range(12)],
        "ring_id long, idx int, x1 double, y1 double, x2 double, y2 double",
    )
    edges = [float(e) for e in range(1, 9)]
    assert segment_sweep(segs, edges).rdd.getNumPartitions() == len(edges) + 1 == 9
