"""Small shared helpers."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def materialize(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """`df.localCheckpoint(eager=True)`, plus aggregate `metrics` computed
    in the same Spark job: returns (checkpoint, {name: value}).

    Each metric is an aggregate Column (count, sum, min, ...) over the rows
    of `df`; an aggregate over zero rows gives what a separate action
    would (count 0, sum/min None). The observation is the top node of
    the plan the checkpoint executes, so it runs in the result stage,
    where Spark applies accumulator updates once per partition even when
    a task is retried — and a count that would otherwise be its own job
    (two under AQE) costs nothing."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    return observed.localCheckpoint(eager=True), obs.get


def inherit_local_properties(fn: Callable) -> Callable:
    """`fn`, wrapped to run with the calling thread's Spark local
    properties and job tags as they are now — the job group among them —
    on whichever driver thread calls it. Without this, a job started on a
    pool thread belongs to no group."""
    return inheritable_thread_target(SparkSession.active())(fn)


def run_concurrently(*thunks: Callable):
    """Run independent Spark actions in parallel driver threads and return
    their results in argument order.

    Local-mode job submission costs ~0.2 s of driver scheduling per job
    regardless of data size (BENCH/BASELINE.md §1); overlapping
    independent count/collect DAGs hides that floor. Spark's scheduler is
    thread-safe for concurrent actions on one session. Each thunk runs
    with the caller's local properties (job group, description), so its
    jobs are listed under the caller's job group.
    """
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit_local_properties(t)) for t in thunks]
        return [f.result() for f in futures]


def ensure_min_parallelism(df, factor: int = 2):
    """Repartition an under-parallel input before compute-heavy narrow
    stages (spark_optimization_guide §2.5: 'one huge unsplittable file …
    repartition immediately after the read').

    The driver testdata ships each table as ONE single-row-group parquet
    file, so every scan is exactly one task and per-row kernels (md5
    signatures, regex features) serialize on one core regardless of
    cluster size. A round-robin repartition to defaultParallelism costs
    one tiny exchange of the raw rows and parallelizes everything above
    it. No-op when the input already has ≥ defaultParallelism/factor
    partitions — healthy multi-file inputs at scale never pay the extra
    shuffle. Row-set identical (repartition reorders, never changes rows;
    sort-before-repartition keeps the placement deterministic)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur * factor < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------ Arrow boundary
#
# Every Python stage of the pipeline crosses the JVM boundary here: it is a
# mapInArrow stage (`arrow_stage`) whose kernel reads its list columns as
# numpy views (`list_views`, `column_rows`) and writes them back as Arrow
# list arrays (`pack`, `from_views`, `list_array`). Every frame the driver
# builds (merge plans, error rows, the meta tables) enters through
# `local_frame`.


def _level(arr: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """One nesting level of a list column: offsets rebased to 0 on this
    array (a null list reads as empty) and its child values. A column of
    a sliced batch shares its child array with its neighbours, and its
    raw `.offsets` index that shared child; the rebased offsets index the
    values returned here."""
    lengths = pc.list_value_length(arr).fill_null(0).to_numpy()
    offsets = np.zeros(len(arr) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return offsets, arr.flatten()


def list_views(arr: pa.Array) -> tuple[np.ndarray, ...]:
    """(offsets, ..., values) of a list column: one rebased offsets array
    per nesting level — list<double> gives (offsets, values),
    list<list<double>> (outer, inner, values) — and the leaf values as
    numpy (zero-copy for doubles without nulls). Row i of a list<double>
    is values[offsets[i]:offsets[i + 1]]."""
    levels = []
    while pa.types.is_list(arr.type):
        offsets, arr = _level(arr)
        levels.append(offsets)
    return (*levels, arr.to_numpy(zero_copy_only=False))


def column_rows(arr: pa.Array) -> list:
    """The rows of a column as Python values: a numpy view per row of a
    list of numbers, a list of them per row of nested lists, a dict of
    field values per struct, a Python scalar otherwise; None for a null
    row."""
    t = arr.type
    if pa.types.is_list(t):
        offsets, child = _level(arr)
        items = (
            column_rows(child)
            if pa.types.is_nested(child.type)
            else child.to_numpy(zero_copy_only=False)
        )
        rows = [items[offsets[i] : offsets[i + 1]] for i in range(len(arr))]
    elif pa.types.is_struct(t):
        names = [t.field(i).name for i in range(t.num_fields)]
        cols = [column_rows(arr.field(i)) for i in range(t.num_fields)]
        rows = [dict(zip(names, vals)) for vals in zip(*cols)]
    else:
        return arr.to_pylist()
    if arr.null_count:
        for i in np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False)):
            rows[i] = None
    return rows


def list_array(
    offsets: np.ndarray, values: pa.Array | np.ndarray, null=None, type: pa.DataType | None = None
) -> pa.ListArray:
    """A list column from offsets starting at 0 and its child values,
    rows where `null` is true null. pyarrow refuses a null mask over
    offsets that are a slice of a larger array ("Null bitmap with offsets
    slice not supported"); offsets built fresh, as `list_views` and
    `pack` build them, never are."""
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()),
        values,
        type=type,
        mask=None if null is None else pa.array(null, pa.bool_()),
    )


def from_views(*views) -> pa.ListArray:
    """The inverse of `list_views`: a list column from offsets (outermost
    first, each starting at 0) and leaf values. No row is null."""
    *levels, values = views
    arr = pa.array(values)
    for offsets in reversed(levels):
        arr = list_array(offsets, arr)
    return arr


def pack(rows, type: pa.DataType) -> pa.Array:
    """A column of Arrow `type` from Python rows: for a list type, each
    row a sequence (a numpy array, a list or, for nested lists, a
    sequence of those) or None for a null row; otherwise the values."""
    if not pa.types.is_list(type):
        return pa.array(rows, type=type)
    null = np.fromiter((r is None for r in rows), dtype=bool, count=len(rows))
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([0 if r is None else len(r) for r in rows], out=offsets[1:])
    inner = type.value_type
    kept = [r for r in rows if r is not None]
    if pa.types.is_nested(inner):
        values = pack([x for r in kept for x in r], inner)
    else:
        dtype = inner.to_pandas_dtype()
        parts = [np.asarray(r, dtype=dtype) for r in kept]
        values = pa.array(np.concatenate(parts) if parts else np.empty(0, dtype), type=inner)
    return list_array(offsets, values, null if null.any() else None, type)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Rows built on the driver — tuples in the column order of `schema`
    (a DDL string or StructType), list columns as sequences — as a frame
    over a LocalRelation: the rows cross to the JVM as one Arrow table
    and live in the plan itself. A join broadcasts them and an aggregate
    reads them without a job or an RDD scan of their own; a plain list
    handed to `createDataFrame` becomes a parallelized RDD, which pays
    per-row pickling and a scan stage per consumer. Zero rows give an
    empty LocalRelation of the same schema."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pack(c, f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)


def arrow_stage(
    df: DataFrame, kernel: Callable[[Iterator[pa.RecordBatch]], Iterator[dict]], schema
) -> DataFrame:
    """`df.mapInArrow` over `kernel`, which maps the partition's Arrow
    batches to output batches given as {column: values}: an Arrow array,
    a numpy array or what `pack` takes, each brought to its type in
    `schema` (a DDL string or StructType, converted to Arrow once, here
    on the driver). Outputs with no rows are dropped."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)

    def column(v, t: pa.DataType) -> pa.Array:
        if isinstance(v, pa.Array):
            return v if v.type == t else v.cast(t)
        return pack(v, t)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for cols in kernel(batches):
            out = pa.RecordBatch.from_arrays(
                [column(cols[f.name], f.type) for f in arrow_schema], schema=arrow_schema
            )
            if out.num_rows:
                yield out

    return df.mapInArrow(run, struct)
