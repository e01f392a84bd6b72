"""Small shared helpers."""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Observation, SparkSession


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


def aslist(v):
    """None/NaN → []; ndarray/list → list (Arrow hands nested arrays as
    numpy objects whose truthiness is ambiguous). Shared by every
    mapInPandas kernel that walks nested ring arrays — keep ONE
    definition (this was copy-pasted in four modules)."""
    if v is None:
        return []
    try:
        import math

        if isinstance(v, float) and math.isnan(v):
            return []
    except Exception:
        pass
    return list(v)
