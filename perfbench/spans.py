"""Per-layer tracing from outside the engine.

`patched(tracer)` replaces, for the duration of a `with` block, each
operator function under the name `plans.pipeline` imports it as, and the
`CheckpointSink` read and write methods, with a wrapper that records a
span: name, layer, start, end, parent and thread.
The wrapper also sets a job group unique to the span on the calling
thread, so every Spark job started inside the call is tagged with it.

After a run, `Tracer.layer_metrics` reads the run's jobs and stages from
the driver's AppStatusStore (it works with the UI off), attributes each
stage to the span whose group its first job carries, and folds spans into
per-layer metrics. Jobs with no group - started on `run_concurrently` or
`_acct_pool` threads outside any wrapped call - count towards the
`pipeline` layer and its `untagged_jobs`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# layer -> names `plans.pipeline` uses for the operator functions it calls
LAYER_FUNCTIONS = {
    "filter": ["coastline_ways", "tagged_node_errors"],
    "locations": ["ways_with_locations"],
    "rings": ["assemble_rings", "route_rings"],
    "intersections": [
        "ring_segments",
        "duplicate_segment_counts",
        "duplicate_segments",
        "intersection_pairs",
        "ring_self_intersections",
    ],
    "antarctica": ["close_antarctica_ring"],
    "close": ["close_rings"],
    "repair": ["buffer0_triage", "check_polygons"],
    "polygonize": ["polygonize", "fix_direction"],
    "questionable": ["questionable_rings"],
    "split": ["split_polygons"],
    "water": ["water_polygons", "drop_antimeridian_slivers"],
    "lines": ["rings_to_lines"],
}
SPARK_LAYERS = [*LAYER_FUNCTIONS, "sinks", "pipeline"]
LAYER_METRICS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "failed_tasks": "count",
}
_GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    thread: int


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None  # parent of spans on fresh threads
        # time spent in the wrappers' own bookkeeping: what tracing adds to
        # the traced calls
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, *, root: bool = False):
        """A span on the calling thread; `root` makes it the parent of
        spans opened on threads that have no open span."""
        t_enter = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{sid}")
        if root:
            prev_root, self._root = self._root, sid
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            if root:
                self._root = prev_root
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(
                    Span(sid, name, layer, start, end, parent, threading.get_ident())
                )
                self.overhead_s += start - t_enter + time.perf_counter() - end

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------ metrics

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.sid] = s.end - s.start - covered
        return out

    def layer_metrics(self, first_job: int, end_job: int) -> dict[str, float]:
        """Per-layer metrics for jobs [first_job, end_job) and the spans
        recorded so far. Waits for the listener bus so every finished
        task's metrics are in the status store."""
        jobs, stages = read_status_store(self.sc)
        ids = {j["jobId"] for j in jobs}
        missing = set(range(first_job, end_job)) - ids
        if missing:
            raise RuntimeError(
                f"{len(missing)} jobs of the run are no longer retained by the "
                "status store; raise spark.ui.retainedJobs"
            )
        layer_of = {s.sid: s.layer for s in self.spans}
        m = {f"{layer}.{k}": 0.0 for layer in SPARK_LAYERS for k in LAYER_METRICS}
        m["pipeline.untagged_jobs"] = 0
        stage_layer: dict[int, str] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            if not first_job <= j["jobId"] < end_job:
                continue
            group = j["jobGroup"] or ""
            if group.startswith(_GROUP_PREFIX):
                layer = layer_of[int(group[len(_GROUP_PREFIX):])]
            else:
                layer = "pipeline"
                m["pipeline.untagged_jobs"] += 1
            m[f"{layer}.jobs"] += 1
            for sid in j["stageIds"]:
                stage_layer.setdefault(sid, layer)  # first job that lists it ran it
        lost = set(stage_layer) - {st["stageId"] for st in stages}
        if lost:
            raise RuntimeError(
                f"{len(lost)} stages of the run are no longer retained by the "
                "status store; raise spark.ui.retainedStages"
            )
        for st in stages:
            layer = stage_layer.get(st["stageId"])
            if layer is None or st["status"] == "SKIPPED":
                continue
            m[f"{layer}.tasks"] += st["numTasks"]
            m[f"{layer}.executor_run_s"] += st["executorRunTime"] / 1e3
            m[f"{layer}.shuffle_mb"] += (st["shuffleReadBytes"] + st["shuffleWriteBytes"]) / 1e6
            m[f"{layer}.spill_mb"] += st["memoryBytesSpilled"] / 1e6
            m[f"{layer}.failed_tasks"] += st["numFailedTasks"] + st["numKilledTasks"] + (
                st["numTasks"] if st["attemptId"] > 0 else 0
            )
        selfs = self.self_times()
        for s in self.spans:
            m[f"{s.layer}.self_s"] += selfs[s.sid]
        return m

    def span_table(self) -> list[dict]:
        """Spans aggregated by (layer, name): calls, wall and self time."""
        selfs = self.self_times()
        rows: dict[tuple, dict] = {}
        for s in self.spans:
            r = rows.setdefault((s.layer, s.name), {"layer": s.layer, "name": s.name,
                                                    "calls": 0, "wall_s": 0.0, "self_s": 0.0})
            r["calls"] += 1
            r["wall_s"] += s.end - s.start
            r["self_s"] += selfs[s.sid]
        return sorted(rows.values(), key=lambda r: -r["wall_s"])


def read_status_store(sc) -> tuple[list[dict], list[dict]]:
    """All retained jobs and stage attempts, as JSON-decoded dicts."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_module, "MODULE$"))
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(empty())))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(empty(), False, False, sc._gateway.new_array(jvm.double, 0), empty())
        )
    )
    return jobs, stages


def next_job_id(sc) -> int:
    """Id the next submitted job will get: job-id deltas count every job,
    however many the status store still retains."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def _targets():
    from osmcoastline_spark.plans import pipeline
    from osmcoastline_spark.sinks import CheckpointSink

    for layer, names in LAYER_FUNCTIONS.items():
        for name in names:
            yield pipeline, name, layer
    yield CheckpointSink, "write", "sinks"
    yield CheckpointSink, "read", "sinks"


@contextmanager
def patched(tracer: Tracer):
    """Wrap every traced function; restore the originals on exit."""
    saved = []
    try:
        for owner, name, layer in _targets():
            orig = owner.__dict__[name]
            saved.append((owner, name, orig))
            setattr(owner, name, tracer.wrap(orig, name, layer))
        yield tracer
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)
