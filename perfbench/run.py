#!/usr/bin/env python3
"""Coastline pipeline benchmark.

    python3 perfbench/run.py --workload islands|dirty --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up starts one Spark driver at
local[nproc] while it generates the workload's inputs from the seed and
writes them to parquet, then warms up (see `setup`). Runs then go in a
closed loop - the next starts when the previous one ends - until the next
would end after S seconds; there is always one run. The first run is the
first pipeline run in the driver, as in a one-shot CLI run. Every run's
outputs are checked (check.py). Human-readable lines go first; the last
line of stdout is one JSON object with `correct`, `attempted`, `failed`
and `metrics`.

--trace 0 reports the end-to-end metrics: medians over the runs, and the
set-up time. --trace 1 makes one run with every layer traced (spans.py)
and reports its per-layer metrics and the geometry kernel times
(kernels.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"

END_TO_END = {
    "pipeline_s": "s",
    "features_per_s": "1/s",
    "spark_jobs": "count",
    "cpu_s": "s",
    "setup_s": "s",
}
SNAPSHOTS = ("rings_closed", "rings_open")
# features_per_s counts rings plus the rows of these output tables
FEATURE_TABLES = ("land_polygons", "water_polygons", "lines")


@dataclass(frozen=True)
class Workload:
    options: dict  # plans.pipeline.Options
    outputs: dict  # output table -> layer whose span materializes it
    snapshots: bool  # commit ring snapshots to a CheckpointSink, then resume


WORKLOADS = {
    "islands": Workload(
        {"output_polygons": "both", "water_cell_deg": 4.0, "max_points_in_polygon": 500},
        {"land_polygons": "split", "water_polygons": "water"},
        snapshots=False,
    ),
    "dirty": Workload(
        {"output_rings": True, "output_lines": True, "output_polygons": "none"},
        {"rings": "rings", "lines": "lines"},
        snapshots=True,
    ),
}


def _no_span(name, layer, root=False):
    return nullcontext()


class Meter:
    """Wall time, Spark jobs, process-tree CPU and peak driver memory of
    the code inside the `with` block."""

    def __init__(self, spark):
        from pyspark import SparkContext

        self.sc = spark.sparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid

    def __enter__(self):
        from host import RssPeak, cpu_ticks, tree_cpu_s
        from spans import next_job_id

        self.rss = RssPeak([os.getpid(), self.jvm_pid]).__enter__()
        self.ticks = cpu_ticks()
        self.cpu0 = tree_cpu_s(os.getpid())
        self.job0 = next_job_id(self.sc)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        from host import cpu_ticks, steal_share, tree_cpu_s
        from spans import next_job_id

        self.wall_s = time.perf_counter() - self.t0
        self.jobs = next_job_id(self.sc) - self.job0
        self.cpu_s = tree_cpu_s(os.getpid()) - self.cpu0
        self.steal = steal_share(self.ticks, cpu_ticks())
        self.rss.__exit__(*exc)


@dataclass
class Run:
    meter: Meter
    resume_s: float | None
    outcome: dict
    sink_dir: str | None
    bad: list
    end_job: int  # first job after the run and its resume


def _read(spark, dirs):
    return spark.read.parquet(dirs[0]), spark.read.parquet(dirs[1])


def run_once(spark, name: str, dirs, span, run_no, all_digests: bool) -> Run:
    """One run: from the call into run_pipeline until every output table
    is materialized - by its digest job, inside the span of the layer that
    built it. With snapshots, the resume (load and count the committed
    ring snapshots) is timed on its own. `all_digests` also digests the
    error and segment tables, after the timed part."""
    from check import digest, outcome
    from osmcoastline_spark.plans.pipeline import Options, run_pipeline
    from osmcoastline_spark.sinks import CheckpointSink
    from osmcoastline_spark.util import run_concurrently
    from spans import next_job_id

    w = WORKLOADS[name]
    nodes, ways = _read(spark, dirs)
    sink = CheckpointSink(str(WORK / f"sink-{run_no}")) if w.snapshots else None

    def materialize(table, layer):
        with span(f"materialize {table}", layer):
            return table, digest(res.tables[table])

    with Meter(spark) as m:
        with span("run_pipeline", "pipeline", root=True):
            res = run_pipeline(spark, nodes, ways, Options(**w.options), mid_sink=sink)
        digests = dict(run_concurrently(
            *(lambda t=t, layer=layer: materialize(t, layer) for t, layer in w.outputs.items())
        ))
    resume_s, bad = None, []
    if sink is not None:
        t0 = time.perf_counter()
        with span("resume", "sinks"):
            loaded = {t: sink.read(spark, t).count() for t in SNAPSHOTS}
        resume_s = time.perf_counter() - t0
        committed = {t: sink.manifest(t)["rows"] for t in SNAPSHOTS}
        if loaded != committed:
            bad.append(f"resumed {loaded}, committed {committed}")
    end_job = next_job_id(spark.sparkContext)
    if all_digests:
        for t in ("error_points", "error_lines", "segments"):
            digests[t] = digest(res.tables[t])
    out = outcome(res, digests)
    res.unpersist()
    return Run(m, resume_s, out, sink and sink.root, bad, end_job)


# ---------------------------------------------------------------- driver


def start_spark(cores: int):
    from osmcoastline_spark.session import get_spark

    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from host import descendants
    from pyspark import SparkContext

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(_alive(p) for p in children):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def host_line(spark, m: Meter) -> str:
    """Host context of a run; recorded, never a gate."""
    from host import shm_eligible

    spill = spark.sparkContext.getConf().get("spark.local.dir", "")
    load = os.getloadavg()
    return (
        f"host: load={load[0]:.2f}/{load[1]:.2f}/{load[2]:.2f} steal={100 * m.steal:.1f}% "
        f"spill_dir={spill} shm_spill={spill.startswith('/dev/shm')} "
        f"shm_eligible={shm_eligible()}"
    )


def setup(workload: str, seed: int, cores: int):
    """Start Spark while the inputs are generated and written."""
    import inputs

    with ThreadPoolExecutor(max_workers=1) as pool:
        starting = pool.submit(start_spark, cores)
        inp = inputs.GENERATORS[workload](seed)
        dirs = inputs.write_parquet(inp, str(WORK / "input"))
        spark = starting.result()
    return spark, inp, dirs


def _features(out: dict) -> int:
    return out["stats"].get("rings", 0) + sum(out["counts"].get(t, 0) for t in FEATURE_TABLES)


def measure(args, spark, inp, dirs, setup_s: float):
    """--trace 0: closed loop of runs for args.seconds."""
    from check import PIN_SEED, check, save_pin

    runs, failed, raised = [], 0, 0
    t_end = time.perf_counter() + args.seconds
    while True:
        t_run = time.perf_counter()
        try:
            r = run_once(spark, args.workload, dirs, _no_span, len(runs),
                         all_digests=args.seed == PIN_SEED)
        except Exception:
            raised += 1
            failed += 1
            traceback.print_exc()
            print(f"run {len(runs) + 1}: raised")
            break
        m, out = r.meter, r.outcome
        bad = r.bad + check(args.workload, args.seed, out, inp.facts, pins=not args.pin)
        failed += bool(bad)
        runs.append({
            "pipeline_s": m.wall_s, "features_per_s": _features(out) / m.wall_s,
            "spark_jobs": m.jobs, "cpu_s": m.cpu_s, "peak_rss_mb": m.rss.peak_mb,
            "resume_s": r.resume_s,
        })
        print(
            f"run {len(runs)}: pipeline_s={m.wall_s:.3f} spark_jobs={m.jobs} cpu_s={m.cpu_s:.2f} "
            f"peak_rss_mb={m.rss.peak_mb:.0f} features={_features(out)}"
            + (f" resume_s={r.resume_s:.3f}" if r.resume_s is not None else "")
            + f" check={'ok' if not bad else 'FAILED'}"
        )
        print("  " + host_line(spark, m))
        for line in bad:
            print(f"  check: {line}")
        if args.pin and not bad:
            save_pin(args.workload, out)
            print(f"  pinned the {args.workload} outcome at seed {args.seed}")
        now = time.perf_counter()
        if now + (now - t_run) > t_end:
            break
    if not runs:
        return None, raised, failed
    metrics = {k: statistics.median(r[k] for r in runs) for k in END_TO_END if k != "setup_s"}
    metrics["setup_s"] = setup_s
    attempted = len(runs) + raised
    report = dict(metrics, error_rate=failed / attempted,
                  peak_rss_mb=statistics.median(r["peak_rss_mb"] for r in runs))
    if runs[0]["resume_s"] is not None:
        report["resume_s"] = statistics.median(r["resume_s"] for r in runs)
    units = dict(END_TO_END, error_rate="fraction", peak_rss_mb="MB", resume_s="s")
    print(f"{args.workload} seed={args.seed} runs={len(runs)} (medians)")
    for k, v in report.items():
        print(f"  {k:16s} {v:14.4f} {units[k]}")
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, attempted, failed


def traced(args, spark, inp, dirs):
    """--trace 1: the first run, with every layer traced."""
    from check import PIN_SEED, check
    from kernels import time_kernels
    from spans import LAYER_METRICS, SPARK_LAYERS, Tracer, patched

    tracer = Tracer(spark.sparkContext)
    with patched(tracer):
        r = run_once(spark, args.workload, dirs, tracer.span, "traced",
                     all_digests=args.seed == PIN_SEED)
    metrics = tracer.layer_metrics(r.meter.job0, r.end_job)
    bad = r.bad + check(args.workload, args.seed, r.outcome, inp.facts)
    metrics.update(time_kernels(inp.rings))
    s = r.outcome["stats"]
    before, after = s.get("land_polygons_before_split", 0), s.get("land_polygons_after_split", 0)
    opened = s.get("unconnected_nodes_before_close", 0) // 2
    metrics["split.pieces_per_polygon"] = after / before if before else 0.0
    metrics["close.fixed_per_open"] = s.get("rings_fixed", 0) / opened if opened else 0.0
    metrics["sinks.bytes_mb"] = _du(r.sink_dir) / 1e6 if r.sink_dir else 0.0
    metrics["sinks.resume_s"] = r.resume_s or 0.0
    metrics["pipeline.peak_rss_mb"] = r.meter.rss.peak_mb
    metrics["trace.overhead_s"] = tracer.overhead_s

    print(f"{args.workload} seed={args.seed} traced: pipeline_s={r.meter.wall_s:.3f} "
          f"spark_jobs={r.meter.jobs} check={'ok' if not bad else 'FAILED'}")
    print("  " + host_line(spark, r.meter))
    print("  digests: " + json.dumps(r.outcome["digests"], sort_keys=True))
    print(f"  split.pieces_per_polygon = {after} / {before}; "
          f"close.fixed_per_open = {s.get('rings_fixed', 0)} / {opened}")
    print(f"  {'span':42s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s}")
    for row in tracer.span_table():
        print(f"  {row['layer'] + ':' + row['name']:42s} {row['calls']:5d} "
              f"{row['wall_s']:8.3f} {row['self_s']:8.3f}")
    print(f"  {'layer':14s}" + "".join(f"{k:>15s}" for k in LAYER_METRICS))
    for layer in SPARK_LAYERS:
        print(f"  {layer:14s}" + "".join(f"{metrics[f'{layer}.{k}']:15.3f}" for k in LAYER_METRICS))
    for line in bad:
        print(f"  check: {line}")
    units = per_layer_units()
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, 1, int(bool(bad))


def per_layer_units() -> dict[str, str]:
    from spans import LAYER_METRICS, SPARK_LAYERS

    units = {f"{layer}.{k}": u for layer in SPARK_LAYERS for k, u in LAYER_METRICS.items()}
    for k in ("points_in_ring", "segment_intersections", "cut_ring_checked", "clip_ring_rect",
              "signed_area2"):
        units[f"geom.{k}_s"] = "s"
    units.update({
        "split.pieces_per_polygon": "ratio", "close.fixed_per_open": "ratio",
        "sinks.bytes_mb": "MB", "sinks.resume_s": "s",
        "pipeline.untagged_jobs": "count", "pipeline.peak_rss_mb": "MB", "trace.overhead_s": "s",
    })
    return units


def _du(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true", help="record the outcome as this workload's pin")
    args = p.parse_args(argv)
    if not (ROOT / "osmcoastline_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: no osmcoastline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(Path(__file__).parent)]

    shutil.rmtree(WORK, ignore_errors=True)
    t0 = time.perf_counter()
    spark = None
    try:
        spark, inp, dirs = setup(args.workload, args.seed, len(os.sched_getaffinity(0)))
        setup_s = time.perf_counter() - t0
        if args.trace:
            metrics, attempted, failed = traced(args, spark, inp, dirs)
        else:
            metrics, attempted, failed = measure(args, spark, inp, dirs, setup_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    if metrics is None:
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
