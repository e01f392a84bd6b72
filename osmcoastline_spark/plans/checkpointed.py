"""Resumable pipeline: per-stage snapshot checkpoints with lineage+metrics.

North-rule contract: every expensive stage commits a snapshot (parquet +
atomic manifest here; Iceberg snapshot in production); a re-run resumes from
the last committed stage instead of recomputing. Stage order:

    rings_closed / rings_open   (after R1 assembly)
    segments                    (S4 canonical table)
    rings_merged                (after R2 close — merged open rings)
    land_polygons / water_polygons / lines / error tables

Resume rule: a stage is loaded iff its manifest exists and its lineage
carries this run's fingerprint; everything downstream of the first
missing or mismatched stage recomputes. Only file-backed inputs have a
fingerprint: a run over an in-memory frame commits but never resumes.
`PipelineRun.loaded` records which stages came from snapshots (tested in
tests/test_checkpointed.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from osmcoastline_spark.plans.pipeline import Options, PipelineResult, run_pipeline
from osmcoastline_spark.sinks import CheckpointSink
from osmcoastline_spark.util import local_frame

FINAL_TABLES = [
    "land_polygons",
    "water_polygons",
    "lines",
    "rings",
    "error_points",
    "error_lines",
    "segments",
]


@dataclass
class PipelineRun:
    result: PipelineResult
    loaded: list = field(default_factory=list)  # stages served from snapshots
    committed: list = field(default_factory=list)


def _run_fingerprint(opt: Options, nodes, ways) -> str | None:
    """Identity of (options, inputs) a snapshot was produced from, or None
    when either input has no files.

    File-based inputs are identified by their file lists (DataFrame
    .inputFiles()). An in-memory frame has no stable identity (its schema
    says nothing of its rows), so a run over one gets no fingerprint: it
    still commits its tables, and no run resumes from them."""
    import hashlib
    import json

    files = [list(nodes.inputFiles()), list(ways.inputFiles())]
    if not all(files):
        return None
    blob = json.dumps(
        {
            "options": str(opt),
            "inputs": sorted(files[0] + files[1]),
            "schemas": [nodes.schema.simpleString(), ways.schema.simpleString()],
        },
        sort_keys=True,
    )
    return hashlib.md5(blob.encode()).hexdigest()


def _snapshot_matches(sink: CheckpointSink, stage: str, fp: str | None) -> bool:
    """True iff the stage is committed with exactly this fingerprint. A
    manifest without one was not written by `run_checkpointed` and could
    come from any inputs, and a run over in-memory inputs has none (None),
    so neither ever matches."""
    return (
        fp is not None
        and sink.exists(stage)
        and sink.manifest(stage)["lineage"].get("fingerprint") == fp
    )


def run_checkpointed(
    spark: SparkSession, nodes, ways, options: Options | None, sink: CheckpointSink
) -> PipelineRun:
    """Run the pipeline with stage snapshots.

    Round-1 granularity: if ALL final tables are committed, load everything
    (full resume); otherwise run the pipeline and commit every final table
    plus the run metrics. (Finer-grained mid-pipeline resume — e.g. reusing
    rings_closed while recomputing water — hooks in here by checking the
    intermediate stage names before run_pipeline.)
    """
    opt = options or Options()
    res = PipelineResult()
    run = PipelineRun(result=res)

    # option-dependent subset of FINAL_TABLES (one list, filtered — so the
    # stage inventory can't silently diverge from the constant)
    include = {
        "error_points": True,
        "error_lines": True,
        "segments": True,
        "land_polygons": opt.output_polygons in ("land", "both"),
        "water_polygons": opt.output_polygons in ("water", "both"),
        "lines": opt.output_lines,
        "rings": opt.output_rings,
    }
    wanted = [t for t in FINAL_TABLES if include[t]]

    # a resume is only valid for the SAME (options, inputs) the snapshots
    # were produced from — without the check, re-running against new data
    # into an old sink dir silently returned the stale tables
    fp = _run_fingerprint(opt, nodes, ways)

    # _meta_done must match too: it is the one marker that can survive
    # from a DIFFERENT run — e.g. run B recommits every table with fp2 and
    # crashes before its marker, leaving run A's fp1 marker next to fp2
    # tables; resuming would attach run A's stats/warnings/errors (and
    # exit code) to run B's tables.
    if all(_snapshot_matches(sink, t, fp) for t in [*wanted, "_meta_done"]):
        for t in wanted:
            res.tables[t] = sink.read(spark, t)
            run.loaded.append(t)
        meta = sink.manifest("_meta_done")["lineage"]
        res.stats = meta.get("stats", {})
        res.warnings = meta.get("warnings", 0)
        res.errors = meta.get("errors", 0)
        return run

    # finer-grained resume: a crash after R1 assembly leaves committed
    # rings_closed/rings_open snapshots — restart the pipeline FROM them
    # (skipping the location join + assembly) instead of recomputing
    if _snapshot_matches(sink, "rings_closed", fp) and _snapshot_matches(sink, "rings_open", fp):
        pre = sink.manifest("rings_closed")["lineage"]["stats_pre"]
        res2 = run_pipeline(
            spark, nodes, ways, opt,
            preassembled=(sink.read(spark, "rings_closed"),
                          sink.read(spark, "rings_open"), pre),
        )
        run.loaded.extend(["rings_closed", "rings_open"])
    else:
        # the mid-pipeline ring snapshots must carry the same fingerprint
        # (CheckpointSink is a plain holder; run_pipeline forwards this)
        sink.run_lineage = {"fingerprint": fp}
        res2 = run_pipeline(spark, nodes, ways, opt, mid_sink=sink)
        run.committed.extend(
            [("rings_closed", sink.manifest("rings_closed")["rows"]),
             ("rings_open", sink.manifest("rings_open")["rows"])]
            if sink.exists("rings_closed")
            else []
        )
    run.result = res2
    from osmcoastline_spark.geom import MERC

    extent = (-MERC, MERC, -MERC, MERC) if opt.epsg == 3857 else None
    for t in wanted:
        if t in res2.tables:
            n = sink.write(
                t,
                res2.tables[t],
                spatial=t in ("land_polygons", "water_polygons"),
                lineage={"stage": t, "options": str(opt), "fingerprint": fp},
                extent=extent,
            )
            run.committed.append((t, n))
    # the meta marker commits LAST, carries the fingerprint, and is only
    # written when THIS run committed the full wanted set: a crash
    # mid-write leaves no marker and the next run recomputes (no torn
    # resume), and an early-abort run (e.g. missing locations — no tables
    # produced) must not overwrite a complete prior run's marker with its
    # own errors
    if all(t in res2.tables for t in wanted):
        sink.write(
            "_meta_done",
            local_frame(spark, [(1,)], "ok int"),
            lineage={"stats": run.result.stats, "warnings": run.result.warnings,
                     "errors": run.result.errors, "fingerprint": fp},
        )
    return run
