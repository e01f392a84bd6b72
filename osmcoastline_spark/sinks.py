"""S6/S8 — multi-layer sink with snapshot checkpoints, lineage and metrics.

Production shape (north rule): each pipeline stage commits an Iceberg table
snapshot; resume = start from the last committed stage. This container has
no Iceberg runtime, so the same contract is implemented as parquet dirs plus
an atomic `_MANIFEST.json` written *after* the data — a stage directory
without a manifest is an uncommitted snapshot and is ignored on resume.

Spatial layout: geometry tables are written sorted by a Morton (Z-order)
code of their envelope center — the Iceberg sort-order / metadata-pruning
stand-in (reference's spatialite spatial index, output_database.cpp:241-256).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osmcoastline_spark.cells import morton_interleave_expr

MANIFEST = "_MANIFEST.json"


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with its row count observed by the write that executes it: the
    observation is the top node of the write plan, so the count is taken
    in the write's result stage (once per partition, even under task
    retry) and costs no job of its own."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def zorder_sorted(
    df: DataFrame, extent: tuple[float, float, float, float] | None = None
) -> DataFrame:
    """`df` sorted within each partition by the Morton code of its
    envelope center, or `df` unchanged when it carries no env_* columns.
    `extent` is the coordinate extent of the code (degrees by default).
    The helper column is dropped AFTER the sort: it is layout-only, and
    persisting it would give resumed tables (and shipped output dirs) a
    different schema than fresh-run tables and than manifest['schema']."""
    if not {"env_minx", "env_maxx", "env_miny", "env_maxy"} <= set(df.columns):
        return df
    cx = (F.col("env_minx") + F.col("env_maxx")) / 2
    cy = (F.col("env_miny") + F.col("env_maxy")) / 2
    code = (
        morton_interleave_expr(cx, cy, extent=extent)
        if extent is not None
        else morton_interleave_expr(cx, cy)
    )
    return df.withColumn("zorder", code).sortWithinPartitions("zorder").drop("zorder")


class CheckpointSink:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def exists(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._dir(stage), MANIFEST))

    def write(self, stage: str, df: DataFrame, *, spatial: bool = False,
              lineage: dict | None = None,
              extent: tuple[float, float, float, float] | None = None) -> int:
        """Commit a stage snapshot; returns row count. `extent` is the
        coordinate extent for the z-order layout (degrees by default;
        callers writing epsg=3857 geometry must pass the WebMercator
        square or the metre-valued envelopes degenerate the Morton
        code and the spatial file layout is silently lost)."""
        path = self._dir(stage)
        out = zorder_sorted(df, extent) if spatial else df
        out, obs = _counted(out)
        out.write.mode("overwrite").parquet(path)
        n = obs.get["rows"]
        manifest = {
            "stage": stage,
            "rows": n,
            "committed_at": time.time(),
            "schema": df.schema.simpleString(),
            "lineage": lineage or {},
        }
        tmp = os.path.join(path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, MANIFEST))
        return n

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if not self.exists(stage):
            raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
        return spark.read.parquet(self._dir(stage))

    def manifest(self, stage: str) -> dict:
        with open(os.path.join(self._dir(stage), MANIFEST)) as f:
            return json.load(f)

    def write_meta(self, stats: dict, options: dict) -> None:
        """S8: run metadata + options (reference output_database.cpp:91-137)."""
        with open(os.path.join(self.root, "meta.json"), "w") as f:
            json.dump({"stats": stats, "options": options, "written_at": time.time()}, f, indent=2)


class IcebergSink:
    """The same stage-snapshot contract as CheckpointSink, emitted as REAL
    Iceberg commits through the DataFrameWriterV2 surface (df.writeTo →
    createOrReplace is one atomic snapshot swap; Iceberg's own metadata
    layer replaces the _MANIFEST.json file dance). Activated by
    constructing with a catalog name — e.g. when
    SPARK_GRAFT_ICEBERG_CATALOG is set and the session was built with the
    matching `spark.sql.catalog.<name>` config — and falls back to
    CheckpointSink in this sandbox (no Iceberg runtime on the classpath).

    Lineage + row counts ride as table properties (`graft.lineage`,
    `graft.rows`, `graft.committed_at`) set right after the snapshot
    commit; resume-safety comes from Iceberg's atomic metadata pointer
    swap: a crashed write leaves the previous snapshot current, exactly
    like a missing manifest left the stage uncommitted."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "osmcoastline"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _table(self, stage: str) -> str:
        return f"{self.catalog}.{self.namespace}.{stage}"

    def exists(self, stage: str) -> bool:
        return self.spark.catalog.tableExists(self._table(stage))

    def write(self, stage: str, df: DataFrame, *, spatial: bool = False,
              lineage: dict | None = None,
              extent: tuple[float, float, float, float] | None = None) -> int:
        out = zorder_sorted(df, extent) if spatial else df
        name = self._table(stage)
        # graft.lineage (which carries the resume fingerprint) rides the
        # SAME atomic snapshot commit via tableProperty — a crash between
        # createOrReplace and a follow-up ALTER would otherwise leave a
        # table whose DATA is from the new inputs but whose missing
        # fingerprint the legacy-accept path in checkpointed.py would
        # validate against ANY inputs. The informational rows/committed_at
        # props still land in a post-commit ALTER (the count is known only
        # once the write ran); losing them to a crash costs manifest()
        # accuracy, never resume safety.
        out, obs = _counted(out)
        (
            out.writeTo(name)
            .using("iceberg")
            .tableProperty("graft.lineage", json.dumps(lineage or {}))
            .createOrReplace()
        )
        n = _observed_rows(df.sparkSession, obs)
        if n is None:
            n = self.spark.table(name).count()
        props = {
            "graft.rows": str(n),
            "graft.committed_at": str(time.time()),
        }
        # SQL-escape for Spark string literals: backslashes FIRST (Spark
        # processes \-escapes, so json.dumps output with \" or \\ would
        # store corrupted), then single quotes. An unescaped value would
        # break the statement AFTER the snapshot swap (round-4 ADVICE).
        def esc(v: str) -> str:
            return v.replace("\\", "\\\\").replace("'", "''")

        kv = ", ".join(f"'{esc(k)}' = '{esc(v)}'" for k, v in props.items())
        self.spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({kv})")
        return n

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        if not self.exists(stage):
            raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
        return spark.table(self._table(stage))

    def manifest(self, stage: str) -> dict:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._table(stage)}"
        ).collect()
        props = {r[0]: r[1] for r in rows}
        return {
            "stage": stage,
            "rows": int(props.get("graft.rows", "0")),
            "committed_at": float(props.get("graft.committed_at", "0")),
            "lineage": json.loads(props.get("graft.lineage", "{}")),
        }

    def write_meta(self, stats: dict, options: dict) -> None:
        payload = json.dumps(
            {"stats": stats, "options": options, "written_at": time.time()}
        )
        df = self.spark.createDataFrame([(payload,)], "meta_json string")
        df.writeTo(self._table("_run_meta")).using("iceberg").createOrReplace()


def _observed_rows(spark: SparkSession, obs: Observation) -> int | None:
    """The observed row count once the listener bus has delivered the
    write's metrics, or None when that write path reported none (a
    catalog whose write does not run the observed plan): unlike
    `obs.get`, this never blocks on metrics that will not come."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    if not obs._jo.future().isCompleted():
        return None
    return obs.get["rows"]


def make_sink(spark: SparkSession, root: str):
    """Sink factory: real Iceberg commits when SPARK_GRAFT_ICEBERG_CATALOG
    names a configured catalog, parquet+manifest CheckpointSink otherwise
    (this sandbox ships no Iceberg runtime)."""
    catalog = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG")
    if catalog:
        return IcebergSink(spark, catalog)
    return CheckpointSink(root)
