"""SparkSession factory with scale-oriented defaults.

Defaults are tuned for correctness tests on local[*]; on a real cluster the
same knobs hold: AQE on (runtime skew-join + partition coalescing), Arrow
batches sized for the Python stages (every one is a mapInArrow stage),
explicit shuffle partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "osmcoastline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Executor python workers must be able to import this package — the
    # local equivalent of `spark-submit --py-files osmcoastline_spark.zip`.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-plan, skew-join splitting, partition
        # coalescing — complements (does not replace) our explicit salting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing floors partitions at minPartitionSize (1 MB
        # default) — a few-MB shuffle feeding a Python stage then
        # collapses to ONE task and serializes the Python work, even with
        # parallelismFirst. Geometry kernels cost per ROW, not per byte:
        # keep tiny shuffles spread across the cores.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # Arrow for toPandas / createDataFrame(pandas) on the driver; the
        # pipeline's own Python stages are mapInArrow (util.arrow_stage)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: framing/flush overhead amortizes ~6×
        # better than the 10k default for the columnar kernels (a batch of
        # flat coordinate rows is ~3 MB — still cache-friendly); per-ROW
        # work in the geometry kernels is unaffected by batch size
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 16 MB advisory shuffle chunks (default 64 MB): the big kernel
        # stages otherwise coalesce to fewer tasks than cores×waves
        # (measured: 840 MB regroup shuffle → 15 tasks → half-idle second
        # wave on 8 cores); minPartitionSize=16k above still prevents the
        # tiny-shuffle single-task collapse
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # 32 MB scan splits (default 128 MB): the geometry kernels cost
        # CPU per row, not per byte — a 9-file-partition scan caps the
        # whole map side at 9-way parallelism regardless of cores
        # (measured on the intersect kernel: 36 s of explode+bbox-cover
        # CPU stuck in 9 tasks). Small inputs stay single-task via
        # filesOpenCostInBytes as before.
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (driver-loop overhead); SPARK_GRAFT_UI=1 turns
        # it on for harness runs that read shuffle metrics over the REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
    )
    # Shuffle files + block-manager spill go to tmpfs when available: on a
    # shared-disk host, co-tenant I/O makes identical runs swing 2-4x; a
    # real cluster has per-executor local disks. BUT spill happens exactly
    # when memory is scarce, so RAM-backed tmpfs is only safe when /dev/shm
    # actually has headroom (round-3 ADVICE): require ≥8 GiB free, else
    # degrade to the disk default. SPARK_GRAFT_LOCAL_DIR always wins;
    # SPARK_GRAFT_NO_TMPFS=1 disables the tmpfs redirect outright.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (
        local_dir is None
        and not os.environ.get("SPARK_GRAFT_NO_TMPFS")
        and os.path.isdir("/dev/shm")
    ):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 << 30:
                local_dir = "/dev/shm/spark-graft-local"
        except OSError:
            pass
    if local_dir:
        try:
            os.makedirs(local_dir, exist_ok=True)
            b = b.config("spark.local.dir", local_dir)
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
