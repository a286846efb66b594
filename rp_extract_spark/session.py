"""SparkSession factory tuned for this engine.

Local-mode defaults for the sandbox; the same settings scale to a real
cluster (AQE, Arrow batching, sane shuffle partitioning). On a cluster
you would additionally ship the package via ``spark-submit --py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing: rows per batch the JVM sends to every Python
# stage. ``_prims.arrow_stage`` works through each batch
# ``STAGE_SLICE_ROWS`` (256) rows at a time and the batched kernel
# stacks at most 2^18 pixels, so their Python memory does not grow
# with this value.
ARROW_BATCH_ROWS = 1024


def _default_driver_memory() -> str:
    """24g, capped at half the host's physical RAM (local mode runs
    every executor inside the driver JVM)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(24 << 10, ram_mb // 2)}m"


def get_spark(
    app_name: str = "rp_extract_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # one BLAS thread per python worker: the kernel's matmuls are tiny
    # (24xh @ hxw); N workers x N BLAS threads thrashes the box and
    # makes the UDF stage *slower* than single-core. Parallelism comes
    # from partitions, not intra-op threads.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
