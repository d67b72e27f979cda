"""SparkSession factory with engine defaults.

Defaults chosen for the sandbox (single JVM, local[N]) but expressed so the
same config scales to a multi-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow on (all pandas-UDF exchange is vectorized),
shuffle partitions sized to cores locally — on a real cluster this would be
set to ~2-3x total executor cores or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "networkit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_s) if cpus_s and cpus_s.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Iterative kernels cut lineage every round with a parquet round-trip
        # (plans.scratch.write_cut), so each round's shuffle files become
        # garbage once the cut is read; clean them without blocking.
        .config("spark.cleaner.referenceTracking.blocking", "false")
        .config("spark.ui.enabled", os.environ.get("NKS_SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("NKS_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
