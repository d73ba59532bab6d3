"""SparkSession factory with scale-oriented defaults.

AQE (coalescing + skew-join splitting) and Arrow are on; shuffle
partitioning defaults to the local core count and should be raised to
~2-3x total cores on a real cluster. At production scale the catalog
config switches the ``pages``/``mentions``/``triples`` tables to
Iceberg (``spark.sql.catalog...``) — the sandbox has no Iceberg jar,
so parquet is used with identical table layouts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run
    on — never more workers than the host can schedule."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "weak_supervision_for_ner_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or _default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # One BLAS thread per Python worker (workers run one-per-core);
    # set in the driver env BEFORE the JVM starts so local-mode python
    # workers inherit it, and in executorEnv for cluster mode.
    blas_vars = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
    for var in blas_vars:
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder
        .appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for var in blas_vars:
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    return builder.getOrCreate()
