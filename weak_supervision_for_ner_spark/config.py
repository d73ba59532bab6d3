"""SparkSession factory with scale-oriented defaults.

AQE (coalescing + skew-join splitting) and Arrow are on; shuffle
partitioning defaults to the local core count and should be raised to
~2-3x total cores on a real cluster. At production scale the catalog
config switches the ``pages``/``mentions``/``triples`` tables to
Iceberg (``spark.sql.catalog...``) — the sandbox has no Iceberg jar,
so parquet is used with identical table layouts.

On a local master, Python workers start from ``PYTHON_DAEMON_MODULE``
(``spark.python.daemon.module``), the package's ``worker_daemon``: it
keeps each zip archive's directory across tasks instead of re-reading
``pyspark.zip`` before every task (0.2-0.4 s a task on CPython 3.11).
The daemon starts before a task puts ``--py-files`` on ``sys.path``, so
a worker must import the package from its ``PYTHONPATH``:
``worker_daemon_conf`` adds the driver's copy of the package (its
directory, or the ``--py-files`` zip) to ``spark.executorEnv.PYTHONPATH``.
Other masters keep Spark's own daemon (``pyspark.daemon``): there an
executor need not see the package until a task runs. ``get_spark`` and
``jobs/run_pipeline.py`` both apply ``worker_daemon_conf``; an explicit
``--conf spark.python.daemon.module=...`` wins in ``run_pipeline.py``.

``get_spark`` returns an already running session as it is: static
settings (master, cores, daemon module, driver memory) apply only to a
new one, and a mismatch in master or daemon module is logged as a
warning.
"""

from __future__ import annotations

import logging
import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

PYTHON_DAEMON_MODULE = "weak_supervision_for_ner_spark.worker_daemon"


def worker_daemon_conf(conf: SparkConf) -> dict[str, str]:
    """The settings that start Python workers from ``PYTHON_DAEMON_MODULE``
    for a session built on ``conf``: none unless its master is local and
    it names no daemon module itself. The workers' ``PYTHONPATH`` keeps
    ``conf``'s entries and gains the driver's copy of the package."""
    if (not (conf.get("spark.master") or "").startswith("local")
            or conf.get("spark.python.daemon.module") is not None):
        return {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = conf.get("spark.executorEnv.PYTHONPATH")
    return {"spark.python.daemon.module": PYTHON_DAEMON_MODULE,
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in (path, root) if p)}


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
    master = f"local[{cores}]"
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
        .master(master)
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
    for key, value in worker_daemon_conf(SparkConf(loadDefaults=False).setMaster(master)).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    conf = spark.sparkContext.getConf()
    for key, wanted in (("spark.master", master),
                        ("spark.python.daemon.module", PYTHON_DAEMON_MODULE)):
        if conf.get(key) != wanted:
            logging.getLogger(__name__).warning(
                "get_spark reuses a running session whose %s is %r, not %r; "
                "static settings apply only to a new session",
                key, conf.get(key), wanted)
    return spark
