"""Format-pluggable table sinks (SURVEY.md §1.3).

The north-rule production target is an Iceberg TABLE
(``writeTo(...).overwritePartitions()``); this sandbox has no Iceberg
runtime, so every sink in the engine writes through this seam instead
of hard-coding ``.parquet()``: ``fmt="parquet"`` is the
fully-functional fallback (same partitioning layout), ``fmt="iceberg"``
targets a catalog table when one is configured and fails with an
actionable message when not.

Layout contract shared by both formats:
- an AQE ``REBALANCE(bucket_col)`` hint ahead of the write sizes the
  writer tasks from the data: adaptive execution coalesces the
  rebalance shuffle to ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
  (a small graph becomes one writer task, so one file per partition
  value) and splits oversized partitions. The hash is on the full key,
  so a hot domain (url skew, SURVEY.md §4) spreads across writers, and
  a single hot url may span several;
- ``partition_by`` columns become directory partitions (parquet) or
  identity partition fields (Iceberg) — pred for the graph, source for
  mentions — giving consumers partition pruning either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

FORMATS = ("parquet", "iceberg")


def write_table(
    df: DataFrame,
    target: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    bucket_col: str | None = None,
) -> None:
    """Write ``df`` to ``target`` — a filesystem path (parquet) or a
    catalog table name (iceberg) — overwriting previous contents.

    Iceberg path: ``overwritePartitions`` when the table already exists
    (the idempotent re-run shape: only partitions present in ``df`` are
    replaced), ``create`` with identity partitioning otherwise.

    ``bucket_col``: the column the writer tasks are rebalanced on; the
    task count comes from the data, not from a constant.
    """
    if fmt not in FORMATS:
        raise ValueError(f"fmt must be one of {FORMATS}, got {fmt!r}")
    if bucket_col is not None:
        df = df.hint("rebalance", F.col(bucket_col))

    if fmt == "parquet":
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        return

    try:
        if df.sparkSession.catalog.tableExists(target):
            df.writeTo(target).overwritePartitions()
        else:
            writer = df.writeTo(target)
            if partition_by:
                writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
            writer.create()
    except Exception as exc:  # noqa: BLE001 — surface the likely cause
        raise RuntimeError(
            f"iceberg write to {target!r} failed — this Spark session "
            "needs an Iceberg catalog (spark.sql.catalog.<name> = "
            "org.apache.iceberg.spark.SparkCatalog and the iceberg-spark-"
            "runtime jar on the classpath); use fmt='parquet' for the "
            f"filesystem fallback. Underlying error: {exc}"
        ) from exc
