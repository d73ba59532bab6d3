"""One reducer for the EM driver loops: per-partition partial sums,
collected and summed on the driver.

The HMM E-step, the HMM prior-count pass and the label model's E-step
all reduce a corpus to a few fixed-shape float matrices. Each runs its
``accumulate`` once per partition inside ``mapInPandas`` (map-side
combine: one row per partition), and the driver sums the rows.

On a large cluster a flat collect would ship one row per partition —
~2.3 MB for the HMM's emission counts, ~23 GB at 10k partitions — so
at ``defaultParallelism >= TREE_MIN_PARALLELISM`` a tree-combine level
(``groupBy(partition_id % TREE_FANIN)``) pre-sums the rows and the
driver receives at most ``TREE_FANIN`` of them. Small and local runs
skip the extra shuffle.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

TREE_MIN_PARALLELISM = 128
TREE_FANIN = 32


def sum_partials(
    frame: DataFrame,
    accumulate: Callable[[Iterator[pd.DataFrame]], dict],
    shapes: dict[str, tuple],
) -> dict:
    """Sum ``accumulate(batches) -> {name: ndarray | float}`` over every
    partition of ``frame``. ``shapes`` names each partial with its array
    shape; ``()`` marks a float scalar. Arrays travel as packed float64
    bytes. The collect is the only action: no count, no partition
    probe."""
    schema = T.StructType([
        T.StructField(name, T.DoubleType() if shape == () else T.BinaryType())
        for name, shape in shapes.items()
    ])

    def pack(sums: dict) -> pd.DataFrame:
        return pd.DataFrame({
            name: [float(sums[name]) if shape == ()
                   else np.asarray(sums[name], dtype=np.float64).tobytes()]
            for name, shape in shapes.items()
        })

    def partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield pack(accumulate(batches))

    stats = frame.mapInPandas(partition, schema=schema)
    if frame.sparkSession.sparkContext.defaultParallelism >= TREE_MIN_PARALLELISM:
        stats = (
            stats
            .withColumn("g", F.spark_partition_id() % F.lit(TREE_FANIN))
            .groupBy("g")
            .applyInPandas(
                lambda _key, pdf: pack(_sum_rows(pdf.to_dict("records"), shapes)),
                schema=schema,
            )
        )
    return _sum_rows(stats.collect(), shapes)


def _sum_rows(rows, shapes: dict[str, tuple]) -> dict:
    """Unpack and add the rows in the order given, from zero."""
    sums = {name: 0.0 if shape == () else np.zeros(shape)
            for name, shape in shapes.items()}
    for row in rows:
        for name, shape in shapes.items():
            if shape == ():
                sums[name] += row[name]
            else:
                sums[name] += np.frombuffer(row[name]).reshape(shape)
    return sums
