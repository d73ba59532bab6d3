"""weak_supervision_for_ner_spark — a from-scratch, PySpark-native
knowledge-graph construction engine with the query/data-processing
capabilities of NorskRegnesentral/weak-supervision-for-NER.

Architecture (Spark-first, not a port):

- ``pages(url, warc_ts, html, text, lang)`` is the input table
  (Iceberg at production scale; parquet in this sandbox — the reader in
  ``sources.pages`` switches on format).
- All labelling functions run inside ONE narrow ``mapInPandas`` stage
  (Arrow-batched; no per-row Python UDFs, no shuffle until the sink).
- The HMM aggregator is an iterative driver loop: per-partition
  E-step count matrices via ``mapInPandas``, summed on the driver
  (``operators.partials.sum_partials``, with a ``groupBy`` pre-sum level
  on large clusters), numpy M-step on the driver, params broadcast each
  iteration, checkpointed to disk.
- KG stages (triple extraction, entity linking, minhash-LSH
  canonicalization) are DataFrame ops: broadcast joins, groupBy on
  LSH bands, iterative-join connected components.

The per-document labelling core is pure Python/numpy shared between
the Spark operators and a single-node oracle (``plans.oracle``), so
Spark output matches the oracle byte-for-byte by construction.
"""

import os as _os

# Pin BLAS to one thread BEFORE numpy loads: executors run one Python
# worker per core, and multithreaded BLAS on small per-doc matrices
# oversubscribes catastrophically (the reference pins this too,
# spacy_wrapper.py:83). Must happen at import time in every worker —
# this module is imported by every UDF closure.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
             "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_var, "1")

from weak_supervision_for_ner_spark.schema import (  # noqa: F401
    LABELS,
    POSITIONED_LABELS,
    SOURCE_NAMES,
    SOURCE_PRIORS,
)

__version__ = "0.1.0"
