"""NER-distillation dataset preparation (reference ner.py:327-392).

The reference distills a neural tagger from the HMM-aggregated corpus:
``NERModel.generator`` converts each doc to (vocab-index inputs, BILUO
one-hot outputs derived from the aggregated ents, O = 1 - sum). The
NEURAL TRAINER itself is out of scope here (SURVEY §7.4 — no deep
learning stack in a Spark engine; plug any trainer in downstream), but
everything UP TO the trainer is data-pipeline work this engine owns:

- vocabulary: one corpus groupBy, frequency-capped driver collect and
  broadcast (the reference ships a static ``indices`` dict; ours is
  corpus-derived like the truecase dictionary, index 0 = padding,
  1 = OOV — ner.py's ``self.indices.get(norm, 1)`` convention);
- examples: one narrow Arrow stage over the annotated rows that
  decodes each document's aggregated layer in place, with the same
  labeller the triple stage takes (``triples.doc_mentions``), and
  emits, per doc, the vocab-index sequence and the BILUO tag sequence
  (sparse labels — the aggregated decode is non-overlapping, so one-hot
  rows collapse to one tag per token; 'O' elsewhere, exactly the
  reference's O = 1 - sum);
- sink: url-hash repartition so examples land shuffled across shards,
  which is what a data-parallel trainer wants to read.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from weak_supervision_for_ner_spark.operators.triples import doc_mentions

PAD_INDEX = 0
OOV_INDEX = 1

EXAMPLES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("token_ids", T.ArrayType(T.IntegerType())),
    T.StructField("tags", T.ArrayType(T.StringType())),
])


def build_vocabulary(
    annotated: DataFrame, max_size: int = 100_000, min_count: int = 2
) -> dict[str, int]:
    """Corpus token vocabulary (lowercased norm like spaCy's
    ``token.norm_``): frequency-ordered, capped, driver-collected for
    broadcast. Indices start at 2 (0 = padding, 1 = OOV)."""
    counts = (
        annotated
        .select(F.explode("tokens").alias("tok"))
        .select(F.lower("tok").alias("norm"))
        .groupBy("norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("norm"))
        .limit(max_size)
        .collect()
    )
    return {r["norm"]: i + 2 for i, r in enumerate(counts)}


def distillation_examples(
    annotated: DataFrame, label, vocab: dict[str, int]
) -> DataFrame:
    """(url, token_ids, tags) training examples, one per annotated row,
    from the document's aggregated layer under ``label`` —
    ``triples.majority_labeller()`` or ``HMMAggregator.labeller(spark)``.
    One narrow Arrow stage; spans are applied in ascending start order
    with later spans overwriting earlier tags at shared tokens (the
    reference's one-hot writes in ``doc.ents`` order, ner.py:376-391)."""
    bc = annotated.sparkSession.sparkContext.broadcast(vocab)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = bc.value
        for pdf in batches:
            rows = []
            for url, tokens, spans in zip(pdf["url"], pdf["tokens"], pdf["spans"]):
                ids = [v.get(t.lower(), OOV_INDEX) for t in tokens]
                tags = ["O"] * len(tokens)
                for s, e, lab, _conf in sorted(doc_mentions(tokens, spans, label)):
                    if e == s + 1:
                        tags[s] = f"U-{lab}"
                    else:
                        tags[s] = f"B-{lab}"
                        for i in range(s + 1, e - 1):
                            tags[i] = f"I-{lab}"
                        tags[e - 1] = f"L-{lab}"
                rows.append((url, ids, tags))
            yield pd.DataFrame(rows, columns=["url", "token_ids", "tags"])

    return annotated.select("url", "tokens", "spans").mapInPandas(run, schema=EXAMPLES_SCHEMA)


def write_distillation_dataset(
    examples: DataFrame, path: str, shards: int = 32
) -> None:
    """Shuffled shards via a url-hash repartition — what a data-parallel
    trainer reads (the reference shuffles in-process)."""
    (
        examples
        .repartition(shards, F.xxhash64("url"))
        .write.mode("overwrite")
        .parquet(path)
    )
