"""Model-annotator plug-in seam (reference annotations.py:478-542).

The reference wraps spaCy pipelines as labelling sources
(``ModelAnnotator``): the model predicts spans over the tokenised doc
and the spans land in the shared annotation dict under the model's
source name, after which every aggregator treats them like any other
weak-supervision source. Here the seam is a DataFrame transformation:
``annotate_with_model`` appends model-predicted spans to the per-doc
``spans`` array under a REGISTERED source name (``model_annotator`` in
``schema.SOURCE_NAMES`` — static because executors re-import the
package; the reference's SOURCE_NAMES registry is equally static).

The model itself is any picklable callable ``tokens -> [(start, end,
label, conf), ...]`` — a neural tagger would batch inside a Pandas UDF
exactly like this; the sandbox ships no model weights, so tests use a
deterministic fake that proves the seam (annotate -> model ->
specialise -> HMM) end-to-end.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from weak_supervision_for_ner_spark.schema import ANNOTATED_SCHEMA, SOURCE_INDICES

ModelFn = Callable[[list[str]], list[tuple[int, int, str, float]]]


def annotate_with_model(
    annotated: DataFrame,
    model_fn: ModelFn,
    source_name: str = "model_annotator",
    with_corrected: bool = True,
) -> DataFrame:
    """Append ``model_fn``'s spans to each doc's spans array under
    ``source_name`` — and, like the reference (annotations.py:531-535
    registers BOTH ``source`` and ``source+c``), the entity-corrected
    repair of those spans under ``source_name + "+c"`` when
    ``with_corrected`` is on. One narrow Arrow stage, no shuffle;
    downstream specialise/observation_cells/HMM consume the new sources
    because they are in the registry."""
    if source_name not in SOURCE_INDICES:
        raise ValueError(
            f"source {source_name!r} is not registered in schema.SOURCE_NAMES; "
            "add it there (with a SOURCE_PRIORS row) so aggregators can see it"
        )
    corrected_name = source_name + "+c"
    if with_corrected and corrected_name not in SOURCE_INDICES:
        raise ValueError(
            f"source {corrected_name!r} is not registered in schema.SOURCE_NAMES: "
            "with_corrected=True (the default, mirroring the reference's "
            "source + source+c pair) needs the corrected layer registered "
            "alongside the raw one — add it there, or pass "
            "with_corrected=False to emit only the raw layer"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from weak_supervision_for_ner_spark.operators.entity_correction import (
            correct_spans_with_conf,
        )

        for pdf in batches:
            spans_out = []
            for tokens, spans in zip(pdf["tokens"], pdf["spans"]):
                tokens = list(tokens)
                # materialize: preds is consumed twice (raw layer, then
                # correct_spans_with_conf) — a generator-returning
                # model_fn would yield a silently empty corrected layer
                preds = list(model_fn(tokens))
                extra = [
                    {"source": source_name, "start": int(s), "end": int(e),
                     "label": str(label), "conf": float(conf)}
                    for (s, e, label, conf) in preds
                ]
                if with_corrected:
                    extra += [
                        {"source": corrected_name, "start": int(s), "end": int(e),
                         "label": str(label), "conf": float(conf)}
                        for (s, e, label, conf) in correct_spans_with_conf(tokens, preds)
                    ]
                spans_out.append(list(spans) + extra)
            yield pd.DataFrame(
                {"url": pdf["url"], "tokens": pdf["tokens"], "spans": spans_out}
            )

    return annotated.mapInPandas(run, schema=ANNOTATED_SCHEMA)


def fake_gpe_model(lexicon: frozenset[str] = frozenset({"Oslo", "Paris", "Tokyo", "Berlin", "London"})):
    """Deterministic stand-in for a neural tagger: labels single tokens
    from a tiny lexicon as GPE with conf 0.85. Used by tests to prove
    the plug-in seam without shipping model weights."""

    def model(tokens: list[str]) -> list[tuple[int, int, str, float]]:
        return [
            (i, i + 1, "GPE", 0.85)
            for i, tok in enumerate(tokens)
            if tok in lexicon
        ]

    return model
