"""The Spark annotation stage.

The reference's ``FullAnnotator().add_all().annotate_docbin(path)``
(annotations.py:261-273, 193-220) becomes ONE narrow Arrow-batched
``mapInPandas`` stage: tokenize → every labelling function → doc-level
annotators, all row-local, zero shuffles (SURVEY.md §3.1). Catalyst
prunes ``html`` out of the scan because only ``url``/``text`` are
touched.

Gazetteer tries are built once per executor via a lazy module
singleton (the broadcast-dictionary pattern; annotations.py:386-390
caches the vocab the same way).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from weak_supervision_for_ner_spark.operators.labelling import (
    Doc,
    annotate_document,
    flatten_spans,
)
from weak_supervision_for_ner_spark.schema import ANNOTATED_SCHEMA

_RESOURCES = None


def _get_resources():
    """Per-executor lazy singleton: (gazetteer tries, first-name set)."""
    global _RESOURCES
    if _RESOURCES is None:
        from weak_supervision_for_ner_spark.sources.gazetteer import (
            FIRST_NAMES,
            build_gazetteers,
        )

        _RESOURCES = (build_gazetteers(), FIRST_NAMES)
    return _RESOURCES


def annotate_batch(
    texts: "pd.Series[str]", form_freqs: dict | None = None
) -> list[tuple[list, list]]:
    """Annotate one Arrow batch; returns (tokens, spans) per row.

    Per-document error isolation (the reference swallows per-doc
    failures, annotations.py:240-243): a failing doc yields its tokens
    (or none) with ZERO spans instead of killing the partition;
    ``run_kg_pipeline(with_metrics=True)`` writes the per-partition
    count (``n_quarantined``) to its lineage file."""
    gazetteers, first_names = _get_resources()
    out = []
    for text in texts:
        try:
            doc = annotate_document(
                Doc(text or "", form_freqs=form_freqs), gazetteers, first_names
            )
            out.append((doc.tokens, flatten_spans(doc)))
        except Exception:  # noqa: BLE001 — quarantine, don't fail the partition
            try:
                tokens = Doc(text or "").tokens
            except Exception:  # noqa: BLE001
                tokens = []
            out.append((tokens, []))
    return out


def select_text(pages: DataFrame, form_freqs: dict | None = None):
    """pages → (their English ``url``/``text`` rows, the casing
    dictionary ``form_freqs`` as a Spark broadcast or None). The lang
    filter is pushed into the scan. Under a dictionary, short/ALL-CAPS
    docs get case repair before labelling (spacy_wrapper.py:186-221);
    ``run_kg_pipeline`` derives it once per corpus
    (textstats.collect_form_frequency_dict)."""
    selected = pages.filter(F.col("lang") == "en").select("url", "text")
    if form_freqs is None:
        return selected, None
    return selected, selected.sparkSession.sparkContext.broadcast(form_freqs)


def annotate_stage(rows: DataFrame, freqs_bc=None) -> DataFrame:
    """The annotation stage: one narrow Arrow stage that annotates the
    ``text`` column of ``rows`` (``url``, ``text`` and any other
    columns) into ``tokens``/``spans``, truecased under the broadcast
    casing dictionary ``freqs_bc`` when given. Every other input column
    passes through: the output schema is ``ANNOTATED_SCHEMA`` followed
    by them."""
    extra = [f for f in rows.schema.fields if f.name not in ("url", "text")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        freqs = freqs_bc.value if freqs_bc is not None else None
        for pdf in batches:
            annotated = annotate_batch(pdf["text"], form_freqs=freqs)
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "tokens": [a[0] for a in annotated],
                    "spans": [a[1] for a in annotated],
                    **{f.name: pdf[f.name].values for f in extra},
                }
            )

    return rows.mapInPandas(run, schema=T.StructType([*ANNOTATED_SCHEMA.fields, *extra]))


def annotate_pages(pages: DataFrame, form_freqs: dict | None = None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → annotated(url, tokens, spans).

    :func:`annotate_stage` over :func:`select_text`'s rows, truecased
    under ``form_freqs`` when given.
    """
    return annotate_stage(*select_text(pages, form_freqs))


def mentions_from_annotated(annotated: DataFrame) -> DataFrame:
    """Explode the per-doc span arrays into the long relational
    ``mentions(url, source, start, end, label, conf, text)`` table
    (SURVEY.md §1.3)."""
    return (
        annotated
        .select("url", "tokens", F.explode("spans").alias("m"))
        .select(
            "url",
            F.col("m.source").alias("source"),
            F.col("m.start").alias("start"),
            F.col("m.end").alias("end"),
            F.col("m.label").alias("label"),
            F.col("m.conf").alias("conf"),
            F.array_join(F.slice("tokens", F.col("m.start") + 1,
                                 F.col("m.end") - F.col("m.start")), " ").alias("text"),
        )
    )


def write_mentions(mentions: DataFrame, target: str, fmt: str = "parquet") -> None:
    """Sink: source-partitioned for layer pruning, writer tasks
    rebalanced on url and sized from the data by AQE (hot-domain skew,
    SURVEY.md §4). ``fmt="iceberg"`` writes to a catalog table via
    writeTo/overwritePartitions (sinks.write_table)."""
    from weak_supervision_for_ner_spark.sinks import write_table

    write_table(mentions, target, fmt=fmt, partition_by=("source",),
                bucket_col="url")
