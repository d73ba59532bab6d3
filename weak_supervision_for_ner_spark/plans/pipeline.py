"""End-to-end KG-construction pipeline assembly + lineage metrics.

`run_kg_pipeline` is the flagship job (north_rule): pages → annotate
(one narrow stage) → aggregate (majority voter or HMM) → triples →
link → canonicalize → graph. Stage boundaries persist/checkpoint so a
failed run resumes mid-pipeline, and per-stage counters land in a
metrics table.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from weak_supervision_for_ner_spark.operators.aggregate import majority_voter_mentions
from weak_supervision_for_ner_spark.operators.annotate import annotate_pages, select_text
from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
from weak_supervision_for_ner_spark.operators.textstats import collect_form_frequency_dict
from weak_supervision_for_ner_spark.operators.triples import (
    canonicalize_triples,
    extract_triples_direct,
    extract_triples_hmm_fused,
    link_entities,
    materialize_graph,
)


class Lineage:
    """The pipeline's stage log, rewritten as a JSON list at ``path``
    after every call. A record holds the stage name, a timestamp and
    the counters its caller passes."""

    def __init__(self, path: str | None = None):
        self.path = path
        self.records: list[dict] = []

    def stage(self, name: str, **extra) -> None:
        self.stages(name, [extra])

    def stages(self, name: str, counters: list[dict]) -> None:
        """One record per entry of ``counters``, written once."""
        self.records.extend({"stage": name, "ts": time.time(), **c} for c in counters)
        if self.path:
            os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
            with open(self.path, "w") as fd:
                json.dump(self.records, fd, indent=1)


def stage_metrics(annotated: DataFrame) -> DataFrame:
    """Per-partition lineage counters for the annotation stage
    (north_rule: per-partition lineage + metrics): docs, tokens, spans
    and quarantined docs (error-isolated: tokens but zero spans)."""
    return (
        annotated
        .groupBy(F.spark_partition_id().alias("partition"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("tokens")).alias("n_tokens"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(
                F.when((F.size("tokens") > 3) & (F.size("spans") == 0), 1).otherwise(0)
            ).alias("n_quarantined"),
        )
    )


def _input_identity(pages: DataFrame) -> str:
    """Cheap corpus identity for the stage_dir fingerprint. File/table
    inputs: an md5 over the sorted source-file list PLUS each file's
    (size, mtime) where the filesystem exposes them (driver-side
    metadata only — no job, so it is free at 100 TB). Any add/remove of
    a split changes the path list; an in-place same-name rewrite (a
    non-Spark regeneration emitting identical part names) changes
    size/mtime, so stale stages are not silently reused (r4 advice).
    For remote URIs whose metadata isn't reachable from the driver's
    local FS the entry degrades to the bare path — note that object
    stores' immutable-part naming makes same-path rewrites a non-issue
    there. By design the identity is the FILES, not the plan on top of
    them — two runs reading the same snapshot through different
    filters share stages. In-memory inputs (tests, synth corpora) have
    no files; fall back to one cheap content-hash job (count +
    order-independent xxhash64 over url/text) — a bare row count would
    collide for any two same-size corpora, which is exactly the
    stale-reuse case the fingerprint exists to catch."""
    files = sorted(pages.inputFiles())
    if files:
        entries = []
        for f in files:
            local = f[7:] if f.startswith("file://") else f
            try:
                st = os.stat(local)
                entries.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
            except OSError:
                entries.append(f)
        h = hashlib.md5("\n".join(entries).encode()).hexdigest()
        return f"files:{len(files)}:{h}"
    agg = pages.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and cannot overflow under ANSI
        # mode (sum(xxhash64) throws ARITHMETIC_OVERFLOW on Spark 4)
        F.expr("bit_xor(xxhash64(url, text))").alias("h"),
    ).collect()[0]
    return f"rows:{agg['n']}:{agg['h']}"


def _stage_materialize(
    spark: SparkSession, stage_dir: str, name: str, df: DataFrame,
    lineage: "Lineage",
) -> DataFrame:
    """Durable stage checkpoint: write-once parquet keyed by the
    parquet _SUCCESS commit marker; an already-committed stage is read
    back instead of recomputed. (Local-FS check — swap for the Hadoop
    FileSystem API when stage_dir is on HDFS/S3.)"""
    path = os.path.join(stage_dir, name)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        lineage.stage(f"stage_resume_{name}")
    else:
        df.write.mode("overwrite").parquet(path)
        lineage.stage(f"stage_commit_{name}")
    return spark.read.parquet(path)


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aggregator: str = "majority",
    hmm_iters: int = 3,
    lineage_path: str | None = None,
    with_metrics: bool = False,
    mentions_consumed: bool = False,
    truecase: bool = True,
    entity_correction: bool = True,
    stage_dir: str | None = None,
):
    """pages -> (annotated, mentions, graph) DataFrames.

    aggregator: 'majority' (stateless, zero extra passes) or 'hmm'
    (EM driver loop); any other value raises ``ValueError`` before any
    Spark job.

    ``truecase`` (default ON, mirroring the reference pipe which
    truecases every ≤25-token doc during parsing,
    spacy_wrapper.py:186-221): derive the corpus casing dictionary ONCE
    (one groupBy + bounded driver collect) and broadcast it to every
    annotation stage. ``entity_correction`` (default ON, mirroring
    spacy_wrapper.py:268-402 which repairs entities after every model
    annotation): apply the 15-rule boundary/type repair to the
    aggregated layer before triple extraction — per-doc pure function,
    fused into the extraction stage, so neither default adds a shuffle.

    Triple extraction is one stage running one per-document kernel
    (operators.triples: labeller → BILUO → [correct] → SVO). It labels
    the rows it reads and never receives precomputed mentions, so it
    has no shuffle and no join. Two cases:

    - majority: a graph-only run reads pages and annotates inside the
      stage (the span table never crosses Arrow). With a materialized
      annotated table — ``stage_dir``, ``with_metrics`` (per-partition
      annotation counters, written to ``lineage_path``, which it
      requires) or ``mentions_consumed`` (the caller also reads the
      returned frames, e.g. --mentions-out) — it re-votes those rows
      instead, so the labelling functions run once in total.
      ``mentions_consumed`` matters only here;
    - hmm: Viterbi under the broadcast model over the annotated rows,
      whatever the flags.

    The returned ``annotated`` is persisted (or read from its committed
    stage); ``mentions`` is the lazily persisted decode of it, computed
    only if the caller reads it. The caller unpersists both; nothing
    else stays cached (canonicalization's input is a lazy local
    checkpoint, freed with ``graph``).

    ``stage_dir``: the only durable state, for MID-PIPELINE resume
    (north_rule). It holds only what is costly to recompute: the
    annotated stage as ``{stage_dir}/annotated`` parquet (the _SUCCESS
    marker), the casing dictionary as ``form_freqs.json``, the HMM's
    per-iteration EM checkpoints under ``hmm/`` and the
    ``pipeline_config.json`` fingerprint of the run's config and input
    that guards them. A re-run READS what is committed: a job that died
    during canonicalization skips labelling, an HMM fit resumes at its
    next EM iteration, and a finished fit reloads with no Spark job.
    Clean the stage_dir up after the final sink commits.
    """
    if aggregator not in ("majority", "hmm"):
        raise ValueError(f"aggregator must be 'majority' or 'hmm', not {aggregator!r}")
    if with_metrics and not lineage_path:
        # the counters go only to the lineage file: without one, the
        # metrics job's result would be thrown away
        raise ValueError("with_metrics=True needs a lineage_path to write the metrics to")
    lineage = Lineage(lineage_path)

    if stage_dir:
        # Stage outputs are only valid for the configuration AND INPUT
        # that produced them: a re-run with a different aggregator or
        # truecase/correction setting — or pointed at a different
        # corpus — silently reading stale stages would return the OLD
        # run's results under the new run's name.
        fingerprint = {
            "aggregator": aggregator, "truecase": truecase,
            "entity_correction": entity_correction, "hmm_iters": hmm_iters,
            "input": _input_identity(pages),
        }
        fp_path = os.path.join(stage_dir, "pipeline_config.json")
        if os.path.exists(fp_path):
            with open(fp_path) as fd:
                committed = json.load(fd)
            if committed != fingerprint:
                raise ValueError(
                    f"stage_dir {stage_dir!r} holds stages committed by a run "
                    f"with config {committed}, but this run asks for "
                    f"{fingerprint}; resuming would silently return the old "
                    "configuration's results — clear the stage_dir or match "
                    "the original flags"
                )
        else:
            os.makedirs(stage_dir, exist_ok=True)
            with open(fp_path, "w") as fd:
                json.dump(fingerprint, fd)

    form_freqs = None
    if truecase:
        ff_path = os.path.join(stage_dir, "form_freqs.json") if stage_dir else None
        if ff_path and os.path.exists(ff_path):
            with open(ff_path) as fd:
                form_freqs = json.load(fd)
            lineage.stage("truecase_dict_resumed", n_forms=len(form_freqs))
        else:
            form_freqs = collect_form_frequency_dict(select_text(pages)[0])
            if ff_path:
                with open(ff_path, "w") as fd:
                    json.dump(form_freqs, fd)
            lineage.stage("truecase_dict", n_forms=len(form_freqs))

    # The annotated table feeds the aggregator AND (on the hmm/reuse
    # paths) the triple extraction; persist it so labelling runs once —
    # durably (stage parquet) when resumability is requested, else in
    # executor storage.
    annotated = annotate_pages(pages, form_freqs=form_freqs)
    if stage_dir:
        annotated = _stage_materialize(spark, stage_dir, "annotated", annotated, lineage)
    else:
        annotated = annotated.persist()

    if aggregator == "hmm":
        model = HMMAggregator(n_iter=hmm_iters)
        model.fit_spark(
            spark, annotated,
            checkpoint_dir=os.path.join(stage_dir, "hmm") if stage_dir else None,
            resume=True,
        )
        lineage.stage("hmm_fit", iterations=len(model.history),
                      logprob=model.history[-1] if model.history else None)
        mentions = model.decode_spark(spark, annotated)
        raw_triples = extract_triples_hmm_fused(annotated, model, correct=entity_correction)
    else:
        mentions = majority_voter_mentions(annotated)
        # re-vote the materialized annotated table when there is one,
        # else annotate in the stage from pages
        reuse = stage_dir or mentions_consumed or with_metrics
        raw_triples = extract_triples_direct(
            annotated if reuse else pages, form_freqs=form_freqs,
            correct=entity_correction,
        )
    mentions = mentions.persist()
    if with_metrics:
        lineage.stages(
            "annotate_partition", [r.asDict() for r in stage_metrics(annotated).collect()]
        )
    linked = link_entities(spark, raw_triples)
    canon_stats: dict = {}
    canonical = canonicalize_triples(
        spark, linked, stats=canon_stats if lineage_path else None
    )
    graph = materialize_graph(canonical)
    lineage.stage("graph", **canon_stats)
    return annotated, mentions, graph


def verify_text_identity(pages: DataFrame) -> int:
    """Count rows where html→text extraction does NOT reproduce the
    ``text`` column byte-identically (must be 0; input_hint invariant).
    Runs JVM-side: the html wrapper is deterministic."""
    from pyspark.sql import types as T
    import pandas as pd

    from weak_supervision_for_ner_spark.sources.pages import extract_text_from_html

    def check(batches):
        for pdf in batches:
            bad = sum(
                1 for html, text in zip(pdf["html"], pdf["text"])
                if extract_text_from_html(bytes(html)) != text
            )
            yield pd.DataFrame({"bad": [bad]})

    schema = T.StructType([T.StructField("bad", T.LongType())])
    rows = pages.select("html", "text").mapInPandas(check, schema=schema).collect()
    return int(sum(r["bad"] for r in rows))
