"""The benchmark's workloads.

Each workload is a closed loop with one client: the driver submits the
next job only after the previous one has committed its sink. ``run`` is
the timed job; ``traced_batch`` calls the same public layer functions in
the order ``run_kg_pipeline`` uses, persisting and counting at each layer
boundary so that each span covers its layer. The traced run of
``kg_majority`` then drains the same staged files through
``streaming.ingest`` (``drain_stream``), and the traced run of ``kg_hmm``
also votes and exports the majority mentions of its annotated frame, so
the streaming, aggregate and mentions-sink layers are measured without
workloads of their own.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from weak_supervision_for_ner_spark.operators.aggregate import majority_voter_mentions
from weak_supervision_for_ner_spark.operators.annotate import annotate_pages, write_mentions
from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator
from weak_supervision_for_ner_spark.operators.textstats import collect_form_frequency_dict
from weak_supervision_for_ner_spark.operators.triples import (
    canonicalize_triples,
    extract_triples_direct,
    extract_triples_hmm_fused,
    link_entities,
    materialize_graph,
    write_graph,
)
from weak_supervision_for_ner_spark.plans.pipeline import run_kg_pipeline, stage_metrics
from weak_supervision_for_ner_spark.streaming.ingest import read_pages_stream, streaming_triples

from kgbench.corpus import Corpus
from kgbench.digest import GRAPH_COLS, MENTION_COLS, TRIPLE_COLS
from kgbench.expected import HMM_ITERS


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    aggregator: str              # run_kg_pipeline's, and expected.oracle_outputs kind
    corpus: Corpus
    # triple precision/recall floor against the generator's gold, below
    # the lowest score of the pinned oracle outputs (perfbench/expected)
    pr_floor: float
    # the table the traced run writes besides the graph: the stream it
    # drains (majority) or the majority mentions it exports (hmm)
    traced_extra: str

    def run(self, spark, pages_path: str, out: str) -> None:
        """One job, from the pipeline call to the committed sink."""
        pages = spark.read.parquet(pages_path)
        _annotated, _mentions, graph = run_kg_pipeline(spark, pages, aggregator=self.aggregator)
        write_graph(graph, os.path.join(out, "graph"))
        spark.catalog.clearCache()

    def read_tables(self, spark, out: str, traced: bool = False) -> dict[str, list]:
        tables = {"graph": GRAPH_COLS}
        if traced:
            tables[self.traced_extra] = EXTRA_COLS[self.traced_extra]
        return {
            name: spark.read.parquet(os.path.join(out, name)).select(*cols).collect()
            for name, cols in tables.items()
        }


EXTRA_COLS = {"stream": TRIPLE_COLS, "mentions": MENTION_COLS}

STREAM_FILES_PER_TRIGGER = 2


def drain_stream(spark, pages_path: str, out: str) -> list[dict]:
    """``streaming.ingest``: the staged corpus files as a file stream,
    ``STREAM_FILES_PER_TRIGGER`` per micro-batch, through
    ``streaming_triples`` into an appending parquet sink ``<out>/stream``,
    drained with ``availableNow``. Returns each micro-batch's progress."""
    query = (
        streaming_triples(read_pages_stream(spark, pages_path,
                                            max_files=STREAM_FILES_PER_TRIGGER))
        .writeStream.format("parquet").queryName("streaming.ingest")
        .option("path", os.path.join(out, "stream"))
        .option("checkpointLocation", os.path.join(out, "stream-checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()  # raises when the query failed
    return [json.loads(p.json) for p in query.recentProgress]


def _stream_metrics(progress: list[dict], m: dict) -> None:
    def p50(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    m["streaming.batches"] = len(progress)
    m["streaming.trigger_ms_p50"] = p50("triggerExecution")
    m["streaming.add_batch_ms_p50"] = p50("addBatch")
    m["streaming.planning_ms_p50"] = p50("queryPlanning")
    m["streaming.wal_commit_ms_p50"] = p50("walCommit")
    trigger_s = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0
    m["streaming.rows_per_s"] = sum(p["numInputRows"] for p in progress) / trigger_s


# -- traced run ------------------------------------------------------------

def _counted(tracer, name: str, make):
    """Span ``name`` around building, persisting and counting a frame."""
    with tracer.span(name):
        df = make().persist()
        n = df.count()
    return df, n


def _scan_and_dict(spark, tracer, pages_path: str, m: dict):
    pages, _ = _counted(tracer, "pages.scan", lambda: spark.read.parquet(pages_path))
    m["pages.docs_en"] = pages.filter(F.col("lang") == "en").count()
    with tracer.span("textstats.form_dict"):
        form_freqs = collect_form_frequency_dict(
            pages.filter(F.col("lang") == "en").select("url", "text")
        )
    m["textstats.n_forms"] = len(form_freqs)
    return pages, form_freqs


def _annotate(tracer, pages, form_freqs, m: dict):
    annotated, n = _counted(tracer, "annotate",
                            lambda: annotate_pages(pages, form_freqs=form_freqs))
    stats = stage_metrics(annotated).agg(
        F.sum("n_tokens").alias("t"), F.sum("n_spans").alias("s"),
        F.sum("n_quarantined").alias("q"),
    ).collect()[0]
    m["annotate.tokens"] = int(stats["t"] or 0)
    m["annotate.spans"] = int(stats["s"] or 0)
    m["annotate.quarantined_docs"] = int(stats["q"] or 0)
    m["annotate.docs"] = n
    return annotated


def _graph_tail(spark, tracer, raw, n_raw: int, m: dict):
    """link → canonicalize → materialize, as run_kg_pipeline ends."""
    m["triples.raw"] = n_raw
    linked, _ = _counted(tracer, "triples.link", lambda: link_entities(spark, raw))
    sides = linked.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("subj_kb").alias("s"), F.count("obj_kb").alias("o"),
    ).collect()[0]
    m["triples.kb_linked_frac"] = (sides["s"] + sides["o"]) / (2 * sides["n"]) if sides["n"] else 0.0
    m["triples.unlinked_names"] = linked.select(F.explode(F.array(
        F.when(F.col("subj_kb").isNull(), F.col("subj_norm")),
        F.when(F.col("obj_kb").isNull(), F.col("obj_norm")),
    )).alias("name")).filter(F.col("name").isNotNull()).distinct().count()
    stats: dict = {}
    canonical, _ = _counted(tracer, "triples.canon",
                            lambda: canonicalize_triples(spark, linked, stats=stats))
    m["triples.lsh_dropped_buckets"] = stats.get("dropped_buckets", 0)
    m["triples.lsh_dropped_members"] = stats.get("dropped_members", 0)
    m["triples.unconverged_labels"] = stats.get("unconverged_labels", 0)
    graph, edges = _counted(tracer, "triples.graph", lambda: materialize_graph(canonical))
    m["triples.edges"] = edges
    m["triples.edge_yield"] = edges / n_raw if n_raw else 0.0
    return graph


def _hmm_fit(spark, tracer, annotated, ckpt: str, m: dict) -> HMMAggregator:
    """Fit with per-iteration checkpoints; the checkpoint files' write
    times split the fit span into the prior pass and each EM iteration."""
    model = HMMAggregator(n_iter=HMM_ITERS)
    with tracer.span("hmm.fit") as fit:
        wall0, perf0 = time.time(), time.perf_counter()
        model.fit_spark(spark, annotated, checkpoint_dir=ckpt, resume=True)
    marks = sorted(
        os.stat(os.path.join(ckpt, f)).st_mtime for f in os.listdir(ckpt)
        if f.endswith(".npz")
    )
    prev = fit.start
    for k, mark in enumerate(marks):
        t = perf0 + (mark - wall0)
        tracer.add("hmm.prior" if k == 0 else "hmm.em_iter", prev, t, fit.id)
        prev = t
    iters = [s.duration for s in tracer.spans if s.name == "hmm.em_iter"]
    m["hmm.iters"] = len(model.history)
    m["hmm.em_iter_s"] = statistics.median(iters) if iters else 0.0
    return model


def traced_batch(wl: Workload, spark, tracer, pages_path: str, out: str, ckpt: str) -> dict:
    """The workload's job, layer by layer. Returns counts and ratios
    recorded at the layer boundaries."""
    m: dict = {}
    pages, form_freqs = _scan_and_dict(spark, tracer, pages_path, m)
    if wl.aggregator == "majority":
        # graph-only caller: run_kg_pipeline's annotated and mentions
        # frames stay lazy and the fused pages→triples stage does the work
        raw, n_raw = _counted(tracer, "triples.extract", lambda: extract_triples_direct(
            pages, form_freqs=form_freqs, correct=True))
    else:
        annotated = _annotate(tracer, pages, form_freqs, m)
        model = _hmm_fit(spark, tracer, annotated, ckpt, m)
        # the graph path decodes inside the fused extraction stage;
        # decoding once more on its own attributes the Viterbi cost
        _decoded, m["hmm.mentions"] = _counted(
            tracer, "hmm.decode", lambda: model.decode_spark(spark, annotated))
        raw, n_raw = _counted(tracer, "triples.extract", lambda: extract_triples_hmm_fused(
            annotated, model, correct=True))
    graph = _graph_tail(spark, tracer, raw, n_raw, m)
    rows = m["triples.edges"]
    with tracer.span("sinks.graph_write"):
        write_graph(graph, os.path.join(out, "graph"))
    if wl.traced_extra == "mentions":
        # the majority vote and the mentions sink of the export job
        # (jobs/run_pipeline.py --mentions-out), over the same annotations
        mentions, m["aggregate.mentions"] = _counted(
            tracer, "aggregate.majority", lambda: majority_voter_mentions(annotated))
        with tracer.span("sinks.mentions_write"):
            write_mentions(mentions, os.path.join(out, "mentions"))
        rows += m["aggregate.mentions"]
    m["sinks.rows"] = rows
    spark.catalog.clearCache()
    if wl.traced_extra == "stream":
        # the stream sets its own job descriptions, led by the query name
        with tracer.span("streaming.ingest"):
            _stream_metrics(drain_stream(spark, pages_path, out), m)
    return m


WORKLOADS = {
    w.name: w for w in (
        Workload(
            "kg_majority",
            "flagship graph-only job: majority vote, fused annotate-vote-correct-SVO stage; "
            "never calls operators.hmm, so it is the no-change control for HMM work",
            "majority", Corpus(3000, 8), 0.95, "stream",
        ),
        Workload(
            "kg_hmm",
            "same job with the HMM aggregator: the EM driver loop (broadcast, E-step "
            "mapInPandas, collect, M-step) and Viterbi decode dominate",
            "hmm", Corpus(400, 8), 0.93, "mentions",
        ),
    )
}
