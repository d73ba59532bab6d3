"""Every metric the benchmark reports: name, unit, direction, bound.

BENCHMARK.json lists the same metrics; perfbench/tests checks that the
two agree. Which end-to-end metric each layer metric should move, and on
which workload, is tabled in perfbench/README.md.
"""

from __future__ import annotations

from kgbench.eventlog import ENGINE_METRICS

# (name, unit, better, bound)
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    # spread over seeds (each seed is another corpus); a change in the
    # output fails the check against the pinned digests in any case
    ("triple_precision", "ratio", "higher", 0.06),
    ("triple_recall", "ratio", "higher", 0.06),
)

LAYERS = ("pages", "textstats", "annotate", "aggregate", "hmm", "triples", "sinks",
          "streaming")

# (name, unit, better)
_LAYER_METRICS = (
    ("pages.scan_s", "s", "lower"),
    ("pages.docs_en", "count", "higher"),
    ("textstats.form_dict_s", "s", "lower"),
    ("textstats.n_forms", "count", "higher"),
    ("annotate.s", "s", "lower"),
    ("annotate.ms_per_doc", "ms", "lower"),
    ("annotate.tokens", "count", "higher"),
    ("annotate.spans", "count", "higher"),
    ("annotate.quarantined_docs", "count", "lower"),
    ("aggregate.majority_s", "s", "lower"),
    ("aggregate.mentions", "count", "higher"),
    ("hmm.prior_s", "s", "lower"),
    ("hmm.em_iter_s", "s", "lower"),
    ("hmm.iters", "count", "lower"),
    ("hmm.decode_s", "s", "lower"),
    ("hmm.mentions", "count", "higher"),
    ("triples.extract_s", "s", "lower"),
    ("triples.raw", "count", "higher"),
    ("triples.link_s", "s", "lower"),
    ("triples.kb_linked_frac", "ratio", "higher"),
    ("triples.canon_s", "s", "lower"),
    ("triples.unlinked_names", "count", "lower"),
    ("triples.lsh_dropped_buckets", "count", "lower"),
    ("triples.lsh_dropped_members", "count", "lower"),
    ("triples.unconverged_labels", "count", "lower"),
    ("triples.graph_s", "s", "lower"),
    ("triples.edges", "count", "higher"),
    ("triples.edge_yield", "ratio", "higher"),
    ("sinks.graph_write_s", "s", "lower"),
    ("sinks.mentions_write_s", "s", "lower"),
    ("sinks.bytes_written", "B", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_per_row", "B/row", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.trigger_ms_p50", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.planning_ms_p50", "ms", "lower"),
    ("streaming.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.rows_per_s", "1/s", "higher"),
)

_ENGINE_UNITS = {
    "shuffle_write_mb": ("MB", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "task_skew": ("ratio", "lower"),
    "gc_s": ("s", "lower"),
}

_TRACE = (
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

# the scan and the casing dictionary run well under a second: their
# tasks report no GC time, so those two gc_s would always read 0
_NO_GC = ("pages", "textstats")

PER_LAYER = (
    _LAYER_METRICS
    + tuple(
        (f"{layer}.{m}", *_ENGINE_UNITS[m]) for layer in LAYERS for m in ENGINE_METRICS
        if not (m == "gc_s" and layer in _NO_GC)
    )
    + _TRACE
)

# traced span name -> per-layer metric holding its self time
SPAN_METRICS = {
    "pages.scan": "pages.scan_s",
    "textstats.form_dict": "textstats.form_dict_s",
    "annotate": "annotate.s",
    "aggregate.majority": "aggregate.majority_s",
    "hmm.prior": "hmm.prior_s",
    "hmm.decode": "hmm.decode_s",
    "triples.extract": "triples.extract_s",
    "triples.link": "triples.link_s",
    "triples.canon": "triples.canon_s",
    "triples.graph": "triples.graph_s",
    "sinks.graph_write": "sinks.graph_write_s",
    "sinks.mentions_write": "sinks.mentions_write_s",
}


def units(table) -> dict[str, str]:
    return {name: unit for name, unit, *_ in table}
