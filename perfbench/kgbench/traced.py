"""The traced run: one untraced job, then the same job layer by layer.

Both jobs are checked against the pinned oracle digests, so the traced
graph equals the untraced one. The difference of their wall times, not
counting the stream the traced job drains after its batch layers, is
reported as the tracing overhead. Spans are written to
``.bench_out/trace-<workload>-s<seed>.json`` when the run ends.
"""

from __future__ import annotations

import os
import shutil
import time

from kgbench.eventlog import ENGINE_METRICS, parse_file
from kgbench.metrics import LAYERS, SPAN_METRICS
from kgbench.runner import sink_files
from kgbench.spans import Tracer
from kgbench.workloads import traced_batch


def traced_run(wl, spark, gseed: int, pages: str, work: str, check, root: str,
               seed: int) -> dict:
    attempted = failed = 0
    walls = {}
    sc = spark.sparkContext
    tracer = Tracer(f"{wl.name}-s{seed}-{os.getpid()}", on_enter=sc.setJobDescription)
    m: dict = {}
    for mode in ("untraced", "traced"):
        out = os.path.join(work, f"out-{mode}")
        attempted += 1
        t = time.perf_counter()
        if mode == "untraced":
            wl.run(spark, pages, out)
        else:
            with tracer.span("run"):
                m = traced_batch(wl, spark, tracer, pages, out,
                                 os.path.join(work, "hmm-ckpt"))
        walls[mode] = time.perf_counter() - t
        if not check(gseed, wl.read_tables(spark, out, traced=mode == "traced")):
            failed += 1
        if mode == "traced":
            sinks = [sink_files(os.path.join(out, name)) for name in ("graph", "mentions")]
            m["sinks.bytes_written"] = sum(b for b, _ in sinks)
            m["sinks.files_written"] = sum(f for _, f in sinks)
        shutil.rmtree(out, ignore_errors=True)

    for span, value in tracer.self_times().items():
        if span in SPAN_METRICS:
            m[SPAN_METRICS[span]] = value
    if m.get("annotate.docs"):
        m["annotate.ms_per_doc"] = m["annotate.s"] * 1000.0 / m["annotate.docs"]
    if m.get("sinks.rows"):
        m["sinks.bytes_per_row"] = m["sinks.bytes_written"] / m["sinks.rows"]
    stream_s = sum(s.duration for s in tracer.spans if s.name == "streaming.ingest")
    m["trace.wall_s"] = walls["traced"] - stream_s
    m["trace.overhead_s"] = m["trace.wall_s"] - walls["untraced"]

    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"trace-{wl.name}-s{seed}.json"))
    return {"attempted": attempted, "failed": failed, "metrics": m}


def engine_metrics(event_dir: str) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer, from the run's event log
    (read after the session stopped and the log was closed)."""
    [log_name] = os.listdir(event_dir)  # one session, one log
    per_layer = parse_file(os.path.join(event_dir, log_name))
    return {
        f"{layer}.{metric}": per_layer.get(layer, {}).get(metric, 0.0)
        for layer in LAYERS for metric in ENGINE_METRICS
    }
