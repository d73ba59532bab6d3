"""Per-layer engine metrics from a Spark event log.

The traced run sets each span's name as the job description, so every
stage carries the name of the span that launched it; the layer is the
part of the name before the first dot.
"""

from __future__ import annotations

import json
import statistics

ENGINE_METRICS = ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew", "gc_s")

_MB = 1024.0 * 1024.0


def layer_of(description: str | None) -> str | None:
    if not description:
        return None
    return description.split(".", 1)[0]


def parse(lines) -> dict[str, dict[str, float]]:
    """{layer: {metric: value}} over the task-end events of an event log.

    task_skew is max task time over median task time, taken on the
    layer's stage with the largest total task time (stages of one task
    have no skew and are skipped)."""
    stage_layer: dict[int, str | None] = {}
    tasks: dict[int, list[dict]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of((ev.get("Properties") or {}).get("spark.job.description"))
            for sid in ev.get("Stage IDs", []):
                stage_layer[sid] = layer
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    out: dict[str, dict[str, float]] = {}
    best_stage: dict[str, float] = {}
    for sid, evs in tasks.items():
        layer = stage_layer.get(sid)
        if layer is None:
            continue
        acc = out.setdefault(layer, {m: 0.0 for m in ENGINE_METRICS})
        durations = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            acc["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
            acc["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / _MB
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            durations.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        total = float(sum(durations))
        if len(durations) > 1 and total > best_stage.get(layer, -1.0):
            best_stage[layer] = total
            med = statistics.median(durations)
            acc["task_skew"] = max(durations) / med if med > 0 else 0.0
    return out


def parse_file(path: str) -> dict[str, dict[str, float]]:
    with open(path) as fd:
        return parse(fd)
