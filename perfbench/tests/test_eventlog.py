import json

import pytest

from kgbench.eventlog import layer_of, parse


def _task(stage, launch, finish, gc=0, shuffle_w=0, spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "JVM GC Time": gc, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_w},
        },
    })


def test_metrics_grouped_by_job_description():
    mb = 1024 * 1024
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
                    "Properties": {"spark.job.description": "triples.canon"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Stage IDs": [2],
                    "Properties": {}}),
        _task(0, 0, 100, gc=50, shuffle_w=mb),
        _task(0, 0, 100), _task(0, 0, 400),
        _task(1, 0, 10), _task(1, 0, 30),
        _task(2, 0, 1000),  # no description: not attributed
    ]
    out = parse(lines)
    assert set(out) == {"triples"}
    m = out["triples"]
    assert m["shuffle_write_mb"] == pytest.approx(1.0)
    assert m["shuffle_read_mb"] == pytest.approx(1.0)
    assert m["gc_s"] == pytest.approx(0.05)
    assert m["spill_mb"] == 0
    # skew of the stage with the most task time: 400 / median(100, 100, 400)
    assert m["task_skew"] == pytest.approx(4.0)


def test_layer_of():
    assert layer_of("sinks.graph_write") == "sinks"
    assert layer_of("annotate") == "annotate"
    assert layer_of(None) is None
