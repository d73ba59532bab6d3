import json
import os
import re

from kgbench.metrics import END_TO_END, PER_LAYER, SPAN_METRICS
from kgbench.workloads import WORKLOADS

from conftest import ROOT

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fd:
        return json.load(fd)


def test_every_metric_name_is_well_formed_and_unique():
    names = [m[0] for m in END_TO_END + PER_LAYER] + list(WORKLOADS)
    assert all(NAME.match(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert set(SPAN_METRICS.values()) <= {m[0] for m in PER_LAYER}


def test_benchmark_json_matches_the_registry():
    bench = _benchmark()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [(w["name"], w["why"]) for w in bench["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] \
        == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert any(m[0] == "setup_s" and m[3] == max(b for *_, b in END_TO_END)
               for m in END_TO_END)
