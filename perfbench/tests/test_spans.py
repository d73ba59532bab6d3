import json

import pytest

from kgbench.spans import Tracer, covered


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(0, 5)], 2, 4) == 2
    assert covered([(5, 6)], 0, 4) == 0
    assert covered([], 0, 4) == 0


def test_self_time_of_nested_spans():
    tr = Tracer("r")
    root = tr.add("run", 0.0, 10.0, None)
    fit = tr.add("hmm.fit", 1.0, 7.0, root.id)
    tr.add("hmm.prior", 1.0, 2.0, fit.id)
    tr.add("hmm.em_iter", 2.0, 4.0, fit.id)
    tr.add("hmm.em_iter", 4.0, 6.5, fit.id)
    write = tr.add("sinks.graph_write", 7.5, 9.0, root.id)
    assert tr.self_time(root) == pytest.approx(10.0 - 6.0 - 1.5)
    assert tr.self_time(fit) == pytest.approx(6.0 - 5.5)
    assert tr.self_time(write) == pytest.approx(1.5)
    st = tr.self_times()
    assert st["hmm.em_iter"] == pytest.approx(4.5)
    # self times partition the root span
    assert sum(st.values()) == pytest.approx(root.duration)


def test_context_spans_nest_and_report(tmp_path):
    seen = []
    tr = Tracer("run-1", on_enter=seen.append)
    with tr.span("run"):
        with tr.span("triples.link"):
            pass
    link = tr.spans[1]
    assert link.parent == 0 and link.run_id == "run-1"
    assert seen == ["run", "triples.link", "run", None]
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rows = json.loads(path.read_text())
    assert [r["name"] for r in rows] == ["run", "triples.link"]
    assert all({"start", "end", "parent", "run_id", "self_s"} <= r.keys() for r in rows)
