"""Tiny-corpus run of every workload through Spark: the timed job and the
traced job both write exactly the tables the oracle computes."""

import dataclasses
import os

import pytest

from kgbench.digest import digest
from kgbench.expected import oracle_outputs
from kgbench.runner import start_session, stop_session
from kgbench.spans import Tracer
from kgbench.workloads import WORKLOADS, traced_batch

from conftest import ROOT


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = start_session(ROOT, str(tmp_path_factory.mktemp("spark")), 2, None)
    yield session
    stop_session(session)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_matches_oracle(spark, tmp_path, name):
    wl = WORKLOADS[name]
    corpus = dataclasses.replace(wl.corpus, n_docs=40, files=2)
    pages = str(tmp_path / "pages")
    corpus.stage(spark, 7, pages)
    want = {t: digest(rows) for t, rows in
            oracle_outputs(wl.aggregator, corpus.pages(7)).items()}

    wl.run(spark, pages, str(tmp_path / "out"))
    assert {t: digest(r) for t, r in wl.read_tables(spark, str(tmp_path / "out")).items()} \
        == {"graph": want["graph"]}

    tracer = Tracer("smoke")
    with tracer.span("run"):
        m = traced_batch(wl, spark, tracer, pages, str(tmp_path / "traced"),
                         str(tmp_path / "ckpt"))
    traced = wl.read_tables(spark, str(tmp_path / "traced"), traced=True)
    assert {t: digest(r) for t, r in traced.items()} == want
    names = {s.name for s in tracer.spans}
    if wl.traced_extra == "stream":
        assert m["streaming.batches"] == 1 and "streaming.ingest" in names
    else:
        assert {"aggregate.majority", "sinks.mentions_write"} <= names
    assert m["triples.edges"] == int(want["graph"].split(":")[0])
    assert {"pages.scan", "textstats.form_dict", "triples.extract", "sinks.graph_write"} <= names
    if wl.aggregator == "hmm":
        assert m["hmm.iters"] >= 1 and "hmm.em_iter" in names
    assert os.path.isdir(tmp_path / "traced" / "graph")
