"""The benchmark's oracle helpers agree with plans/oracle.py, and the
pinned expectations cover every workload's corpora."""

from kgbench.corpus import Corpus
from kgbench.digest import digest
from kgbench.expected import (
    N_CORPORA,
    _majority_triples,
    corpus_seeds,
    finalize_graph,
    pinned,
)
from kgbench.workloads import WORKLOADS

from weak_supervision_for_ner_spark.plans.oracle import (
    oracle_annotate,
    oracle_form_frequencies,
    oracle_graph,
)


def test_graph_tail_equals_oracle_graph():
    pages = Corpus(60, 2).pages(seed=5)
    annotated = oracle_annotate(pages, form_freqs=oracle_form_frequencies(pages))
    got = finalize_graph([t for doc in annotated for t in _majority_triples(doc)])
    assert got and digest(got) == digest(oracle_graph(pages))


def test_corpus_seeds_stay_pinned():
    assert corpus_seeds(42, 4) == [10, 11, 12, 13]
    assert corpus_seeds(15, 3) == [15, 0, 1]


def test_every_workload_corpus_is_pinned():
    for name, wl in WORKLOADS.items():
        pins = pinned(name, wl.corpus)
        assert sorted(pins) == list(range(N_CORPORA))
        for entry in pins.values():
            assert set(entry["digests"]) == {"graph", wl.traced_extra}
            assert min(entry["precision"], entry["recall"]) >= wl.pr_floor
