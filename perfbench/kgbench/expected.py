"""Expected outputs, computed by the single-node oracle and pinned.

The oracle (plans/oracle.py) calls the same per-document functions as
the Spark operators, so an oracle run from the code under test follows
any change in them. The expected digests are therefore computed once, by
``perfbench/pin.py``, and committed as ``perfbench/expected/<workload>.json``:
a change in the program's output fails the digest check until those
files are rewritten on purpose. A run's seed selects its corpora among
``N_CORPORA`` pinned ones.
"""

from __future__ import annotations

import json
import os

from weak_supervision_for_ner_spark.operators.aggregate import (
    decode_biluo,
    layers_from_spans,
    majority_vote_sparse,
    sequence_from_spans,
    specialise_layers,
)
from weak_supervision_for_ner_spark.operators.entity_correction import (
    correct_spans_with_conf,
)
from weak_supervision_for_ner_spark.operators.triples import (
    _local_components,
    extract_triples_from_doc,
)
from weak_supervision_for_ner_spark.plans.oracle import (
    _minhash_signature,
    _norm_surface,
    oracle_annotate,
    oracle_form_frequencies,
    oracle_graph,
    oracle_hmm_fit,
    oracle_majority_mentions,
)
from weak_supervision_for_ner_spark.sources.gazetteer import canonical_entity_ids

from kgbench.digest import digest, precision_recall

HMM_ITERS = 3  # run_kg_pipeline's default
N_CORPORA = 16
PIN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "expected")


def corpus_seeds(seed: int, k: int) -> list[int]:
    """The generator seeds of the ``k`` corpora a run with ``seed`` uses."""
    return [(seed + j) % N_CORPORA for j in range(k)]


def _doc_triples(url: str, tokens: list, path, confs) -> list[tuple]:
    ments = [(s, e, lab, conf) for (s, e), (lab, conf) in decode_biluo(path, confs).items()]
    return extract_triples_from_doc(url, tokens, correct_spans_with_conf(tokens, ments))


def _majority_triples(doc: dict) -> list[tuple]:
    """Per-doc body of oracle_graph and of extract_triples_direct."""
    tokens = list(doc["tokens"])
    layers = specialise_layers(layers_from_spans(list(doc["spans"])))
    return _doc_triples(doc["url"], tokens, *majority_vote_sparse(layers, len(tokens), 4))


def _hmm_triples(model, doc: dict) -> list[tuple]:
    """Per-doc body of extract_triples_hmm_fused."""
    tokens = list(doc["tokens"])
    path, confs = model.label(sequence_from_spans(list(doc["spans"]), len(tokens)))
    return _doc_triples(doc["url"], tokens, path, confs)


def finalize_graph(raw: list[tuple]) -> list[tuple]:
    """Linking, minhash-LSH canonicalization and max-conf edge dedup over
    raw triples: the corpus-wide tail of oracle_graph, applied to the raw
    triples of the HMM aggregator."""
    kb = canonical_entity_ids()
    linked, unlinked = [], set()
    for (subj, st, pred, obj, ot, url, conf) in raw:
        sn, on = _norm_surface(subj), _norm_surface(obj)
        skb, okb = kb.get(sn), kb.get(on)
        if skb is None:
            unlinked.add(sn)
        if okb is None:
            unlinked.add(on)
        linked.append((subj, st, pred, obj, ot, url, conf, sn, on, skb, okb))
    sig_rows = [
        {"name": name, **{f"h{i}": h for i, h in enumerate(_minhash_signature(name, 16))}}
        for name in sorted(unlinked)
    ]
    mapping = _local_components(sig_rows, 16, 4, 64, stats=None)
    best: dict[tuple, tuple] = {}
    for (subj, st, pred, obj, ot, url, conf, sn, on, skb, okb) in linked:
        sid = skb if skb is not None else "ent:" + mapping.get(sn, sn)
        oid = okb if okb is not None else "ent:" + mapping.get(on, on)
        key = (sid, pred, oid, url)
        rank = (-conf, subj, st, obj, ot)
        if key not in best or rank < best[key][0]:
            best[key] = (rank, (subj, st, pred, obj, ot, url, conf, sid, oid))
    return [row for _rank, row in best.values()]


def oracle_outputs(kind: str, pages: list[dict]) -> dict[str, list[tuple]]:
    """Expected rows of every table a workload writes.

    kind: "majority" (graph, and the raw triples of the stream that its
    traced run drains: no truecasing) or "hmm" (graph, and the majority
    mentions that its traced run writes)."""
    if kind == "majority":
        return {"graph": oracle_graph(pages),
                "stream": [t for doc in oracle_annotate(pages) for t in _majority_triples(doc)]}
    annotated = oracle_annotate(pages, form_freqs=oracle_form_frequencies(pages))
    mentions = oracle_majority_mentions(annotated)
    annotated = [d for d in annotated if d["tokens"]]
    model = oracle_hmm_fit(annotated, n_iter=HMM_ITERS)
    return {"graph": finalize_graph([t for doc in annotated for t in _hmm_triples(model, doc)]),
            "mentions": mentions}


def pin_entry(kind: str, corpus, seed: int) -> dict:
    """Digests of every table, and the triple precision/recall, that the
    oracle gives on the corpus of generator seed ``seed``."""
    rows = oracle_outputs(kind, corpus.pages(seed))
    p, r = precision_recall(rows["graph"], corpus.gold(seed))
    return {"digests": {t: digest(x) for t, x in rows.items()},
            "precision": p, "recall": r}


def pin_path(workload: str) -> str:
    return os.path.join(PIN_DIR, f"{workload}.json")


def pinned(workload: str, corpus) -> dict[int, dict]:
    """Generator seed -> pinned entry, for every pinned corpus."""
    with open(pin_path(workload)) as fd:
        pins = json.load(fd)
    if pins["n_docs"] != corpus.n_docs:
        raise SystemExit(f"{pin_path(workload)} pins corpora of {pins['n_docs']} docs, the "
                         f"workload uses {corpus.n_docs}: rerun perfbench/pin.py")
    return {int(s): entry for s, entry in pins["seeds"].items()}
