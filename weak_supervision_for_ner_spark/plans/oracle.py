"""Single-node pure-numpy oracle (SURVEY.md §5.2).

Implements the identical semantics as the Spark pipeline by calling
the SAME per-document core (operators.labelling, and the kernel the
Spark extraction stage runs: triples.doc_mentions, with its entity
correction, then triples.extract_triples_from_doc) in a plain Python
loop — no Spark. ``oracle_majority_mentions`` alone keeps
the dense ``majority_vote``: it is the independent reference for the
sparse vote. The HMM fit and decode read the same sparse observation
encoding as the Spark passes. Golden parity tests assert the distributed output equals
this oracle exactly (spans, mentions) and at P/R >= 0.95 (triples, per
north_rule).
"""

from __future__ import annotations

import numpy as np

from weak_supervision_for_ner_spark.operators.aggregate import (
    N_SOURCES,
    N_STATES,
    decode_biluo,
    majority_vote,
    observations_from_spans,
    sequence_from_spans,
)
from weak_supervision_for_ner_spark.operators.hmm import HMMAggregator, add_prior_counts
from weak_supervision_for_ner_spark.operators.labelling import (
    Doc,
    annotate_document,
    flatten_spans,
)
from weak_supervision_for_ner_spark.operators.triples import (
    _local_components,
    doc_mentions,
    extract_triples_from_doc,
    majority_labeller,
)
from weak_supervision_for_ner_spark.sources.gazetteer import (
    FIRST_NAMES,
    build_gazetteers,
    canonical_entity_ids,
)


def oracle_annotate(pages: list[dict], form_freqs: dict | None = None) -> list[dict]:
    """[{url, text}, ...] -> [{url, tokens, spans}, ...].

    Missing ``lang`` defaults to "en" (test convenience for bare
    {url, text} dicts); a page with lang present but != "en" — or
    explicitly None, matching Spark's null-excluding
    ``F.col("lang") == "en"`` filter — is skipped."""
    gazetteers = build_gazetteers()
    out = []
    for page in pages:
        if page.get("lang", "en") != "en":
            continue
        doc = annotate_document(
            Doc(page["text"] or "", form_freqs=form_freqs), gazetteers, FIRST_NAMES
        )
        out.append({"url": page["url"], "tokens": doc.tokens, "spans": flatten_spans(doc)})
    return out


def oracle_majority_mentions(annotated: list[dict], threshold: int = 4) -> list[tuple]:
    rows = []
    for doc in annotated:
        X = sequence_from_spans(doc["spans"], len(doc["tokens"]))
        states, confs = majority_vote(X, threshold)
        for (s, e), (lab, conf) in decode_biluo(states, confs).items():
            rows.append((doc["url"], "majority_voter", s, e, lab, conf,
                         " ".join(doc["tokens"][s:e])))
    return rows


def oracle_hmm_fit(annotated: list[dict], n_iter: int = 10, seed: int = 42) -> HMMAggregator:
    """Single-node Baum-Welch with the same init/E/M code paths and the
    same stopping rule as ``HMMAggregator.fit_spark``."""
    model = HMMAggregator(n_iter=n_iter, seed=seed)
    best = model._best_coverage_source_index()

    init = np.zeros(N_STATES)
    trans = np.zeros((N_STATES, N_STATES))
    obs = np.zeros((N_SOURCES, N_STATES))
    seqs = [observations_from_spans(doc["spans"], len(doc["tokens"]))
            for doc in annotated if doc["tokens"]]
    for X in seqs:
        add_prior_counts(X, best, init, trans, obs)
    model.initialise(init, trans, obs)

    prev = None
    for iteration in range(n_iter):
        logprob = 0.0
        start = np.zeros(N_STATES)
        tr = np.zeros((N_STATES, N_STATES))
        ob = np.zeros((N_SOURCES, N_STATES, N_STATES))
        for X in seqs:
            lp, st, t2, _ = model.e_step(X, ob)
            logprob += lp
            start += st
            tr += t2
        model.m_step(start, tr, ob)
        model.history.append(float(logprob))
        if model._converged(prev, logprob, iteration):
            break
        prev = logprob
    return model


def oracle_hmm_mentions(model: HMMAggregator, annotated: list[dict]) -> list[tuple]:
    def label(spans, n_tokens):
        return model.label(observations_from_spans(spans, n_tokens))

    return [
        (doc["url"], model.source_name, s, e, lab, conf, " ".join(doc["tokens"][s:e]))
        for doc in annotated
        for (s, e, lab, conf) in doc_mentions(doc["tokens"], doc["spans"], label)
    ]


# ---------------------------------------------------------------------------
# Full end-to-end graph oracle (majority path of run_kg_pipeline)
# ---------------------------------------------------------------------------

# Java \s (regexp_replace / split on the Spark side) — NOT python \s,
# which also matches unicode whitespace.
_JAVA_WS = "[ \\t\\n\\x0b\\f\\r]+"


def oracle_form_frequencies(
    pages: list[dict], min_count: int = 2, max_entries: int = 500_000
) -> dict:
    """Single-node mirror of textstats.collect_form_frequency_dict:
    split on \\s+, alphabetic forms only, total count >= min_count,
    and the SAME bounded collect — at most ``max_entries`` lowercase
    forms ordered by (corpus frequency desc, lform asc). Lang
    filtering mirrors the Spark side's null-excluding equality (a page
    whose lang is None is skipped; only a MISSING key defaults to en,
    matching oracle_annotate's test convenience)."""
    import re

    counts: dict[str, dict[str, int]] = {}
    for page in pages:
        if page.get("lang", "en") != "en":
            continue
        for form in re.split(_JAVA_WS, page["text"] or ""):
            if form and form.isascii() and form.isalpha():
                counts.setdefault(form.lower(), {})
                counts[form.lower()][form] = counts[form.lower()].get(form, 0) + 1
    kept = sorted(
        ((lform, forms) for lform, forms in counts.items()
         if sum(forms.values()) >= min_count),
        key=lambda kv: (-sum(kv[1].values()), kv[0]),
    )[:max_entries]
    return dict(kept)


def _norm_surface(s: str) -> str:
    """lower(regexp_replace(col, '\\s+', ' ')) — link_entities' norm."""
    import re

    return re.sub(_JAVA_WS, " ", s).lower()


def _minhash_signature(name: str, n_hashes: int = 16, k: int = 3) -> list[int]:
    """Mirror of operators.triples.minhash_signatures for one string:
    char k-shingles of '^'+name+'$' (1-based substr semantics, short
    tail shingles at the string end exactly as ``substr(i, k)``
    truncates), then min over ``xxhash64(lit(i), shingle)`` per
    permutation — using the bit-exact pure-python xxhash64 mirror."""
    from weak_supervision_for_ner_spark.functions.xxhash64 import xxhash64

    padded = "^" + name + "$"
    n = max(len(padded) - (k - 1), 1)
    shingles = {padded[i:i + k] for i in range(n)}
    return [min(xxhash64(i, sh) for sh in shingles) for i in range(n_hashes)]


def oracle_graph(
    pages: list[dict],
    nb_sources_threshold: int = 4,
    correct: bool = True,
    truecase: bool = True,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
) -> list[tuple]:
    """Single-node mirror of ``run_kg_pipeline(aggregator='majority')``:
    truecase dict → annotate → the per-document kernel of the Spark
    stage (specialise → sparse majority vote → entity-correct → SVO
    triples) → :func:`oracle_finalize_graph`.

    Returns rows shaped like the graph DataFrame: (subj, subj_type,
    pred, obj, obj_type, url, conf, subj_id, obj_id)."""
    form_freqs = oracle_form_frequencies(pages) if truecase else None
    label = majority_labeller(nb_sources_threshold)
    raw = [
        t
        for doc in oracle_annotate(pages, form_freqs=form_freqs)
        for t in extract_triples_from_doc(
            doc["url"], doc["tokens"], doc_mentions(doc["tokens"], doc["spans"], label, correct)
        )
    ]
    return oracle_finalize_graph(raw, n_hashes, bands, max_bucket)


def oracle_finalize_graph(
    raw: list[tuple], n_hashes: int = 16, bands: int = 4, max_bucket: int = 64,
) -> list[tuple]:
    """Single-node mirror of the pipeline's tail over raw (subj,
    subj_type, pred, obj, obj_type, url, conf) triples: KB linking →
    minhash-LSH canonicalization (bit-exact xxhash64 signatures + the
    same banding/union-find as canonicalize_triples' driver path) →
    max-conf dedup with the deterministic surface tiebreak of
    materialize_graph. Rows are shaped like the graph DataFrame."""
    # linking (broadcast-dictionary join mirror)
    kb = canonical_entity_ids()
    linked = []
    unlinked: set[str] = set()
    for (subj, st, pred, obj, ot, url, conf) in raw:
        sn, on = _norm_surface(subj), _norm_surface(obj)
        skb, okb = kb.get(sn), kb.get(on)
        if skb is None:
            unlinked.add(sn)
        if okb is None:
            unlinked.add(on)
        linked.append((subj, st, pred, obj, ot, url, conf, sn, on, skb, okb))

    # canonicalization: same banding + union-find as the driver path of
    # canonicalize_triples, over bit-identical signatures
    sig_rows = [
        {"name": name, **{f"h{i}": h for i, h in
                          enumerate(_minhash_signature(name, n_hashes))}}
        for name in sorted(unlinked)
    ]
    mapping = _local_components(sig_rows, n_hashes, bands, max_bucket, stats=None)

    # finalize ids + max-conf dedup (materialize_graph's deterministic
    # surface tiebreak: desc conf, then subj/subj_type/obj/obj_type asc)
    best: dict[tuple, tuple] = {}
    for (subj, st, pred, obj, ot, url, conf, sn, on, skb, okb) in linked:
        sid = skb if skb is not None else "ent:" + mapping.get(sn, sn)
        oid = okb if okb is not None else "ent:" + mapping.get(on, on)
        key = (sid, pred, oid, url)
        rank = (-conf, subj, st, obj, ot)
        row = (subj, st, pred, obj, ot, url, conf, sid, oid)
        if key not in best or rank < best[key][0]:
            best[key] = (rank, row)
    return [row for _rank, row in best.values()]
