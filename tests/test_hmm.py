"""HMM math against brute-force enumeration on tiny chains, plus EM
behaviour (SURVEY.md §5.2: forward-backward vs enumeration, Viterbi vs
exhaustive path search, monotone EM)."""

import itertools

import numpy as np
import pytest

from weak_supervision_for_ner_spark.operators.aggregate import (
    N_SOURCES,
    N_STATES,
    decode_biluo,
    majority_vote,
    sequence_from_spans,
)
from weak_supervision_for_ner_spark.operators.hmm import (
    HMMAggregator,
    backward_pass,
    forward_pass,
    viterbi_pass,
)
from weak_supervision_for_ner_spark.plans.oracle import (
    oracle_annotate,
    oracle_hmm_fit,
    oracle_hmm_mentions,
)
from weak_supervision_for_ner_spark.sources.pages import make_page


def _tiny_model(rng):
    """Random dense log-space model restricted to the first k states so
    brute force stays cheap; embedded in the full state space."""
    k = 4
    log_start = np.full(N_STATES, -np.inf)
    log_trans = np.full((N_STATES, N_STATES), -np.inf)
    start = rng.dirichlet(np.ones(k))
    trans = rng.dirichlet(np.ones(k), size=k)
    log_start[:k] = np.log(start)
    log_trans[:k, :k] = np.log(trans)
    T_len = 5
    frame = np.full((T_len, N_STATES), -np.inf)
    frame[:, :k] = np.log(rng.random((T_len, k)) + 0.05)
    return k, log_start, log_trans, frame


def test_forward_matches_enumeration():
    rng = np.random.default_rng(0)
    k, log_start, log_trans, frame = _tiny_model(rng)
    logprob, _ = forward_pass(log_start, log_trans, frame)
    total = -np.inf
    for path in itertools.product(range(k), repeat=len(frame)):
        lp = log_start[path[0]] + frame[0, path[0]]
        for t in range(1, len(frame)):
            lp += log_trans[path[t - 1], path[t]] + frame[t, path[t]]
        total = np.logaddexp(total, lp)
    assert logprob == pytest.approx(total, rel=1e-9)


def test_posteriors_match_enumeration():
    rng = np.random.default_rng(1)
    k, log_start, log_trans, frame = _tiny_model(rng)
    logprob, fwd = forward_pass(log_start, log_trans, frame)
    bwd = backward_pass(log_trans, frame)
    post = np.exp(fwd + bwd - logprob)

    brute = np.zeros((len(frame), k))
    for path in itertools.product(range(k), repeat=len(frame)):
        lp = log_start[path[0]] + frame[0, path[0]]
        for t in range(1, len(frame)):
            lp += log_trans[path[t - 1], path[t]] + frame[t, path[t]]
        for t, s in enumerate(path):
            brute[t, s] += np.exp(lp - logprob)
    assert np.allclose(post[:, :k], brute, atol=1e-9)


def test_viterbi_matches_exhaustive():
    rng = np.random.default_rng(2)
    k, log_start, log_trans, frame = _tiny_model(rng)
    score, path = viterbi_pass(log_start, log_trans, frame)
    best_lp, best_path = -np.inf, None
    for cand in itertools.product(range(k), repeat=len(frame)):
        lp = log_start[cand[0]] + frame[0, cand[0]]
        for t in range(1, len(frame)):
            lp += log_trans[cand[t - 1], cand[t]] + frame[t, cand[t]]
        if lp > best_lp:
            best_lp, best_path = lp, cand
    assert score == pytest.approx(best_lp, rel=1e-9)
    assert tuple(path) == best_path


def _small_corpus(n=40):
    pages = [make_page(i)[0] for i in range(n)]
    return oracle_annotate(pages)


def test_em_logprob_monotone_nondecreasing():
    annotated = _small_corpus(40)
    model = oracle_hmm_fit(annotated, n_iter=4)
    hist = model.history
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b >= a - 1e-6 * abs(a)


def test_hmm_decode_is_valid_biluo():
    annotated = _small_corpus(30)
    model = oracle_hmm_fit(annotated, n_iter=2)
    from weak_supervision_for_ner_spark.schema import POSITIONED_LABELS

    for doc in annotated:
        if not doc["tokens"]:
            continue
        X = sequence_from_spans(doc["spans"], len(doc["tokens"]))
        path, _ = model.label(X)
        prev = "O"
        for s in path:
            lab = POSITIONED_LABELS[int(s)]
            if prev[0] in "LUO":
                assert lab[0] not in "IL", (prev, lab)
            if prev[0] in "BI":
                assert lab[0] in "IL" and lab[2:] == prev[2:], (prev, lab)
            prev = lab


def test_hmm_beats_nothing_and_finds_entities():
    annotated = _small_corpus(60)
    model = oracle_hmm_fit(annotated, n_iter=3)
    mentions = oracle_hmm_mentions(model, annotated)
    labels = {m[4] for m in mentions}
    assert len(mentions) > 20
    assert {"PERSON", "COMPANY", "GPE"} & labels


def test_majority_vote_threshold():
    X = np.zeros((3, N_SOURCES, N_STATES), dtype=np.float32)
    X[:, :, 0] = 1.0
    # 5 sources vote U-GPE on token 1
    from weak_supervision_for_ner_spark.schema import LABEL_INDICES

    for s in range(5):
        X[1, s, 0] = 0.0
        X[1, s, LABEL_INDICES["U-GPE"]] = 1.0
    states, confs = majority_vote(X, nb_sources_threshold=4)
    assert states[1] == LABEL_INDICES["U-GPE"]
    assert states[0] == 0 and states[2] == 0
    assert confs[1] == pytest.approx(1.0)
    states, _ = majority_vote(X, nb_sources_threshold=6)
    assert states[1] == 0


def test_decode_biluo_roundtrip():
    from weak_supervision_for_ner_spark.schema import LABEL_INDICES

    states = np.zeros(6, dtype=np.int64)
    states[1] = LABEL_INDICES["B-ORG"]
    states[2] = LABEL_INDICES["I-ORG"]
    states[3] = LABEL_INDICES["L-ORG"]
    states[5] = LABEL_INDICES["U-GPE"]
    confs = np.array([0.1, 0.9, 0.8, 0.7, 0.1, 0.6])
    spans = decode_biluo(states, confs)
    assert spans == {(1, 4): ("ORG", 0.9), (5, 6): ("GPE", 0.6)}


def test_checkpoint_roundtrip(tmp_path):
    annotated = _small_corpus(20)
    model = oracle_hmm_fit(annotated, n_iter=2)
    path = str(tmp_path / "ckpt" / "iter_001")
    model.save(path, 1, model.history[-1])
    loaded = HMMAggregator().load(path)
    assert np.allclose(loaded.emission_probs, model.emission_probs)
    assert np.allclose(loaded.transmat_, model.transmat_)
    X = sequence_from_spans(annotated[0]["spans"], len(annotated[0]["tokens"]))
    p1, _ = model.label(X)
    p2, _ = loaded.label(X)
    assert np.array_equal(p1, p2)


def test_framelogprob_follows_in_place_emission_update():
    """The log-table caches are keyed on a parameter version, not on
    array identity: pinning excluded sources rewrites emission_probs IN
    PLACE, and framelogprob must see the new table, not the cached one."""
    doc = next(d for d in _small_corpus(10) if d["spans"])
    X = sequence_from_spans(doc["spans"], len(doc["tokens"]))
    model = HMMAggregator()
    model.initialise(np.ones(N_STATES), np.ones((N_STATES, N_STATES)),
                     np.ones((N_SOURCES, N_STATES)))
    emissions = model.emission_probs
    before = model.framelogprob(X)  # fills the cache
    model._excluded = np.array([0, 1])
    model._pin_excluded_emissions()
    assert model.emission_probs is emissions  # same array, new contents
    fresh = HMMAggregator._rebuilt(model.startprob_, model.transmat_,
                                   emissions.copy(), model._excluded)
    after = model.framelogprob(X)
    assert not np.array_equal(after, before)
    assert np.array_equal(after, fresh.framelogprob(X))
