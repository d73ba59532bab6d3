"""HMM math against brute-force enumeration on tiny chains, plus EM
behaviour (SURVEY.md §5.2: forward-backward vs enumeration, Viterbi vs
exhaustive path search, monotone EM), and the sparse observation
encoding against a dense-tensor reference of every HMM pass."""

import itertools

import numpy as np
import pytest

from weak_supervision_for_ner_spark.operators.aggregate import (
    N_SOURCES,
    N_STATES,
    decode_biluo,
    majority_vote,
    observations_from_spans,
    sequence_from_spans,
)
from weak_supervision_for_ner_spark.operators.hmm import (
    HMMAggregator,
    _logsumexp,
    add_prior_counts,
    backward_pass,
    forward_pass,
    viterbi_pass,
)
from weak_supervision_for_ner_spark.plans.oracle import (
    oracle_annotate,
    oracle_hmm_fit,
    oracle_hmm_mentions,
)
from weak_supervision_for_ner_spark.schema import SOURCE_NAMES
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


# ---------------------------------------------------------------------------
# Dense reference: the HMM passes over the (T, sources, states) tensor,
# kept here as oracle_majority_mentions keeps the dense vote
# ---------------------------------------------------------------------------

def _dense_masked(X, excluded):
    if excluded is None or not len(excluded):
        return X
    X = X.copy()
    X[:, excluded, :] = 0.0
    X[:, excluded, 0] = 1.0
    return X


def _dense_framelogprob(model, X):
    logB0, logB0_sum = model._emission_log_cache()
    frame = np.tile(logB0_sum, (len(X), 1))
    active = X[:, :, 0] == 0
    for s in np.nonzero(active.any(axis=0))[0]:
        rows = np.nonzero(active[:, s])[0]
        probs = X[rows, s, :].astype(np.float64) @ model.emission_probs[s].T
        lp = np.where(probs > 0, np.log(np.maximum(probs, 1e-300)), -np.inf)
        frame[rows] += lp - logB0[s]
    return np.where(X.sum(axis=1).astype(bool), frame, -np.inf)


def _dense_e_step(model, X):
    X = _dense_masked(X, model._excluded)
    frame = _dense_framelogprob(model, X)
    out = model._scaled_forward_backward(frame) or model._logspace_forward_backward(frame)
    logprob, posteriors, trans = out
    obs = (
        X.reshape(len(X), -1).astype(np.float64).T @ posteriors
    ).reshape(N_SOURCES, N_STATES, N_STATES).transpose(0, 2, 1)
    return logprob, posteriors[0], trans, obs


def _dense_label(model, X):
    frame = _dense_framelogprob(model, _dense_masked(X, model._excluded))
    _, path = viterbi_pass(*model._log_start_trans(), frame)
    return path, np.exp(frame[np.arange(len(X)), path] - _logsumexp(frame, axis=1))


def _dense_prior_counts(Xs, best, excluded=None):
    init = np.zeros(N_STATES)
    trans = np.zeros((N_STATES, N_STATES))
    obs = np.zeros((N_SOURCES, N_STATES))
    for X in Xs:
        X = _dense_masked(X, excluded)
        path = X[:, best, :].argmax(axis=1)
        init[path[0]] += 1
        np.add.at(trans, (path[:-1], path[1:]), 1.0)
        obs += X.sum(axis=0)
    return init, trans, obs


def _sparse_prior_counts(Xs, best, excluded=None):
    counts = np.zeros(N_STATES), np.zeros((N_STATES, N_STATES)), np.zeros((N_SOURCES, N_STATES))
    for X in Xs:
        add_prior_counts(X.without_sources(excluded), best, *counts)
    return counts


@pytest.fixture(scope="module")
def fitted():
    """A synthetic corpus as (sparse, dense) encodings, and a model fit on it."""
    docs = [d for d in _small_corpus(40) if d["tokens"]]
    pairs = [(observations_from_spans(d["spans"], len(d["tokens"])),
              sequence_from_spans(d["spans"], len(d["tokens"]))) for d in docs]
    return pairs, oracle_hmm_fit(docs, n_iter=2)


def _masked_model(model):
    """``model``'s parameters, decoding only every other source."""
    keep = set(SOURCE_NAMES[::2])
    excluded = np.array([i for i, s in enumerate(SOURCE_NAMES) if s not in keep])
    return HMMAggregator._rebuilt(model.startprob_, model.transmat_,
                                  model.emission_probs, excluded)


def _assert_stats_match(got, want):
    assert got[0] == pytest.approx(want[0], rel=1e-12)
    for a, b in zip(got[1:], want[1:]):
        np.testing.assert_allclose(a, b, rtol=1e-12, atol=0)


def test_sparse_frame_and_prior_counts_match_dense(fitted):
    pairs, model = fitted
    for X, dense in pairs:
        assert np.array_equal(model.framelogprob(X), _dense_framelogprob(model, dense))
    best = model._best_coverage_source_index()
    got = _sparse_prior_counts([X for X, _ in pairs], best)
    want = _dense_prior_counts([dense for _, dense in pairs], best)
    for a, b in zip(got, want):
        assert np.array_equal(a, b)


def test_sparse_e_step_and_viterbi_match_dense(fitted):
    pairs, model = fitted
    for X, dense in pairs:
        _assert_stats_match(model.e_step(X), _dense_e_step(model, dense))
        path, confs = model.label(X)
        want_path, want_confs = _dense_label(model, dense)
        assert np.array_equal(path, want_path)
        assert np.array_equal(confs, want_confs)


def test_sparse_e_step_accumulates_into_obs(fitted):
    pairs, model = fitted
    obs = np.zeros((N_SOURCES, N_STATES, N_STATES))
    want = np.zeros_like(obs)
    for X, _ in pairs:
        assert model.e_step(X, obs)[3] is obs
        want += model.e_step(X)[3]
    np.testing.assert_allclose(obs, want, rtol=1e-12, atol=0)


def test_sparse_source_mask_matches_dense_mask(fitted):
    pairs, model = fitted
    masked = _masked_model(model)
    for X, dense in pairs:
        _assert_stats_match(masked.e_step(X), _dense_e_step(masked, dense))
        path, confs = masked.label(X)
        want_path, want_confs = _dense_label(masked, dense)
        assert np.array_equal(path, want_path)
        assert np.array_equal(confs, want_confs)
    best = HMMAggregator(sources_to_keep=SOURCE_NAMES[::2])._best_coverage_source_index()
    got = _sparse_prior_counts([X for X, _ in pairs], best, masked._excluded)
    want = _dense_prior_counts([dense for _, dense in pairs], best, masked._excluded)
    for a, b in zip(got, want):
        assert np.array_equal(a, b)


def test_zero_conf_covered_pair_keeps_dense_ninf(fitted):
    """A (token, source) pair covered only by zero-conf cells still
    zeroes the O observation: every state of that token is impossible."""
    _, model = fitted
    spans = [(SOURCE_NAMES[5], 1, 2, "GPE", 0.0), (SOURCE_NAMES[6], 0, 2, "PERSON", 0.8)]
    X = observations_from_spans(spans, 3)
    assert list(zip(X.pair_s, X.pair_t)) == [(5, 1), (6, 0), (6, 1)]
    assert X.cell_conf[X.cell_pair == 0].tolist() == [0.0]
    frame = model.framelogprob(X)
    assert np.isneginf(frame[1]).all() and np.isfinite(frame[0]).any()
    dense = sequence_from_spans(spans, 3)
    assert np.array_equal(frame, _dense_framelogprob(model, dense))
    for a, b in zip(_sparse_prior_counts([X], 5), _dense_prior_counts([dense], 5)):
        assert np.array_equal(a, b)


def test_dense_entry_matches_spans_entry(fitted):
    pairs, model = fitted
    for m in (model, _masked_model(model)):
        for X, dense in pairs:
            assert np.array_equal(m.framelogprob(dense), m.framelogprob(X))
            for a, b in zip(m.e_step(dense), m.e_step(X)):
                assert np.array_equal(a, b)
            for a, b in zip(m.label(dense), m.label(X)):
                assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# The Spark fit against the oracle
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def annotated60(spark):
    from weak_supervision_for_ner_spark.operators.annotate import annotate_pages
    from weak_supervision_for_ner_spark.sources.pages import synth_pages

    frame = annotate_pages(synth_pages(spark, 60, partitions=3)).persist()
    frame.count()
    yield frame
    frame.unpersist()


def test_oracle_and_spark_fits_stop_alike(spark, annotated60):
    """Both fits stop by one rule: at n_iter=6 on this corpus the last
    logprob gain (about 0.11) is above tol but below tol x n_docs."""
    model = HMMAggregator(n_iter=6)
    model.fit_spark(spark, annotated60)
    oracle = oracle_hmm_fit(_small_corpus(60), n_iter=6)
    assert len(model.history) == len(oracle.history) == 6
    np.testing.assert_allclose(model.history, oracle.history, rtol=1e-9)


def test_hmm_spark_path_builds_no_dense_tensor(spark, annotated60, monkeypatch):
    """fit_spark, decode_spark and extract_triples_hmm_fused run on the
    sparse encoding: with the dense tensor function made to raise, in the
    Python workers too, all three still run."""
    from pyspark import cloudpickle

    from weak_supervision_for_ner_spark.operators import aggregate, hmm, triples

    def no_dense(*args, **kwargs):
        raise AssertionError("dense observation tensor built on the HMM path")

    monkeypatch.setattr(aggregate, "extract_sequence", no_dense)
    # the workers import the package afresh: pickling these modules by
    # value ships the patched function with the code that runs there
    modules = (aggregate, hmm, triples)
    for module in modules:
        cloudpickle.register_pickle_by_value(module)
    try:
        model = hmm.HMMAggregator(n_iter=2)
        model.fit_spark(spark, annotated60)
        assert len(model.history) == 2
        assert model.decode_spark(spark, annotated60).count() > 0
        assert triples.extract_triples_hmm_fused(annotated60, model).count() > 0
    finally:
        for module in modules:
            cloudpickle.unregister_pickle_by_value(module)


def test_resumed_converged_fit_runs_no_iteration(spark, annotated60, tmp_path, jobs_launched):
    """A fit that stopped by the convergence rule, resumed from its
    checkpoints, stops there too: it reloads the last checkpoint, runs no
    Spark job, and has the uninterrupted fit's history and parameters."""
    ckpt = str(tmp_path / "ckpt")
    # tol far above any logprob gain: EM stops after its second iteration
    model = HMMAggregator(n_iter=5, tol=1e12)
    model.fit_spark(spark, annotated60, checkpoint_dir=ckpt)
    assert len(model.history) == 2

    resumed = HMMAggregator(n_iter=5, tol=1e12)
    jobs = jobs_launched("hmm-resume-converged", lambda: resumed.fit_spark(
        spark, annotated60, checkpoint_dir=ckpt, resume=True))
    assert jobs == []
    assert resumed.history == model.history
    np.testing.assert_array_equal(resumed.emission_probs, model.emission_probs)


def test_fit_resumes_from_its_init_checkpoint(spark, annotated60, tmp_path, jobs_launched):
    """A fit killed after the prior pass, before its first EM iteration,
    resumes from ``iter_init``: it runs no prior pass again, only the
    one E-step job, and ends with the uninterrupted fit's parameters."""
    import glob
    import os

    ckpt = str(tmp_path / "ckpt")
    model = HMMAggregator(n_iter=1)
    model.fit_spark(spark, annotated60, checkpoint_dir=ckpt)
    for path in glob.glob(os.path.join(ckpt, "iter_000*")):
        os.remove(path)

    resumed = HMMAggregator(n_iter=1)
    jobs = jobs_launched("hmm-resume-init", lambda: resumed.fit_spark(
        spark, annotated60, checkpoint_dir=ckpt, resume=True))
    assert len(jobs) == 1, jobs
    assert resumed.history == model.history
    np.testing.assert_array_equal(resumed.startprob_, model.startprob_)
    np.testing.assert_array_equal(resumed.transmat_, model.transmat_)
    np.testing.assert_array_equal(resumed.emission_probs, model.emission_probs)
