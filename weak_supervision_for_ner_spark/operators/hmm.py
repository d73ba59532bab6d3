"""Hidden-Markov-model label aggregator (Baum-Welch EM + Viterbi).

From-scratch numpy re-implementation of the reference's HMMAnnotator
(labelling.py:235-495). The reference inherits forward/backward/
Viterbi from hmmlearn's C code; here they are explicit log-space
numpy (≈60 LoC) as required by the north_star.

Distributed execution (SURVEY.md §3.2):

- priors initialisation = ONE fused mapInPandas pass producing
  per-partition (init, trans, obs) count matrices (the reference makes
  three tee'd generator passes, labelling.py:248-252) + driver sum;
- each EM iteration = mapInPandas E-step emitting ONE partial-stats
  row per partition (map-side combine) + driver-side final sum and
  M-step; params re-broadcast per iteration;
- both passes are summed by ``operators.partials.sum_partials``, the
  reducer the label model's E-step shares;
- every pass reads a document as the sparse
  ``aggregate.Observations`` encoding — the span-covered (token,
  source) pairs and their cells — never as the dense
  (tokens, sources, states) tensor. ``e_step``/``label`` still accept a
  dense tensor (the oracle's reference form) and encode it at entry,
  so the arithmetic has one path;
- per-iteration checkpoints (params + logprob) make the loop resumable
  mid-pipeline (north_rule).

Determinism: dirichlet inits are seeded (the reference's are not,
labelling.py:332/357 — SURVEY.md §7.4 calls this out as required).
"""

from __future__ import annotations

import json
import logging
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from weak_supervision_for_ner_spark.operators.aggregate import (
    N_SOURCES,
    N_STATES,
    Observations,
    as_observations,
    observations_from_spans,
)
from weak_supervision_for_ner_spark.operators.partials import sum_partials
from weak_supervision_for_ner_spark.operators.triples import _mentions_stage, doc_mentions
from weak_supervision_for_ner_spark.schema import (
    OUT_PRECISION,
    OUT_RECALL,
    POSITIONED_LABELS,
    SOURCE_NAMES,
    SOURCE_PRIORS,
)

_NINF = -np.inf


# ---------------------------------------------------------------------------
# Log-space DP kernels
# ---------------------------------------------------------------------------

def _logsumexp(a: np.ndarray, axis: int = -1) -> np.ndarray:
    amax = np.max(a, axis=axis, keepdims=True)
    amax_safe = np.where(np.isfinite(amax), amax, 0.0)
    with np.errstate(divide="ignore"):
        out = np.log(np.sum(np.exp(a - amax_safe), axis=axis)) + np.squeeze(amax_safe, axis)
    return np.where(np.isfinite(np.squeeze(amax, axis)), out, _NINF)


def forward_pass(log_start, log_trans, framelogprob):
    T_len = len(framelogprob)
    fwd = np.empty((T_len, N_STATES))
    fwd[0] = log_start + framelogprob[0]
    for t in range(1, T_len):
        fwd[t] = _logsumexp(fwd[t - 1][:, None] + log_trans, axis=0) + framelogprob[t]
    return _logsumexp(fwd[-1], axis=0), fwd


def backward_pass(log_trans, framelogprob):
    T_len = len(framelogprob)
    bwd = np.zeros((T_len, N_STATES))
    for t in range(T_len - 2, -1, -1):
        bwd[t] = _logsumexp(log_trans + (framelogprob[t + 1] + bwd[t + 1])[None, :], axis=1)
    return bwd


def viterbi_pass(log_start, log_trans, framelogprob):
    T_len = len(framelogprob)
    delta = log_start + framelogprob[0]
    backptr = np.empty((T_len, N_STATES), dtype=np.int32)
    # preallocated score buffer + index row: identical arithmetic, no
    # per-step (K, K) allocation (r7)
    scores = np.empty_like(log_trans)
    idx = np.arange(N_STATES)
    for t in range(1, T_len):
        np.add(delta[:, None], log_trans, out=scores)
        backptr[t] = scores.argmax(axis=0)
        delta = scores[backptr[t], idx] + framelogprob[t]
    path = np.empty(T_len, dtype=np.int32)
    path[-1] = int(delta.argmax())
    for t in range(T_len - 2, -1, -1):
        path[t] = backptr[t + 1, path[t + 1]]
    return float(delta.max()), path


# ---------------------------------------------------------------------------
# The aggregator
# ---------------------------------------------------------------------------

class HMMAggregator:
    """77-state HMM over multi-source BILUO observations."""

    # bumped by _params_changed on every parameter update; the log-table
    # caches are keyed on it, so in-place updates invalidate them too
    _params_version = 0

    def __init__(self, source_name: str = "HMM", n_iter: int = 10,
                 tol: float = 1e-2, seed: int = 42,
                 sources_to_keep: list[str] | None = None):
        self.source_name = source_name
        self.n_iter = n_iter
        self.tol = tol
        self.seed = seed
        # sources_to_keep (UnifiedAnnotator, labelling.py:93-100): train
        # and decode on a source subset. Excluded sources are pinned to
        # deterministic O-emitters and their observation columns masked
        # to the default O, so they contribute a constant 0 to every
        # frame log-likelihood — exactly as if absent from the model.
        self._excluded: np.ndarray | None = None
        if sources_to_keep is not None:
            keep = set(sources_to_keep)
            unknown = keep - set(SOURCE_NAMES)
            if unknown:
                raise ValueError(f"unknown sources: {sorted(unknown)}")
            self._excluded = np.array(
                [i for i, s in enumerate(SOURCE_NAMES) if s not in keep], dtype=int
            )
        self.startprob_prior = None
        self.startprob_ = None
        self.transmat_prior = None
        self.transmat_ = None
        self.emission_priors = None
        self.emission_probs = None
        self.history: list[float] = []

    # -- priors --------------------------------------------------------

    def _best_coverage_source_index(self) -> int:
        excluded = set() if self._excluded is None else set(self._excluded.tolist())
        candidates = [s for i, s in enumerate(SOURCE_NAMES) if i not in excluded]
        source = sorted(candidates, key=lambda s: len(SOURCE_PRIORS[s]))[-1]
        return SOURCE_NAMES.index(source)

    def _observations(self, X: "Observations | np.ndarray") -> Observations:
        """One document's sparse observations from either input form,
        with the excluded sources reset to the default O."""
        return as_observations(X).without_sources(self._excluded)

    def _pin_excluded_emissions(self) -> None:
        """Excluded sources emit O with probability 1 in every state (a
        constant likelihood factor of 0 in log space); priors are pinned
        too, so the M-step keeps them there."""
        if self._excluded is None or not len(self._excluded):
            return
        onehot = np.zeros((N_STATES, N_STATES))
        onehot[:, 0] = 1.0
        self.emission_probs[self._excluded] = onehot
        self.emission_priors[self._excluded] = onehot
        self._params_changed()

    def _params_changed(self) -> None:
        """Invalidate the cached log tables. Every update of
        startprob_/transmat_/emission_probs — in place or by
        reassignment — must call this."""
        self._params_version += 1

    def initialise(self, init_counts, trans_counts, obs_counts) -> None:
        """Build priors from corpus count aggregations
        (labelling.py:314-423 semantics, seeded RNG)."""
        rng = np.random.default_rng(self.seed)
        init_counts = init_counts.astype(np.float64).copy()
        trans_counts = trans_counts.astype(np.float64).copy()
        obs_counts = obs_counts.astype(np.float64).copy()

        for i, label in enumerate(POSITIONED_LABELS):
            if i == 0 or label[0] in "BU":
                init_counts[i] += 1
        self.startprob_prior = init_counts + 1
        self.startprob_ = rng.dirichlet(init_counts + 1e-10)

        for i, label in enumerate(POSITIONED_LABELS):
            if label[0] in "BI":
                trans_counts[i, POSITIONED_LABELS.index("I-" + label[2:])] += 1
                trans_counts[i, POSITIONED_LABELS.index("L-" + label[2:])] += 1
            elif i == 0 or label[0] in "UL":
                for j, label2 in enumerate(POSITIONED_LABELS):
                    if j == 0 or label2[0] in "BU":
                        trans_counts[i, j] += 1
        self.transmat_prior = trans_counts + 1
        self.transmat_ = np.vstack(
            [rng.dirichlet(row + 1e-10) for row in trans_counts]
        )

        self._initialise_emissions(obs_counts)
        self._pin_excluded_emissions()
        self._params_changed()

    def _initialise_emissions(self, obs_counts: np.ndarray, strength: float = 1000.0):
        """Emission priors from SOURCE_PRIORS P/R with boundary-error x5
        and same-position x2 boosts (labelling.py:361-423)."""
        for si, source in enumerate(SOURCE_NAMES):
            obs_counts[si, 0] += 1
            for pi, pos_label in enumerate(POSITIONED_LABELS[1:], start=1):
                if pos_label[2:] in SOURCE_PRIORS[source]:
                    obs_counts[si, pi] += 1
        obs_probs = obs_counts / obs_counts.sum(axis=1, keepdims=True)

        prior_prec = np.full((N_SOURCES, N_STATES), 1.0)
        prior_rec = np.zeros((N_SOURCES, N_STATES))
        for si, source in enumerate(SOURCE_NAMES):
            for pi, pos_label in enumerate(POSITIONED_LABELS):
                if pi == 0:
                    prior_rec[si, pi] = OUT_RECALL
                    prior_prec[si, pi] = OUT_PRECISION
                elif pos_label[2:] in SOURCE_PRIORS[source]:
                    p, r = SOURCE_PRIORS[source][pos_label[2:]]
                    prior_prec[si, pi] = p
                    prior_rec[si, pi] = r
                # else: recall 0, precision 1.0 (reference defaults)

        labels_arr = np.array([l[2:] if l != "O" else "" for l in POSITIONED_LABELS])
        bilu_arr = np.array([l[0] for l in POSITIONED_LABELS])
        same_label = (labels_arr[:, None] == labels_arr[None, :]) & (labels_arr[:, None] != "")
        same_pos = (bilu_arr[:, None] == bilu_arr[None, :])
        nontrivial = np.ones((N_STATES, N_STATES), bool)
        nontrivial[0, :] = False
        nontrivial[:, 0] = False

        matrix = np.zeros((N_SOURCES, N_STATES, N_STATES))
        eye = np.eye(N_STATES, dtype=bool)
        for si in range(N_SOURCES):
            recall = prior_rec[si]  # (S,)
            matrix[si][eye] = recall
            error = (
                (1 - recall[:, None])
                * (1 - prior_prec[si][None, :])
                * (0.001 + obs_probs[si][None, :])
            )
            error = np.where(same_label & nontrivial, error * 5, error)
            error = np.where(same_pos & nontrivial, error * 2, error)
            error[eye] = 0.0
            err_sum = error.sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                scale = np.where(err_sum > 0, (1 - recall) / err_sum, 0.0)
            matrix[si] += error * scale[:, None]

        self.emission_priors = matrix * strength
        self.emission_probs = matrix

    # -- likelihood / EM -------------------------------------------------

    def _emission_log_cache(self):
        """(log B[:, :, 0], its source-sum) — recomputed only when the
        parameters change (per EM iteration / per task), not per
        document: np.log of the 37x77 slice plus two errstate context
        switches per doc were ~15% of framelogprob (r7)."""
        cache = getattr(self, "_logB0_cache", None)
        if cache is None or cache[0] != self._params_version:
            with np.errstate(divide="ignore"):
                logB0 = np.log(self.emission_probs[:, :, 0])  # (S, K)
            cache = (self._params_version, logB0, logB0.sum(axis=0))
            self._logB0_cache = cache
        return cache[1], cache[2]

    def _log_start_trans(self):
        """Cached (log startprob, log transmat) for Viterbi decode —
        the decode pass is stateless, so these are per-task constants
        that were being re-logged per document (6k np.log calls/doc)."""
        cache = getattr(self, "_lst_cache", None)
        if cache is None or cache[0] != self._params_version:
            with np.errstate(divide="ignore"):
                cache = (self._params_version,
                         np.log(self.startprob_), np.log(self.transmat_))
            self._lst_cache = cache
        return cache[1], cache[2]

    def framelogprob(self, X: "Observations | np.ndarray") -> np.ndarray:
        """log Σ_sources X·emissionᵀ with masked -inf and the
        zero-observation constraint (labelling.py:434-448).

        Every (token, source) pair no span covers holds the default O
        observation, whose contribution is the constant column
        log B[s][:, 0]; only the covered pairs pay a matvec, grouped per
        source, and a correction added in ascending source order."""
        X = as_observations(X)
        logB0, logB0_sum = self._emission_log_cache()
        frame = np.tile(logB0_sum, (X.n_tokens, 1))
        if len(X.pair_s):
            rows = np.zeros((len(X.pair_s), N_STATES))
            rows[X.cell_pair, X.cell_state] = X.cell_conf
            probs = np.empty_like(rows)
            # the same (n, K) @ (K, K) product per source as the dense
            # tensor's rows, so the frame is bit-identical to it
            bounds = np.searchsorted(X.pair_s, np.arange(N_SOURCES + 1)).tolist()
            for s, (a, b) in enumerate(zip(bounds, bounds[1:])):
                if a < b:
                    np.matmul(rows[a:b], self.emission_probs[s].T, out=probs[a:b])
            # no errstate needed: the argument is clamped >= 1e-300, so
            # np.log cannot warn
            lp = np.where(probs > 0, np.log(np.maximum(probs, 1e-300)), _NINF)
            # pairs ascend by (s, t): each frame cell adds its sources'
            # corrections in ascending source order (flat: add.at's fast path)
            cells = X.pair_t[:, None] * N_STATES + np.arange(N_STATES)
            np.add.at(frame.reshape(-1), cells.reshape(-1),
                      (lp - logB0[X.pair_s]).reshape(-1))
        # a state is observable at t when some source emits it there:
        # O by an uncovered pair, any other state by a nonzero cell
        # (confs are non-negative)
        observed = np.zeros((X.n_tokens, N_STATES), dtype=bool)
        observed[:, 0] = np.bincount(X.pair_t, minlength=X.n_tokens) < N_SOURCES
        nonzero = X.cell_conf != 0
        observed[X.pair_t[X.cell_pair[nonzero]], X.cell_state[nonzero]] = True
        return np.where(observed, frame, _NINF)

    def e_step(self, X: "Observations | np.ndarray", obs: np.ndarray | None = None):
        """One document's sufficient statistics ``(logprob, start,
        trans, obs)``; the emission counts are added into ``obs``, a
        (sources, states, states) accumulator (a new one if None).

        Scaled (linear-space) forward-backward: per step it is pure
        matmuls, and the xi transition-count sum factorizes into ONE
        (K,T)x(T,K) matmul — 10-20x faster than per-step log-space
        logsumexp loops. Falls back to the log-space path on numeric
        degeneracy (a step whose scale underflows)."""
        X = self._observations(X)
        frame = self.framelogprob(X)
        out = self._scaled_forward_backward(frame)
        if out is None:
            out = self._logspace_forward_backward(frame)
        logprob, posteriors, trans = out
        if obs is None:
            obs = np.zeros((N_SOURCES, N_STATES, N_STATES))
        # obs[s, k, j] += X[t, s, j] * posteriors[t, k]  (labelling.py:473-480):
        # the O column from the uncovered pairs, the rest from the cells
        uncovered = np.ones((X.n_tokens, N_SOURCES))
        uncovered[X.pair_t, X.pair_s] = 0.0
        obs[:, :, 0] += uncovered.T @ posteriors
        keys, group = np.unique(X.pair_s[X.cell_pair] * N_STATES + X.cell_state,
                                return_inverse=True)
        weights = np.zeros((len(keys), X.n_tokens))
        weights[group, X.pair_t[X.cell_pair]] = X.cell_conf
        sources, states = np.divmod(keys, N_STATES)
        obs[sources, :, states] += weights @ posteriors
        return logprob, posteriors[0], trans, obs

    def _scaled_forward_backward(self, frame: np.ndarray):
        T_len = len(frame)
        m = frame.max(axis=1)
        if not np.all(np.isfinite(m)):
            return None
        B = np.exp(frame - m[:, None])  # (T, K), rows in (0, 1]
        A = self.transmat_
        alpha = np.empty((T_len, N_STATES))
        scale = np.empty(T_len)
        a = self.startprob_ * B[0]
        scale[0] = a.sum()
        if scale[0] <= 0:
            return None
        alpha[0] = a / scale[0]
        for t in range(1, T_len):
            a = (alpha[t - 1] @ A) * B[t]
            scale[t] = a.sum()
            if scale[t] <= 0:
                return None
            alpha[t] = a / scale[t]
        beta = np.empty((T_len, N_STATES))
        beta[-1] = 1.0
        # W[t] = B[t] * beta[t] / scale[t] for t >= 1 (the backward message)
        for t in range(T_len - 2, -1, -1):
            beta[t] = A @ (B[t + 1] * beta[t + 1]) / scale[t + 1]
        gamma = alpha * beta
        gamma /= np.maximum(gamma.sum(axis=1, keepdims=True), 1e-300)
        if T_len > 1:
            W = (B[1:] * beta[1:]) / scale[1:, None]
            trans = A * (alpha[:-1].T @ W)
        else:
            trans = np.zeros((N_STATES, N_STATES))
        logprob = float(np.log(scale).sum() + m.sum())
        return logprob, gamma, trans

    def _logspace_forward_backward(self, frame: np.ndarray):
        log_start, log_trans = self._log_start_trans()
        logprob, fwd = forward_pass(log_start, log_trans, frame)
        bwd = backward_pass(log_trans, frame)
        log_gamma = fwd + bwd
        log_gamma -= _logsumexp(log_gamma, axis=1)[:, None]
        posteriors = np.exp(log_gamma)
        if len(frame) > 1:
            with np.errstate(invalid="ignore"):
                xi = np.exp(
                    fwd[:-1, :, None]
                    + log_trans[None, :, :]
                    + (frame[1:] + bwd[1:])[:, None, :]
                    - logprob
                )
            xi = np.nan_to_num(xi, nan=0.0, posinf=0.0)
            trans = xi.sum(axis=0)
        else:
            trans = np.zeros((N_STATES, N_STATES))
        return logprob, posteriors, trans

    def m_step(self, start, trans, obs) -> None:
        """Dirichlet-MAP re-estimation masked to initial support
        (labelling.py:462-468 + hmmlearn _do_mstep semantics)."""
        sp = np.maximum(self.startprob_prior - 1 + start, 0)
        self.startprob_ = np.where(self.startprob_ == 0, 0, sp)
        self.startprob_ /= self.startprob_.sum()
        tm = np.maximum(self.transmat_prior - 1 + trans, 0)
        tm = np.where(self.transmat_ == 0, 0, tm)
        self.transmat_ = tm / np.maximum(tm.sum(axis=1, keepdims=True), 1e-100)
        counts = self.emission_priors + obs
        probs = counts / (counts + 1e-100).sum(axis=2, keepdims=True)
        self.emission_probs = np.where(self.emission_probs > 0, probs, 0)
        self._params_changed()

    def label(self, X: "Observations | np.ndarray"):
        """Viterbi decode one doc -> (state path, per-token confidence)
        (labelling.py:291-311)."""
        frame = self.framelogprob(self._observations(X))
        log_start, log_trans = self._log_start_trans()
        _, path = viterbi_pass(log_start, log_trans, frame)
        # only the chosen path's cells need exponentiating: exp applied
        # to the same (frame - logsumexp) values the full (T, K) proba
        # matrix held, so the confidences are bit-identical
        lse = _logsumexp(frame, axis=1)
        confidences = np.exp(frame[np.arange(len(frame)), path] - lse)
        return path, confidences

    # -- persistence ------------------------------------------------------

    def save(self, path: str, iteration: int | None = None, logprob: float | None = None):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        np.savez_compressed(
            path,
            startprob_prior=self.startprob_prior, startprob=self.startprob_,
            transmat_prior=self.transmat_prior, transmat=self.transmat_,
            emission_priors=self.emission_priors, emission_probs=self.emission_probs,
        )
        meta = {"iteration": iteration, "logprob": logprob, "history": self.history,
                "n_states": N_STATES, "n_sources": N_SOURCES}
        with open(path + ".meta.json", "w") as fd:
            json.dump(meta, fd)

    def load(self, path: str) -> "HMMAggregator":
        data = np.load(path if path.endswith(".npz") else path + ".npz")
        got = data["emission_probs"].shape
        want = (N_SOURCES, N_STATES, N_STATES)
        if tuple(got) != want:
            # the source/label registry changed since this checkpoint
            # was written (e.g. a new plug-in source): resuming would
            # index the emission tensor out of bounds MID-FIT — fail
            # here with the reason instead
            raise ValueError(
                f"checkpoint {path!r} has emission shape {tuple(got)} but the "
                f"current registry needs {want} (schema.SOURCE_NAMES/LABELS "
                "changed since it was written); delete stale checkpoints to "
                "retrain under the new registry"
            )
        self.startprob_prior = data["startprob_prior"]
        self.startprob_ = data["startprob"]
        self.transmat_prior = data["transmat_prior"]
        self.transmat_ = data["transmat"]
        self.emission_priors = data["emission_priors"]
        self.emission_probs = data["emission_probs"]
        self._params_changed()
        meta_path = (path[:-4] if path.endswith(".npz") else path) + ".meta.json"
        if os.path.exists(meta_path):
            with open(meta_path) as fd:
                self.history = json.load(fd).get("history", [])
        return self

    # -- Spark driver loop -------------------------------------------------

    def fit_spark(
        self,
        spark: SparkSession,
        annotated: DataFrame,
        checkpoint_dir: str | None = None,
        resume: bool = False,
    ) -> "HMMAggregator":
        """Baum-Welch over an annotated DataFrame.

        Per iteration: ONE narrow mapInPandas pass emitting one
        partial-stats row per partition (map-side combine), summed on
        the driver by :func:`operators.partials.sum_partials` (which
        adds a tree-combine level on large clusters). Then numpy M-step,
        checkpoint, re-broadcast.

        Convergence follows :meth:`_converged`; ``n_iter`` caps the
        loop either way.
        """
        # the fit passes need only the token COUNT and the spans:
        # projecting the token strings out here keeps them off the Arrow
        # boundary for the prior pass and every EM iteration (guide
        # §4.1: pass only the columns the function needs)
        annotated = annotated.select(F.size("tokens").alias("n_tokens"), "spans")

        start_iter = 0
        if resume and checkpoint_dir:
            latest = _latest_checkpoint(checkpoint_dir)
            if latest is not None:
                try:
                    self.load(latest[1])
                    start_iter = latest[0] + 1
                    if len(self.history) >= 2 and self._converged(
                        self.history[-2], self.history[-1], latest[0]
                    ):
                        # the checkpointed fit had already stopped
                        start_iter = self.n_iter
                except ValueError as exc:
                    # registry-shape mismatch (load() validates): a
                    # checkpoint from an older SOURCE_NAMES/LABELS
                    # registry cannot be resumed — retrain from scratch
                    # instead of failing the job. The stale files are
                    # renamed to .stale FIRST: left in place, a retrain
                    # dying before it exceeds the stale run's iteration
                    # count would make every later resume re-pick the
                    # incompatible max-iteration file forever
                    logging.getLogger(__name__).warning(
                        "ignoring incompatible checkpoint and retraining: %s", exc
                    )
                    _quarantine_checkpoints(checkpoint_dir)

        if self.startprob_ is None:
            counts = _collect_prior_counts(
                annotated, self._best_coverage_source_index(), self._excluded
            )
            self.initialise(*counts)
            if checkpoint_dir:
                self.save(os.path.join(checkpoint_dir, "iter_init"), -1, None)

        sc = spark.sparkContext
        excluded = self._excluded
        prev_logprob = self.history[-1] if self.history else None
        for iteration in range(start_iter, self.n_iter):
            params_bc = sc.broadcast((self.startprob_, self.transmat_, self.emission_probs))

            def e_step_partition(batches: Iterator[pd.DataFrame]) -> dict:
                model = HMMAggregator._rebuilt(*params_bc.value, excluded)
                logprob = 0.0
                start = np.zeros(N_STATES)
                trans = np.zeros((N_STATES, N_STATES))
                obs = np.zeros((N_SOURCES, N_STATES, N_STATES))
                for X in _doc_observations(batches):
                    lp, st, tr, _ = model.e_step(X, obs)
                    logprob += lp
                    start += st
                    trans += tr
                return {"logprob": logprob, "start": start, "trans": trans, "obs": obs}

            sums = sum_partials(annotated, e_step_partition, {
                "logprob": (),
                "start": (N_STATES,),
                "trans": (N_STATES, N_STATES),
                "obs": (N_SOURCES, N_STATES, N_STATES),
            })
            params_bc.destroy()

            curr_logprob = sums["logprob"]
            self.m_step(sums["start"], sums["trans"], sums["obs"])
            self.history.append(curr_logprob)
            if checkpoint_dir:
                self.save(os.path.join(checkpoint_dir, f"iter_{iteration:03d}"),
                          iteration, curr_logprob)
            if self._converged(prev_logprob, curr_logprob, iteration):
                break
            prev_logprob = curr_logprob
        return self

    def _converged(self, prev_logprob: float | None, curr_logprob: float,
                   iteration: int) -> bool:
        """The EM stopping rule of :meth:`fit_spark` and of the oracle's
        single-node fit. It follows the reference (hmmlearn
        ConvergenceMonitor, labelling.py:238): stop when the SIGNED
        logprob delta drops below ``tol``, an absolute criterion — a
        decrease also stops, with a logged warning mirroring hmmlearn's
        monitor."""
        if prev_logprob is None or curr_logprob - prev_logprob >= self.tol:
            return False
        if curr_logprob < prev_logprob:
            # EM should be monotone, so a decrease usually means float
            # reordering (tree-combine at high partition counts) or a
            # degenerate init — stopping is still correct, but say so
            # instead of stopping silently
            logging.getLogger(__name__).warning(
                "HMM logprob decreased (%.6f -> %.6f) at iteration %d;"
                " stopping (model is not strictly converging)",
                prev_logprob, curr_logprob, iteration,
            )
        return True

    @classmethod
    def _rebuilt(cls, startprob, transmat, emission_probs, excluded) -> "HMMAggregator":
        """A bare model holding only what ``label``/``e_step`` read,
        rebuilt on an executor from broadcast parameters."""
        model = cls.__new__(cls)
        model.startprob_, model.transmat_, model.emission_probs = startprob, transmat, emission_probs
        model._excluded = excluded
        return model

    def labeller(self, spark: SparkSession):
        """This model's Viterbi as a labeller for the per-document kernel
        (operators.triples.doc_mentions): ``label(spans, n_tokens)``.
        The parameters travel as one broadcast; the model is rebuilt
        once per task, on first use."""
        params_bc = spark.sparkContext.broadcast(
            (self.startprob_, self.transmat_, self.emission_probs)
        )
        excluded, cls = self._excluded, type(self)
        model = None

        def label(spans, n_tokens: int):
            nonlocal model
            if model is None:
                model = cls._rebuilt(*params_bc.value, excluded)
            return model.label(observations_from_spans(list(spans), n_tokens))

        return label

    def decode_spark(self, spark: SparkSession, annotated: DataFrame) -> DataFrame:
        """Stateless Viterbi decode: annotated -> HMM mention rows."""
        label = self.labeller(spark)
        return _mentions_stage(
            annotated, lambda tokens, spans: doc_mentions(tokens, spans, label),
            self.source_name,
        )


def _doc_observations(batches: Iterator[pd.DataFrame]) -> Iterator[Observations]:
    """The sparse observations of every document with tokens, from
    (n_tokens, spans) batches."""
    for pdf in batches:
        for n_toks, spans in zip(pdf["n_tokens"], pdf["spans"]):
            if n_toks:
                yield observations_from_spans(list(spans), int(n_toks))


# ---------------------------------------------------------------------------
# Prior-count aggregation pass (fused replacement for the reference's
# three tee'd streams, labelling.py:248-252)
# ---------------------------------------------------------------------------

def add_prior_counts(X: Observations, best_source_index: int,
                     init: np.ndarray, trans: np.ndarray, obs: np.ndarray) -> None:
    """Add one document's prior counts: the initial state and the
    transitions of the best-coverage source's argmax path, and the
    document's float32 (sources, states) observation sum, summed in
    token order as ``X.sum(axis=0)`` of the dense tensor sums it."""
    src = X.pair_s[X.cell_pair]
    # the dense argmax over X[t, best, :]: the first maximal cell, or O
    # when no cell is positive (an uncovered pair holds O = 1.0, a
    # covered one O = 0.0)
    mine = (src == best_source_index) & (X.cell_conf > 0)
    tok, state, conf = X.pair_t[X.cell_pair[mine]], X.cell_state[mine], X.cell_conf[mine]
    order = np.lexsort((state, -conf, tok))
    tok, state = tok[order], state[order]
    first = np.ones(len(tok), dtype=bool)
    first[1:] = tok[1:] != tok[:-1]
    best = np.zeros(X.n_tokens, dtype=np.intp)
    best[tok[first]] = state[first]
    init[best[0]] += 1
    np.add.at(trans, (best[:-1], best[1:]), 1.0)
    counts = np.zeros((N_SOURCES, N_STATES), dtype=np.float32)
    counts[:, 0] = X.n_tokens - np.bincount(X.pair_s, minlength=N_SOURCES)
    # cells ascend by (source, token): each (source, state) sum adds in
    # token order
    np.add.at(counts, (src, X.cell_state), X.cell_conf)
    obs += counts


def _collect_prior_counts(
    annotated: DataFrame, best_source_index: int, excluded: np.ndarray | None = None,
):
    """(init, trans, obs) counts of the best-coverage source's argmax
    path, one partial row per partition summed by ``sum_partials``.
    One-time pass, not per-iteration."""
    def count_partition(batches: Iterator[pd.DataFrame]) -> dict:
        init = np.zeros(N_STATES)
        trans = np.zeros((N_STATES, N_STATES))
        obs = np.zeros((N_SOURCES, N_STATES))
        for X in _doc_observations(batches):
            add_prior_counts(X.without_sources(excluded), best_source_index,
                             init, trans, obs)
        return {"init": init, "trans": trans, "obs": obs}

    sums = sum_partials(annotated, count_partition, {
        "init": (N_STATES,),
        "trans": (N_STATES, N_STATES),
        "obs": (N_SOURCES, N_STATES),
    })
    return sums["init"], sums["trans"], sums["obs"]


def _quarantine_checkpoints(checkpoint_dir: str) -> None:
    """Rename every iter_*.npz (incl. iter_init) to *.stale so
    _latest_checkpoint can never re-select a registry-incompatible
    run's files; renamed, not deleted, to keep them inspectable."""
    if not os.path.isdir(checkpoint_dir):
        return
    for name in os.listdir(checkpoint_dir):
        if name.startswith("iter_") and (
            name.endswith(".npz") or name.endswith(".meta.json")
        ):
            os.replace(
                os.path.join(checkpoint_dir, name),
                os.path.join(checkpoint_dir, name + ".stale"),
            )


def _latest_checkpoint(checkpoint_dir: str):
    """(iteration, path) of the newest checkpoint, or None. ``iter_init``
    (the initialised model, saved after the prior pass) counts as
    iteration -1, so a fit resumed from it skips the prior pass."""
    if not os.path.isdir(checkpoint_dir):
        return None
    best = None
    for name in os.listdir(checkpoint_dir):
        if name.startswith("iter_") and name.endswith(".npz"):
            stem = name[5:-4]
            it = -1 if stem == "init" else int(stem)
            if best is None or it > best[0]:
                best = (it, os.path.join(checkpoint_dir, name))
    return best
