"""Snorkel-style generative label model (reference labelling.py:534-590).

The reference's ``SnorkelModel`` extracts candidate spans from a few
trustworthy detectors, builds a (spans x sources) vote matrix (label
index or -1 = abstain) and fits ``snorkel.labeling.LabelModel``. Here
the generative fit is a Dawid-Skene EM in plain numpy — latent span
class (non-entity + 19 labels), per-source categorical confusion over
(abstain + 19 votes) — which is the classical model Snorkel's
matrix-completion estimator approximates; same candidate-span frame,
same vote encoding, same decode rule (posterior argmax; class 0 stays
silent).

Spark-first layout mirrors ``HMMAggregator.fit_spark``: vote extraction
is a row-local Arrow stage, each EM iteration is ONE narrow mapInPandas
pass emitting tiny per-partition sufficient statistics (priors C=20
plus 48x20x20 vote counts ~ 150 KB) summed by the HMM's reducer,
``operators.partials.sum_partials``, and the M-step runs on the driver.
The decode runs in the mentions stage the majority vote and the HMM
share (``operators.triples._mentions_stage``). The single-node oracle
calls the same per-doc/EM code, so Spark output equals the oracle
exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from weak_supervision_for_ner_spark.operators.aggregate import (
    layers_from_spans,
    specialise_layers,
)
from weak_supervision_for_ner_spark.operators.partials import sum_partials
from weak_supervision_for_ner_spark.operators.triples import _mentions_stage
from weak_supervision_for_ner_spark.schema import (
    GENERIC_LABELS,
    LABELS,
    SOURCE_NAMES,
)

N_CLASSES = len(LABELS) + 1          # class 0 = non-entity
N_OUTCOMES = len(LABELS) + 1         # outcome 0 = abstain, 1..K = label votes
CANDIDATE_SOURCES = ("proper2_detector", "nnp_detector", "compound_detector")
_LABEL_TO_VOTE = {label: i + 1 for i, label in enumerate(LABELS)}


def span_votes(
    spans: list, candidate_sources: tuple[str, ...] = CANDIDATE_SOURCES,
    sources_to_keep: frozenset[str] | None = None,
) -> tuple[list[tuple[int, int]], np.ndarray]:
    """Per-doc candidate spans + vote matrix (reference _get_inputs,
    labelling.py:560-576): candidates are the union of the trusted
    detectors' spans with longest-wins overlap resolution; each source
    votes its highest-confidence label on exact-span matches, 0 means
    abstain."""
    layers = specialise_layers(layers_from_spans(spans))
    cands: set[tuple[int, int]] = set()
    for source in candidate_sources:
        cands.update(layers.get(source, ()))
    changed = True
    while changed:
        changed = False
        ordered = sorted(cands)
        for (s1, e1), (s2, e2) in zip(ordered, ordered[1:]):
            if s2 < e1:
                cands.remove((s2, e2) if (e1 - s1) > (e2 - s2) else (s1, e1))
                changed = True
                break
    ordered = sorted(cands)
    index = {span: i for i, span in enumerate(ordered)}
    obs = np.zeros((len(ordered), len(SOURCE_NAMES)), dtype=np.int16)
    for si, source in enumerate(SOURCE_NAMES):
        if sources_to_keep is not None and source not in sources_to_keep:
            continue
        layer = layers.get(source)
        if not layer:
            continue
        for span, vals in layer.items():
            i = index.get(span)
            if i is None or not vals:
                continue
            label = sorted(vals, key=lambda x: x[1])[-1][0]
            vote = _LABEL_TO_VOTE.get(label)
            if vote is not None:
                obs[i, si] = vote
    return ordered, obs


class LabelModelAggregator:
    """Dawid-Skene EM over span votes; decode = posterior argmax."""

    def __init__(self, source_name: str = "snorkel", n_iter: int = 10,
                 smoothing: float = 0.1,
                 candidate_sources: tuple[str, ...] = CANDIDATE_SOURCES,
                 sources_to_keep: list[str] | None = None):
        self.sources_to_keep = None if sources_to_keep is None else frozenset(sources_to_keep)
        self.source_name = source_name
        self.n_iter = n_iter
        self.smoothing = smoothing
        self.candidate_sources = tuple(candidate_sources)
        self.log_prior: np.ndarray | None = None     # (C,)
        self.log_conf: np.ndarray | None = None      # (J, C, V)
        self.history: list[float] = []

    # -- shared numpy core ------------------------------------------------

    @staticmethod
    def _init_params() -> tuple[np.ndarray, np.ndarray]:
        """Diagonal-boosted start: sources are presumed ~70% accurate on
        their voted label when the span is that entity. Abstains carry
        no evidence (Snorkel semantics: an LF voting -1 contributes
        nothing to the likelihood), encoded as conf[:, :, 0] = 1 so the
        log-term for outcome 0 is exactly 0."""
        prior = np.full(N_CLASSES, 1.0 / N_CLASSES)
        conf = np.full((len(SOURCE_NAMES), N_CLASSES, N_OUTCOMES), 0.3 / (N_OUTCOMES - 2))
        for c in range(1, N_CLASSES):
            conf[:, c, c] = 0.7
        conf[:, 0, 1:] = 1.0 / (N_OUTCOMES - 1)
        conf[:, :, 1:] /= conf[:, :, 1:].sum(axis=2, keepdims=True)
        conf[:, :, 0] = 1.0
        return np.log(prior), np.log(conf)

    def _posteriors(self, obs: np.ndarray) -> tuple[np.ndarray, float]:
        """gamma (n, C) and the data log-likelihood for one vote block."""
        # log p(c | obs_i) ∝ log prior_c + sum_j log conf[j, c, obs_ij]
        logp = self.log_prior[None, :] + np.take_along_axis(
            self.log_conf.transpose(1, 0, 2)[None, :, :, :],   # (1, C, J, V)
            obs[:, None, :, None].astype(np.int64),            # (n, 1, J, 1)
            axis=3,
        ).squeeze(3).sum(axis=2)
        mx = logp.max(axis=1, keepdims=True)
        p = np.exp(logp - mx)
        z = p.sum(axis=1, keepdims=True)
        loglik = float((np.log(z) + mx).sum())
        return p / z, loglik

    def _accumulate(self, obs: np.ndarray, prior_c: np.ndarray, vote_c: np.ndarray) -> float:
        gamma, loglik = self._posteriors(obs)
        prior_c += gamma.sum(axis=0)
        for v in range(1, N_OUTCOMES):                         # abstains excluded
            mask = obs == v                                    # (n, J)
            vote_c[:, :, v] += gamma.T @ mask                  # (C, J)
        return loglik

    def _m_step(self, prior_c: np.ndarray, vote_c: np.ndarray) -> None:
        a = self.smoothing
        prior = (prior_c + a) / (prior_c + a).sum()
        conf = vote_c.transpose(1, 0, 2) + a                   # (J, C, V)
        conf[:, :, 1:] /= conf[:, :, 1:].sum(axis=2, keepdims=True)
        conf[:, :, 0] = 1.0                                    # abstain: no evidence
        self.log_prior, self.log_conf = np.log(prior), np.log(conf)

    # -- single-node oracle fit -------------------------------------------

    def fit(self, docs_spans: list[list]) -> "LabelModelAggregator":
        blocks = [
            span_votes(s, self.candidate_sources, self.sources_to_keep)[1]
            for s in docs_spans
        ]
        blocks = [b for b in blocks if len(b)]
        obs = (
            np.vstack(blocks) if blocks
            else np.zeros((0, len(SOURCE_NAMES)), np.int16)
        )
        self.log_prior, self.log_conf = self._init_params()
        for _ in range(self.n_iter):
            prior_c = np.zeros(N_CLASSES)
            vote_c = np.zeros((N_CLASSES, len(SOURCE_NAMES), N_OUTCOMES))
            loglik = self._accumulate(obs, prior_c, vote_c)
            self._m_step(prior_c, vote_c)
            self.history.append(loglik)
        return self

    # -- Spark driver loop --------------------------------------------------

    def fit_spark(self, spark: SparkSession, annotated: DataFrame) -> "LabelModelAggregator":
        annotated = annotated.select("spans")
        self.log_prior, self.log_conf = self._init_params()
        sc = spark.sparkContext
        cand, keep = self.candidate_sources, self.sources_to_keep
        for _ in range(self.n_iter):
            params_bc = sc.broadcast((self.log_prior, self.log_conf))

            def e_step(batches: Iterator[pd.DataFrame]) -> dict:
                model = LabelModelAggregator.__new__(LabelModelAggregator)
                model.log_prior, model.log_conf = params_bc.value
                prior_c = np.zeros(N_CLASSES)
                vote_c = np.zeros((N_CLASSES, len(SOURCE_NAMES), N_OUTCOMES))
                loglik = 0.0
                for pdf in batches:
                    for spans in pdf["spans"]:
                        _, obs = span_votes(list(spans), cand, keep)
                        if len(obs):
                            loglik += model._accumulate(obs, prior_c, vote_c)
                return {"loglik": loglik, "prior_c": prior_c, "vote_c": vote_c}

            sums = sum_partials(annotated, e_step, {
                "loglik": (),
                "prior_c": (N_CLASSES,),
                "vote_c": (N_CLASSES, len(SOURCE_NAMES), N_OUTCOMES),
            })
            params_bc.destroy()
            self._m_step(sums["prior_c"], sums["vote_c"])
            self.history.append(sums["loglik"])
        return self

    # -- decode ------------------------------------------------------------

    def decode_doc(self, tokens: list, spans: list) -> list[tuple[int, int, str, float]]:
        """One document's (start, end, label, conf) mentions: the
        posterior argmax of every candidate span, class 0 silent. Takes
        ``tokens`` only to share the mentions-stage kernel signature."""
        ordered, obs = span_votes(
            list(spans), self.candidate_sources, self.sources_to_keep
        )
        rows = []
        if not ordered:
            return rows
        gamma, _ = self._posteriors(obs)
        for (start, end), g in zip(ordered, gamma):
            c = int(g.argmax())
            if c > 0:
                rows.append((start, end, LABELS[c - 1], float(g[c])))
        return rows

    def decode_spark(self, spark: SparkSession, annotated: DataFrame) -> DataFrame:
        """Stateless posterior decode: annotated -> label-model mention
        rows. The parameters travel as one broadcast; the model is
        rebuilt once per task, on first use."""
        params_bc = spark.sparkContext.broadcast((self.log_prior, self.log_conf))
        cand, keep = self.candidate_sources, self.sources_to_keep
        model = None

        def decode(tokens, spans):
            nonlocal model
            if model is None:
                model = LabelModelAggregator(candidate_sources=cand, sources_to_keep=keep)
                model.log_prior, model.log_conf = params_bc.value
            return model.decode_doc(tokens, spans)

        return _mentions_stage(annotated, decode, self.source_name)
