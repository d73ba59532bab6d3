"""Label aggregation: observation encoding, specialisation, majority
voting, BILUO decoding.

Numpy re-implementations of the reference's UnifiedAnnotator core
(labelling.py:116-213, 503-531), shared between the Spark operators
and the single-node oracle. All per-token work is vectorized numpy
inside Arrow batches.

The observations of a document are encoded once, sparsely:
:func:`observation_cells` writes the non-O cells of the reference's
(tokens, sources, states) tensor, and :class:`Observations` holds the
span-covered (token, source) pairs with those cells. The majority vote
and the HMM (``operators.hmm``) both read this encoding. The dense
tensor (:func:`extract_sequence`) remains only as the reference the
oracle's majority vote and the tests compare against.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame

from weak_supervision_for_ner_spark.schema import (
    GENERIC_LABELS,
    LABELS,
    LABEL_INDICES,
    POSITIONED_LABELS,
    SOURCE_INDICES,
    SOURCE_NAMES,
    SOURCE_PRIORS,
)

Span = tuple[int, int]
Vals = tuple[tuple[str, float], ...]
Layers = dict[str, dict[Span, Vals]]

N_STATES = len(POSITIONED_LABELS)
N_SOURCES = len(SOURCE_NAMES)

# Sources excluded as specialisation evidence (labelling.py:183-188):
# the generic proper/nnp/compound detectors cannot specialise others.
_SPECIALISE_EVIDENCE = [
    s for s in SOURCE_NAMES
    if "proper" not in s and "nnp_" not in s and "compound" not in s
]


def layers_from_spans(spans: list) -> Layers:
    """Rebuild the per-source layer dict from the flattened span rows
    produced by ``operators.annotate`` (tuples, lists or dicts)."""
    layers: Layers = {}
    for row in spans:
        if isinstance(row, dict):
            source, start, end, label, conf = (
                row["source"], row["start"], row["end"], row["label"], row["conf"],
            )
        else:
            source, start, end, label, conf = row
        layer = layers.setdefault(source, {})
        key = (int(start), int(end))
        layer[key] = (*layer.get(key, ()), (label, float(conf)))
    return layers


def specialise_layers(layers: Layers) -> Layers:
    """Replace generic ENT/MISC span labels with a precision-weighted
    distribution from overlapping spans of other sources
    (labelling.py:175-213 semantics; 0.3 partial-overlap discount)."""
    from weak_supervision_for_ner_spark.operators.labelling import get_overlaps

    # sort each evidence layer ONCE per doc and pass it through
    # get_overlaps(sorted_items=...): the naive call re-sorted the same
    # layer for EVERY (generic span x evidence source) probe, which
    # made specialisation the single most expensive aggregate step
    # (~0.7 ms/doc, 3x the vote itself); iteration order — and thus
    # float accumulation order — is identical, so output is byte-equal
    sorted_items = {
        s: sorted(layers[s].items()) for s in _SPECIALISE_EVIDENCE if s in layers
    }
    evidence = [s for s in _SPECIALISE_EVIDENCE if s in layers]

    # The evidence sweep depends only on the span COORDS, not on which
    # source/conf is being specialised (the own-source exclusion is a
    # filter, conf multiplies each term) — and the same generic coords
    # recur across ~5 sources per doc. Memoize the ordered
    # (source, label, weight) pair list per coords: the accumulation
    # below replays it in the ORIGINAL iteration order with the same
    # per-term arithmetic, so results are byte-identical while the
    # 13-sources-per-val get_overlaps probing collapses ~5x.
    pair_memo: dict[tuple[int, int], list[tuple[str, str, float]]] = {}

    def evidence_pairs(start: int, end: int) -> list[tuple[str, str, float]]:
        got = pair_memo.get((start, end))
        if got is None:
            got = []
            for other in evidence:
                for s2, e2, vals2 in get_overlaps(
                    start, end, layers, [other], sorted_items=sorted_items
                ):
                    for label2, conf2 in vals2:
                        if label2 in GENERIC_LABELS:
                            continue
                        w = conf2 if (s2 == start and e2 == end) else 0.3 * conf2
                        w *= SOURCE_PRIORS[other].get(label2, (0.5, 0.5))[0]
                        got.append((other, label2, w))
            pair_memo[(start, end)] = got
        return got

    to_add: list[tuple[str, int, int, Vals]] = []
    for source, layer in layers.items():
        if source not in SOURCE_INDICES:
            continue
        for (start, end), vals in layer.items():
            for label, conf in vals:
                if label in GENERIC_LABELS:
                    counts: dict[str, float] = {}
                    for other, label2, w in evidence_pairs(start, end):
                        if other == source:
                            continue
                        counts[label2] = counts.get(label2, 0.0) + conf * w
                    total = sum(counts.values())
                    new_vals = tuple(
                        (l, SOURCE_PRIORS[source].get(l, (0.5, 0.5))[0] * c / total)
                        for l, c in counts.items()
                    )
                    to_add.append((source, start, end, new_vals))
    for source, start, end, vals in to_add:
        layers[source][(start, end)] = vals
    return layers


def extract_sequence(layers: Layers, n_tokens: int) -> np.ndarray:
    """Dense observation tensor (T, n_sources, n_states) float32
    (labelling.py:144-172): the reference form of :class:`Observations`.
    Call :func:`specialise_layers` first."""
    X = np.zeros((n_tokens, N_SOURCES, N_STATES), dtype=np.float32)
    X[:, :, 0] = 1.0
    for source, layer in layers.items():
        si = SOURCE_INDICES.get(source)
        if si is None:
            continue
        for (start, end), vals in layer.items():
            for label, conf in vals:
                if label in GENERIC_LABELS or start >= n_tokens:
                    continue
                end = min(end, n_tokens)
                X[start:end, si, 0] = 0.0
                if end - start == 1:
                    X[start, si, LABEL_INDICES[f"U-{label}"]] = conf
                else:
                    X[start, si, LABEL_INDICES[f"B-{label}"]] = conf
                    X[start + 1 : end - 1, si, LABEL_INDICES[f"I-{label}"]] = conf
                    X[end - 1, si, LABEL_INDICES[f"L-{label}"]] = conf
    return X


def sequence_from_spans(spans: list, n_tokens: int) -> np.ndarray:
    return extract_sequence(specialise_layers(layers_from_spans(spans)), n_tokens)


# per-label (B, I, L, U) state-index table, precomputed over the closed
# schema label set: the cell writer previously rebuilt f-string keys
# per token per span — pure overhead on the hot path. A non-schema label
# raising KeyError here is correct: it could never enter the 77-state
# tensor either.
_BILUO_STATES: dict[str, tuple[int, int, int, int]] = {
    lab: tuple(LABEL_INDICES[f"{p}-{lab}"] for p in "BILU") for lab in LABELS
}


def observation_cells(layers: Layers, n_tokens: int) -> dict[int, float]:
    """The non-O cells of :func:`extract_sequence`'s tensor, keyed
    ``(t * N_SOURCES + s) * N_STATES + state``. Call on specialised
    layers.

    Replicates the tensor's write semantics: when several spans of one
    source write the same (token, state) cell the LAST write wins (dict
    iteration order — the dense assignment overwrites). Every (t, s)
    pair a non-generic span covers, whose O cell the tensor zeroes, has
    at least one cell here, zero-conf cells included. Spans with
    ``end <= start`` cover nothing."""
    cells: dict[int, float] = {}
    biluo = _BILUO_STATES
    for source, layer in layers.items():
        si = SOURCE_INDICES.get(source)
        if si is None:
            continue
        for (start, end), vals in layer.items():
            if start >= n_tokens:
                continue
            end = min(end, n_tokens)
            for label, conf in vals:
                if label in GENERIC_LABELS:
                    continue
                b_st, i_st, l_st, u_st = biluo[label]
                base = start * N_SOURCES + si
                if end - start == 1:
                    cells[base * N_STATES + u_st] = conf
                    continue
                for t in range(start, end):
                    state = b_st if t == start else (l_st if t == end - 1 else i_st)
                    cells[(t * N_SOURCES + si) * N_STATES + state] = conf
    return cells


class Observations(NamedTuple):
    """One document's observations in sparse form: the span-covered
    (t, s) pairs, whose O cell the dense tensor zeroes, ascending by
    (s, t), and their non-O cells, ascending by (pair, state). Confs are
    rounded through float32, exactly as the tensor stores them. Every
    other (t, s) pair holds the default O observation."""

    n_tokens: int
    pair_s: np.ndarray      # (P,) source index
    pair_t: np.ndarray      # (P,) token index
    cell_pair: np.ndarray   # (C,) index into the pairs
    cell_state: np.ndarray  # (C,) state index, never O
    cell_conf: np.ndarray   # (C,) float32

    @classmethod
    def from_cells(cls, cells: dict[int, float], n_tokens: int) -> "Observations":
        keys = np.fromiter(cells.keys(), np.int64, len(cells))
        conf = np.fromiter(cells.values(), np.float32, len(cells))
        pair, state = np.divmod(keys, N_STATES)
        t, s = np.divmod(pair, N_SOURCES)
        pair_key = s * n_tokens + t
        order = np.argsort(pair_key * N_STATES + state)  # keys are unique
        pair_key = pair_key[order]
        first = np.ones(len(keys), dtype=bool)
        first[1:] = pair_key[1:] != pair_key[:-1]
        head = order[first]
        return cls(n_tokens, s[head], t[head], np.cumsum(first) - 1,
                   state[order], conf[order])

    @classmethod
    def from_dense(cls, X: np.ndarray) -> "Observations":
        """The encoding of a dense (T, sources, states) tensor."""
        pair_s, pair_t = np.nonzero(X[:, :, 0].T == 0)
        rows = X[pair_t, pair_s]
        cell_pair, cell_state = np.nonzero(rows)
        return cls(len(X), pair_s, pair_t, cell_pair, cell_state,
                   rows[cell_pair, cell_state].astype(np.float32))

    def without_sources(self, sources: np.ndarray | None) -> "Observations":
        """These observations with ``sources`` reset to the default O."""
        if sources is None or not len(sources):
            return self
        keep = ~np.isin(self.pair_s, sources)
        kept_cells = keep[self.cell_pair]
        renumber = np.cumsum(keep) - 1
        return Observations(
            self.n_tokens, self.pair_s[keep], self.pair_t[keep],
            renumber[self.cell_pair[kept_cells]], self.cell_state[kept_cells],
            self.cell_conf[kept_cells],
        )


def as_observations(X: "Observations | np.ndarray") -> Observations:
    """``X`` itself, or the encoding of a dense tensor."""
    return X if isinstance(X, Observations) else Observations.from_dense(X)


def observations_from_spans(spans: list, n_tokens: int) -> Observations:
    """The sparse twin of :func:`sequence_from_spans`."""
    layers = specialise_layers(layers_from_spans(spans))
    return Observations.from_cells(observation_cells(layers, n_tokens), n_tokens)


# ---------------------------------------------------------------------------
# Majority voter (labelling.py:503-531)
# ---------------------------------------------------------------------------

def majority_vote_sparse(layers: Layers, n_tokens: int, nb_sources_threshold: int = 4):
    """Sparse majority vote, identical semantics to
    ``majority_vote(extract_sequence(layers))`` but computed from
    :func:`observation_cells` — avoids materializing the dense
    (T, sources, states) tensor whose memory traffic dominates and
    caps multi-core scaling. Call on specialised layers.

    The per-(token, source) argmax runs over cell VALUES with
    np.argmax's first-max tie-break (smallest state index; cells <= 0
    lose to the zeroed O cell). Tokens covered by no non-generic span
    vote O."""
    cells = observation_cells(layers, n_tokens)

    # best[(t, s)] = (conf, -state) maximum => argmax with min-index
    # tie-break over the surviving cell values
    best: dict[int, tuple[float, int]] = {}
    for key, conf in cells.items():
        if conf <= 0:
            continue  # loses the dense argmax to the 0.0 O cell
        tsi, state = divmod(key, N_STATES)
        cur = best.get(tsi)
        if cur is None or (conf, -state) > cur:
            best[tsi] = (conf, -state)

    counts = np.zeros((n_tokens, N_STATES))
    counts[:, 0] = N_SOURCES
    for key, (_conf, neg_state) in best.items():
        t = key // N_SOURCES
        counts[t, -neg_state] += 1.0
        counts[t, 0] -= 1.0
    non_o = counts[:, 1:]
    fired = non_o.sum(axis=1)
    states = np.where(fired >= nb_sources_threshold, non_o.argmax(axis=1) + 1, 0)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_label = non_o.max(axis=1) / np.where(fired > 0, fired, 1.0)
    conf_o = counts[:, 0] / N_SOURCES
    confidences = np.where(states > 0, conf_label, conf_o)
    return states, confidences


def majority_vote(X: np.ndarray, nb_sources_threshold: int = 4):
    """Per-token majority over the sources' argmax labels; emit a label
    when >= threshold sources fire. Returns (state_indices, confidences)."""
    T = len(X)
    if T == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    am = X.argmax(axis=2)  # (T, S)
    counts = np.zeros((T, N_STATES))
    np.add.at(counts, (np.repeat(np.arange(T), N_SOURCES), am.ravel()), 1.0)
    non_o = counts[:, 1:]
    fired = non_o.sum(axis=1)
    states = np.where(fired >= nb_sources_threshold, non_o.argmax(axis=1) + 1, 0)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_label = non_o.max(axis=1) / np.where(fired > 0, fired, 1.0)
    conf_o = counts[:, 0] / counts.sum(axis=1)
    confidences = np.where(states > 0, conf_label, conf_o)
    return states, confidences


# ---------------------------------------------------------------------------
# BILUO decoding: per-token state path -> spans (labelling.py:116-141)
# ---------------------------------------------------------------------------

def decode_biluo(states: np.ndarray, confidences: np.ndarray) -> dict[Span, tuple[str, float]]:
    spans: dict[Span, tuple[str, float]] = {}
    labels = [POSITIONED_LABELS[int(s)] for s in states]
    T = len(labels)
    i = 0
    while i < T:
        p = labels[i]
        if p == "O":
            i += 1
        elif p[0] in "UIL":
            spans[(i, i + 1)] = (p[2:], round(float(confidences[i]), 3))
            i += 1
        else:  # B-
            start, label = i, p[2:]
            i += 1
            while i < T - 1 and labels[i] != "O" and labels[i][0] == "I":
                i += 1
            if i < T and labels[i][0] == "L":
                spans[(start, i + 1)] = (
                    label, round(float(confidences[start : i + 1].max()), 3),
                )
            i += 1
    return spans


# ---------------------------------------------------------------------------
# Spark wrapper: majority-voter mentions from the annotated table
# ---------------------------------------------------------------------------

def majority_voter_mentions(
    annotated: DataFrame, nb_sources_threshold: int = 4,
    source_name: str = "majority_voter",
    sources_to_keep: list[str] | None = None,
    correct: bool = False,
) -> DataFrame:
    """Stateless narrow stage: annotated rows -> aggregated mention rows
    (the relational form of MajorityVoter.annotate).

    ``sources_to_keep`` restricts the vote to a source subset AFTER
    specialisation, matching the reference's UnifiedAnnotator order
    (specialise over all layers, then extract only kept sources,
    labelling.py:144-175). ``correct`` applies the 15-rule entity
    repair to each document's vote, as the graph's triple stage does.
    Runs the shared per-document kernel (operators.triples.doc_mentions)
    in the shared mentions stage."""
    from weak_supervision_for_ner_spark.operators.triples import (
        _mentions_stage,
        doc_mentions,
        majority_labeller,
    )

    label = majority_labeller(nb_sources_threshold, sources_to_keep)
    return _mentions_stage(
        annotated, lambda tokens, spans: doc_mentions(tokens, spans, label, correct),
        source_name,
    )
