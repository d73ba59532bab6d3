"""Materialize the single-node oracle's output for the sf0.01 driver
corpus as parquet fixtures the DuckDB side of the correctness gate can
read (the same pattern the ann_ivf oracle uses for its centroids).

This upgrades pages_mentions / pages_majority / distill_dataset from
rows-only driver checks to full rows+schema+hash gates: the Spark side
runs the distributed pipeline, the DuckDB side reads THESE fixtures —
computed by the independent pure-python oracle (plans/oracle.py) with
no Spark involved — so the comparison is a genuine cross-check, not a
self-join.

The fixtures are tied to the sf0.01 synthetic corpus (n_docs=1200,
seed=42 — __spark_entry__._n_docs), which is the scale the driver pins
its gate at. Regenerate after any labelling-semantics change:

    python scripts/make_oracle_fixtures.py
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weak_supervision_for_ner_spark.plans.oracle import (  # noqa: E402
    oracle_annotate,
    oracle_majority_mentions,
)
from weak_supervision_for_ner_spark.sources.pages import make_page  # noqa: E402

N_DOCS = 1200  # __spark_entry__._n_docs of an sf0.01 directory
SEED = 42
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "fixtures")

MENTION_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("source", pa.string()),
    ("start", pa.int32()),
    ("end", pa.int32()),
    ("label", pa.string()),
    ("conf", pa.float64()),
    ("text", pa.string()),
])


def _mention_table(rows) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in MENTION_SCHEMA.names]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, MENTION_SCHEMA)],
        schema=MENTION_SCHEMA,
    )


EVAL_SCHEMA = pa.schema([
    ("label", pa.string()),
    ("support", pa.int64()),
    ("entity_precision", pa.float64()),
    ("entity_recall", pa.float64()),
    ("entity_f1", pa.float64()),
    ("token_precision", pa.float64()),
    ("token_recall", pa.float64()),
    ("token_f1", pa.float64()),
])


def oracle_eval(gold_rows, pred_rows, mappings, keep):
    """Single-node mirror of operators.evaluate.evaluate_mentions
    (reference analysis.py:40-161): best-label-per-span at conf>=0.5,
    CoNLL label mapping + keep filter, entity/token TP-FP-FN set
    algebra, micro/macro/weighted rollups with the same eps=1e-10 and
    6-dp rounding conventions."""
    eps = 1e-10

    def mp(lab):
        return mappings.get(lab, lab)

    best = {}
    for (url, _src, s, e, lab, conf, _t) in pred_rows:
        k = (url, s, e)
        cur = best.get(k)
        if cur is None or (conf, lab) > cur:
            best[k] = (conf, lab)
    pred = {(u, s, e, mp(lab)) for (u, s, e), (conf, lab) in best.items()
            if conf >= 0.5 and mp(lab) in keep}
    gold = {(u, s, e, mp(lab)) for (u, s, e, lab) in gold_rows
            if mp(lab) in keep}

    def tokens(spans):
        return {(u, i, lab) for (u, s, e, lab) in spans if e > s
                for i in range(s, e)}

    def counts(g, p, labels):
        out = {}
        for lab in labels:
            gs = {x for x in g if x[-1] == lab}
            ps = {x for x in p if x[-1] == lab}
            out[lab] = (len(gs & ps), len(ps - gs), len(gs - ps), len(gs))
        return out

    labels = sorted({x[-1] for x in gold} | {x[-1] for x in pred})
    ent = counts(gold, pred, labels)
    tok = counts(tokens(gold), tokens(pred), labels)

    def prf3(tp, fp, fn):
        p = round(tp / (tp + fp + eps), 6)
        r = round(tp / (tp + fn + eps), 6)
        return p, r, round(2 * p * r / (p + r + eps), 6)

    rows = []
    for lab in labels:
        etp, efp, efn, sup = ent[lab]
        ttp, tfp, tfn, _ = tok[lab]
        rows.append((lab, sup, *prf3(etp, efp, efn), *prf3(ttp, tfp, tfn)))

    e_sum = [sum(ent[l][i] for l in labels) for i in range(4)]
    t_sum = [sum(tok[l][i] for l in labels) for i in range(3)]
    rows.append(("micro", e_sum[3], *prf3(e_sum[0], e_sum[1], e_sum[2]),
                 *prf3(t_sum[0], t_sum[1], t_sum[2])))

    def f1(p, r):
        return round(2 * p * r / (p + r + eps), 6)

    n = len(labels)
    mep = round(sum(r[2] for r in rows[:n]) / n, 6)
    mer = round(sum(r[3] for r in rows[:n]) / n, 6)
    mtp = round(sum(r[5] for r in rows[:n]) / n, 6)
    mtr = round(sum(r[6] for r in rows[:n]) / n, 6)
    total_sup = sum(r[1] for r in rows[:n])
    wep = round(sum(r[2] * r[1] for r in rows[:n]) / total_sup, 6)
    wer = round(sum(r[3] * r[1] for r in rows[:n]) / total_sup, 6)
    rows.append(("macro", total_sup, mep, mer, f1(mep, mer), mtp, mtr, f1(mtp, mtr)))
    rows.append(("weighted", total_sup, wep, wer, f1(wep, wer), 0.0, 0.0, 0.0))
    return rows


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    pages = [make_page(i, SEED)[0] for i in range(N_DOCS)]
    annotated = oracle_annotate(pages)  # lang filter + default (no-truecase) path
    print(f"annotated {len(annotated)}/{N_DOCS} docs")

    # tokens(url, tokens) — the distill oracle's input
    tok_tbl = pa.Table.from_arrays(
        [
            pa.array([d["url"] for d in annotated], type=pa.string()),
            pa.array([list(d["tokens"]) for d in annotated],
                     type=pa.list_(pa.string())),
        ],
        names=["url", "tokens"],
    )
    pq.write_table(tok_tbl, os.path.join(OUT_DIR, "oracle_tokens_sf0.01.parquet"))

    # mentions(url, source, start, end, label, conf, text) — all sources,
    # exactly mentions_from_annotated's explode shape
    m_rows = []
    for d in annotated:
        toks = d["tokens"]
        for source, start, end, label, conf in d["spans"]:
            m_rows.append((d["url"], source, int(start), int(end),
                           label, float(conf), " ".join(toks[start:end])))
    pq.write_table(_mention_table(m_rows),
                   os.path.join(OUT_DIR, "oracle_mentions_sf0.01.parquet"))
    print(f"mentions: {len(m_rows)} rows")

    # majority-voter mentions
    mv_rows = [tuple(r) for r in oracle_majority_mentions(annotated)]
    pq.write_table(_mention_table(mv_rows),
                   os.path.join(OUT_DIR, "oracle_majority_sf0.01.parquet"))
    print(f"majority: {len(mv_rows)} rows")

    # entity-corrected majority mentions: the per-document kernel the
    # graph's triple stage and majority_voter_mentions(correct=True) run
    from weak_supervision_for_ner_spark.operators.triples import (
        doc_mentions,
        majority_labeller,
    )

    label = majority_labeller()
    corr_rows = [
        (d["url"], "majority_voter", s, e, lab, conf, " ".join(d["tokens"][s:e]))
        for d in annotated
        for (s, e, lab, conf) in doc_mentions(d["tokens"], d["spans"], label, correct=True)
    ]
    pq.write_table(_mention_table(corr_rows),
                   os.path.join(OUT_DIR, "oracle_corrected_sf0.01.parquet"))
    print(f"corrected: {len(corr_rows)} rows")

    # HMM fit (n_iter=2, the driver query's setting) + Viterbi decode —
    # single-node Baum-Welch over the same annotated docs
    from weak_supervision_for_ner_spark.plans.oracle import (
        oracle_hmm_fit,
        oracle_hmm_mentions,
    )

    model = oracle_hmm_fit(annotated, n_iter=2)
    hmm_rows = [tuple(r) for r in oracle_hmm_mentions(model, annotated)]
    pq.write_table(_mention_table(hmm_rows),
                   os.path.join(OUT_DIR, "oracle_hmm_sf0.01.parquet"))
    print(f"hmm decode: {len(hmm_rows)} rows")

    # Snorkel-style label model (n_iter=5, the driver query's setting):
    # single-node Dawid-Skene EM fit + per-doc posterior decode
    from weak_supervision_for_ner_spark.operators.labelmodel import (
        LabelModelAggregator,
    )

    lm = LabelModelAggregator(n_iter=5)
    lm.fit([d["spans"] for d in annotated])
    sn_rows = []
    for d in annotated:
        tokens = list(d["tokens"])
        sn_rows.extend(
            (d["url"], lm.source_name, s, e, lab, conf, " ".join(tokens[s:e]))
            for (s, e, lab, conf) in lm.decode_doc(tokens, d["spans"]))
    pq.write_table(_mention_table(sn_rows),
                   os.path.join(OUT_DIR, "oracle_snorkel_sf0.01.parquet"))
    print(f"snorkel decode: {len(sn_rows)} rows")

    # evaluation rollups per aggregated layer vs the generator gold
    from weak_supervision_for_ner_spark.schema import (
        CONLL_MAPPINGS,
        CONLL_TO_RETAIN,
    )
    from weak_supervision_for_ner_spark.sources.pages import gold_token_spans

    gold_rows = []
    for i in range(N_DOCS):
        page, char_gold = make_page(i, SEED)
        for s, e, label in gold_token_spans(page["text"], char_gold):
            gold_rows.append((page["url"], s, e, label))
    print(f"gold: {len(gold_rows)} rows")

    # Full end-to-end KG graph (majority path, truecase + correction —
    # run_kg_pipeline's defaults): annotate → vote → correct → SVO →
    # link → minhash-LSH canonicalize (bit-exact xxhash64 mirror) →
    # dedup. This is the fixture that upgrades pages_triples from
    # rows-only to a full hash gate.
    from weak_supervision_for_ner_spark.plans.oracle import oracle_graph

    graph_rows = sorted(oracle_graph(pages))
    graph_schema = pa.schema([
        ("subj", pa.string()), ("subj_type", pa.string()),
        ("pred", pa.string()), ("obj", pa.string()),
        ("obj_type", pa.string()), ("url", pa.string()),
        ("conf", pa.float64()), ("subj_id", pa.string()),
        ("obj_id", pa.string()),
    ])
    cols = list(zip(*graph_rows)) if graph_rows else [[] for _ in graph_schema.names]
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, graph_schema)],
            schema=graph_schema,
        ),
        os.path.join(OUT_DIR, "oracle_triples_sf0.01.parquet"),
    )
    print(f"graph triples: {len(graph_rows)} rows")

    # KG quality row (q_pages_kg_quality's exact computation, from the
    # oracle graph vs the generator's seeded gold relations)
    import re as _re

    from weak_supervision_for_ner_spark.functions.lexicons import LEGAL_SUFFIXES
    from weak_supervision_for_ner_spark.sources.pages import make_page_full

    suffix_re = r"(?i)\s+(" + "|".join(sorted(LEGAL_SUFFIXES)) + r")\.?$"

    def _norm_triple(s: str) -> str:
        return _re.sub(suffix_re, "", _re.sub(suffix_re, "", s.lower()))

    got = {(r[5], _norm_triple(r[0]), r[2], _norm_triple(r[3])) for r in graph_rows}
    gold_t = set()
    for i in range(N_DOCS):
        page, _g, triples = make_page_full(i, SEED)
        if page["lang"] != "en":
            continue
        for subj, pred, obj in triples:
            gold_t.add((page["url"], _norm_triple(subj), pred, _norm_triple(obj)))
    tp = len(got & gold_t)
    kq_schema = pa.schema([
        ("n_predicted", pa.int64()), ("n_gold", pa.int64()), ("tp", pa.int64()),
        ("precision", pa.float64()), ("recall", pa.float64()),
    ])
    kq_row = (len(got), len(gold_t), tp,
              round(tp / max(len(got), 1), 4), round(tp / max(len(gold_t), 1), 4))
    pq.write_table(
        pa.Table.from_arrays(
            [pa.array([v], type=f.type) for v, f in zip(kq_row, kq_schema)],
            schema=kq_schema,
        ),
        os.path.join(OUT_DIR, "oracle_kg_quality_sf0.01.parquet"),
    )
    print(f"kg_quality: pred {kq_row[0]} gold {kq_row[1]} tp {tp} "
          f"P {kq_row[3]} R {kq_row[4]}")

    for name, pred_rows in (("mv", mv_rows), ("corrected", corr_rows),
                            ("hmm", hmm_rows), ("snorkel", sn_rows)):
        ev = oracle_eval(gold_rows, pred_rows, CONLL_MAPPINGS, CONLL_TO_RETAIN)
        cols = list(zip(*ev))
        tbl = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, EVAL_SCHEMA)],
            schema=EVAL_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(OUT_DIR, f"oracle_eval_{name}_sf0.01.parquet"))
        micro = [r for r in ev if r[0] == "micro"][0]
        print(f"eval_{name}: {len(ev)} rows, micro entity F1 {micro[4]}")


if __name__ == "__main__":
    main()
