"""Evaluation harness: token- and entity-level P/R/F1 vs a gold span
table, with micro/macro/weighted rollups.

Spark re-expression of the reference's metrics engine
(analysis.py:40-161): the per-document set algebra (TP = intersection,
FP/FN = differences) becomes one full outer join of the distinct
(url, start, end, label) rows of gold and prediction, counted per
label; token-level metrics explode spans into token indices first.
Both count tables (one row per label) come back to the driver in one
collect, where the per-label and rollup rows are computed. CONLL label
mapping and the conf >= 0.5 threshold follow analysis.py:6-8, 72.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from weak_supervision_for_ner_spark.operators.similarity import _round_half_up6
from weak_supervision_for_ner_spark.schema import CONLL_MAPPINGS

_METRICS = pa.schema(
    [("label", pa.string()), ("support", pa.int64())]
    + [(f"{level}_{m}", pa.float64())
       for level in ("entity", "token") for m in ("precision", "recall", "f1")]
)


def best_label_per_span(pred: DataFrame, conf_threshold: float = 0.5) -> DataFrame:
    """Highest-confidence label per (url, span) with threshold
    (analysis.py:65-73): max_by over the span group."""
    return (
        pred.groupBy("url", "start", "end")
        .agg(
            F.max_by("label", F.struct("conf", "label")).alias("label"),
            F.max("conf").alias("conf"),
        )
        .filter(F.col("conf") >= conf_threshold)
        .select("url", "start", "end", "label")
    )


def map_labels(df: DataFrame, mappings: dict[str, str] | None = None,
               keep: set[str] | None = None) -> DataFrame:
    mappings = CONLL_MAPPINGS if mappings is None else mappings
    expr = F.col("label")
    for src, dst in sorted(mappings.items()):
        expr = F.when(F.col("label") == src, dst).otherwise(expr)
    out = df.withColumn("label", expr)
    if keep is not None:
        out = out.filter(F.col("label").isin(sorted(keep)))
    return out


def _counts(gold: DataFrame, pred: DataFrame, keys: list[str]) -> DataFrame:
    """(label, tp, fp, fn, support) from one full outer join of each
    side's distinct (keys, label) rows, each side flagged present."""
    on = keys + ["label"]
    g = gold.select(*on).distinct().withColumn("g", F.lit(True))
    p = pred.select(*on).distinct().withColumn("p", F.lit(True))
    return g.join(p, on, "full").groupBy("label").agg(
        F.count_if(F.col("g") & F.col("p")).alias("tp"),
        F.count_if(F.col("g").isNull()).alias("fp"),
        F.count_if(F.col("p").isNull()).alias("fn"),
        F.count("g").alias("support"),
    )


def _tokens(df: DataFrame) -> DataFrame:
    # end <= start would make F.sequence DESCEND (Spark auto-reverses
    # empty ranges), silently injecting wrong token indices — degenerate
    # spans contribute nothing instead
    return df.filter(F.col("end") > F.col("start")).select(
        "url", "label",
        F.explode(F.sequence(F.col("start"), F.col("end") - 1)).alias("idx"),
    )


def _biluo_tokens(df: DataFrame, with_conf: bool = False) -> DataFrame:
    """Explode spans to per-token BILUO-qualified labels
    (analysis.py:170-206): a unit span is U-label; longer spans emit
    B-label, I-label*, L-label."""
    cols = ["url", "start", "end", "label"] + (["conf"] if with_conf else [])
    # degenerate spans (end <= start) would explode a DESCENDING
    # sequence into wrong token indices — drop them instead
    tok = df.filter(F.col("end") > F.col("start")).select(
        *cols, F.explode(F.sequence(F.col("start"), F.col("end") - 1)).alias("idx")
    )
    tag = (
        F.when(F.col("end") == F.col("start") + 1, F.lit("U"))
        .when(F.col("idx") == F.col("start"), F.lit("B"))
        .when(F.col("idx") == F.col("end") - 1, F.lit("L"))
        .otherwise(F.lit("I"))
    )
    out = tok.withColumn("qlabel", F.concat_ws("-", tag, F.col("label")))
    keep = ["url", "idx", "qlabel"] + (["conf"] if with_conf else [])
    return out.select(*keep)


def token_logloss(
    gold: DataFrame,
    pred: DataFrame,
    doc_len: DataFrame | None = None,
    eps: float = 1e-15,
) -> DataFrame:
    """Token-level cross-entropy of predicted confidences vs gold BILUO
    one-hots — the reference's ``compute_logloss`` (analysis.py:165-210)
    re-expressed relationally, corpus-wide in one pass instead of one
    numpy matrix per document.

    Semantics preserved: per document the label space is
    ``O + {B,I,L,U} x sorted(gold labels of that doc)``; predicted spans
    whose label is absent from the doc's gold label set are skipped;
    the O column is ``1 - sum(other columns)``; probabilities are
    clipped to [eps, 1-eps] and row-renormalised before the log, exactly
    like the legacy ``sklearn.metrics.log_loss(normalize=False)`` the
    reference calls. Deviation (documented): when two predicted spans
    write the same (token, BILUO-label) cell the reference keeps the
    last dict-ordered value; we take the max conf, which is
    deterministic under parallel evaluation.

    Returns a single row: ``n_tokens, logloss_total (DECIMAL 28,9),
    logloss_per_token``. The per-token losses are summed as
    DECIMAL(20,9) so the total is exact and independent of partition
    order — safe for cross-engine hash comparison at any parallelism.
    """
    one_minus = 1.0 - eps

    def clip(c):
        return F.greatest(F.lit(eps), F.least(F.lit(one_minus), c))

    if doc_len is None:
        doc_len = gold.groupBy("url").agg(F.max("end").alias("n_tokens"))
    # zero/negative-length docs would explode a descending index range
    doc_len = doc_len.filter(F.col("n_tokens") > 0)
    dlab = gold.select("url", "label").distinct()
    nlab = dlab.groupBy("url").agg(F.count(F.lit(1)).alias("nlabels"))
    toks = doc_len.select(
        "url", F.explode(F.sequence(F.lit(0), F.col("n_tokens") - 1)).alias("idx")
    )
    gold_tok = _biluo_tokens(gold).withColumnRenamed("qlabel", "glabel")
    pred_in_space = pred.join(dlab, ["url", "label"], "left_semi")
    pred_tok = (
        _biluo_tokens(pred_in_space, with_conf=True)
        .groupBy("url", "idx", "qlabel")
        .agg(F.max("conf").alias("conf"))
    )
    rowstats = pred_tok.groupBy("url", "idx").agg(
        F.sum(clip(F.col("conf"))).alias("s_clip"),
        F.sum("conf").alias("s_raw"),
        F.count(F.lit(1)).alias("nnz"),
    )
    tok = (
        toks.join(gold_tok, ["url", "idx"], "left")
        .join(rowstats, ["url", "idx"], "left")
        .join(
            pred_tok.withColumnRenamed("qlabel", "glabel").withColumnRenamed("conf", "pconf"),
            ["url", "idx", "glabel"],
            "left",
        )
        .join(nlab, ["url"], "left")
    )
    o_raw = F.lit(1.0) - F.coalesce(F.col("s_raw"), F.lit(0.0))
    numer = clip(
        F.when(F.col("glabel").isNull(), o_raw).otherwise(
            F.coalesce(F.col("pconf"), F.lit(0.0))
        )
    )
    denom = (
        F.coalesce(F.col("s_clip"), F.lit(0.0))
        + clip(o_raw)
        + (
            4 * F.coalesce(F.col("nlabels"), F.lit(0))
            - F.coalesce(F.col("nnz"), F.lit(0))
        )
        * F.lit(eps)
    )
    loss = tok.select((-F.log(numer / denom)).alias("l"))
    return loss.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("l").cast("decimal(20,9)"))
        .cast("decimal(28,9)")
        .alias("logloss_total"),
    ).select(
        "n_tokens",
        F.col("logloss_total").cast("double").alias("logloss_total"),
        (F.col("logloss_total").cast("double") / F.col("n_tokens")).alias(
            "logloss_per_token"
        ),
    )


def _round6(x: float) -> float:
    """Spark's ``F.round(x, 6)``, which the per-label rows have always
    used."""
    return float(_round_half_up6(np.array([x]))[0])


def evaluate_mentions(
    gold: DataFrame, pred: DataFrame, conf_threshold: float = 0.5,
    mappings: dict[str, str] | None = None, keep: set[str] | None = None,
) -> DataFrame:
    """Per-label + micro/macro/weighted metrics table.

    Columns: label, entity_precision/recall/f1, token_precision/
    recall/f1, support (per-label rows carry entity support). The
    counts run in one Spark action; the result is a local relation,
    and nothing stays cached."""
    pred_best = best_label_per_span(pred, conf_threshold)
    if mappings is not None or keep is not None:
        pred_best = map_labels(pred_best, mappings or {}, keep)
        gold = map_labels(gold, mappings or {}, keep)
    # both granularities read both inputs: hold them for the one collect
    # so the upstream (possibly a full UDF pipeline) runs once; an input
    # the session caches already is read from there and left cached
    held = [df.persist() for df in (pred_best, gold) if df.storageLevel == StorageLevel.NONE]
    try:
        counts = (
            _counts(gold, pred_best, ["url", "start", "end"])
            .withColumn("level", F.lit("entity"))
            .unionByName(
                _counts(_tokens(gold), _tokens(pred_best), ["url", "idx"])
                .withColumn("level", F.lit("token"))
            )
            .collect()
        )
    finally:
        for df in held:
            df.unpersist()
    ent = {r["label"]: r for r in counts if r["level"] == "entity"}
    # a token row comes from a span of the same label, so tok's labels
    # are a subset of ent's
    tok = {r["label"]: r for r in counts if r["level"] == "token"}
    eps = 1e-10

    def prf(c, rnd):
        if c is None:
            return 0.0, 0.0, 0.0
        p = rnd(c["tp"] / (c["tp"] + c["fp"] + eps))
        r = rnd(c["tp"] / (c["tp"] + c["fn"] + eps))
        return p, r, rnd(2 * p * r / (p + r + eps))

    per_label = [
        (lab, ent[lab]["support"], *prf(ent[lab], _round6), *prf(tok.get(lab), _round6))
        for lab in sorted(ent, key=str)
    ]

    # micro: summed counts; macro: mean of the per-label metrics;
    # weighted: support-share dot product (analysis.py:124-158)
    support = sum(r[1] for r in per_label)

    def total(level):
        return {k: sum(c[k] for c in level.values()) for k in ("tp", "fp", "fn")}

    def mean(col):
        return _round6(sum(r[col] for r in per_label) / len(per_label)) if per_label else 0.0

    def weighted(col):
        return _round6(sum(r[col] * r[1] for r in per_label) / support) if support else 0.0

    def f1(p, r):
        return round(2 * p * r / (p + r + eps), 6)

    mep, mer, mtp, mtr = (mean(col) for col in (2, 3, 5, 6))
    wep, wer = weighted(2), weighted(3)
    rows = per_label + [
        ("micro", support, *prf(total(ent), lambda x: round(x, 6)),
         *prf(total(tok), lambda x: round(x, 6))),
        ("macro", support, mep, mer, f1(mep, mer), mtp, mtr, f1(mtp, mtr)),
        ("weighted", support, wep, wer, f1(wep, wer), 0.0, 0.0, 0.0),
    ]
    return gold.sparkSession.createDataFrame(
        pa.Table.from_pylist([dict(zip(_METRICS.names, r)) for r in rows], schema=_METRICS)
    )
