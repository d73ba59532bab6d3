"""Knowledge-graph stages: relation/triple extraction, entity linking,
minhash-LSH canonicalization, graph materialize (north_rule — new
capability layered on the reference's aggregated mentions).

Triple extraction is one per-document kernel — :func:`doc_mentions`
(spans → labeller → BILUO decode [→ entity correction]; the labeller is
the sparse majority vote or a trained model's Viterbi) then
:func:`extract_triples_from_doc` (the SVO-window rule) — run by one
Arrow stage, ``_triples_stage``, over one of two input forms: pages
(annotated in the stage) or annotated rows (labelled in the stage).
Either way the stage labels the rows it reads and never receives
precomputed mentions, so extraction has no shuffle and no join. The
public builders only pick the form and the labeller; the stream and
the single-node oracle call the same kernel. The aggregated mention
tables (majority vote, HMM and label-model decodes) share the other
Arrow stage, ``_mentions_stage``: annotated rows → one aggregator's
per-document mentions → ``MENTIONS_SCHEMA`` rows. The distillation
examples (``operators.distill``) decode the same kernel in place too:
no operator groups mentions by url or joins them back to documents.

After extraction:
      raw triples (surface forms)
      → entity linking: a literal map lookup of the gazetteer KB
      → canonicalization: minhash-LSH over character shingles of
        UNLINKED surface forms; banding and exact connected components
        (driver union-find for small sets, else the dedup module's
        star edges and pointer-jumping components); rewrite triples
      → dedup (groupBy max-conf) → write partitioned by pred.

Scale notes: linking folds into the projection (the KB is the
in-module gazetteer, ~10^2 entries); LSH banding shuffles once on
(band, signature); mega-buckets from boilerplate are capped (drops
counted, no silent truncation — SURVEY.md §7.4); distributed connected
components pointer-jump in O(log diameter) rounds and raise rather than
stop short.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weak_supervision_for_ner_spark.functions.lexicons import LEGAL_SUFFIXES as _LEGAL_SUFFIXES
from weak_supervision_for_ner_spark.operators.aggregate import (
    decode_biluo,
    layers_from_spans,
    majority_vote_sparse,
    specialise_layers,
)
from weak_supervision_for_ner_spark.operators.annotate import annotate_batch, select_text
from weak_supervision_for_ner_spark.operators.dedup import (
    _cap_buckets,
    band_rows,
    connected_components,
    star_edges,
)
from weak_supervision_for_ner_spark.operators.entity_correction import correct_spans_with_conf
from weak_supervision_for_ner_spark.schema import MENTIONS_SCHEMA, TRIPLES_SCHEMA
from weak_supervision_for_ner_spark.sources.gazetteer import RELATION_LEXICON

ENTITY_TYPES = {"PERSON", "COMPANY", "ORG", "GPE", "LOC", "PRODUCT", "FAC", "EVENT", "NORP", "LAW"}

_MAX_PATTERN_LEN = max(len(k) for k in RELATION_LEXICON)

_PERSON_SUBJECT_PREDS = {"ceo_of", "born_in", "works_for"}

# Per-predicate subject-type constraints (None = any entity type).
_SUBJECT_TYPES = {
    "acquired": {"COMPANY", "ORG", "PERSON"},
    "merged_with": {"COMPANY", "ORG"},
    "invested_in": {"COMPANY", "ORG", "PERSON"},
    "partnered_with": {"COMPANY", "ORG"},
    "founded": {"PERSON", "COMPANY", "ORG"},
    "launched": {"COMPANY", "ORG", "PERSON"},
    "ceo_of": {"PERSON"},
    "born_in": {"PERSON"},
    "works_for": {"PERSON"},
    "joined": {"PERSON"},
    "leads": {"PERSON"},
    "met": {"PERSON"},
    "visited": {"PERSON", "NORP", "COMPANY", "ORG"},
    "signed": {"NORP", "PERSON", "COMPANY", "ORG", "GPE"},
    "based_in": {"COMPANY", "ORG"},
    "sued": {"COMPANY", "ORG", "PERSON", "GPE", "NORP"},
}

# Per-predicate object-type constraints: prevents "met <GPE>"-style
# noise when the true object is a non-entity ("met reporters in Oslo").
_OBJECT_TYPES = {
    "acquired": {"COMPANY", "ORG"},
    "merged_with": {"COMPANY", "ORG"},
    "invested_in": {"COMPANY", "ORG"},
    "partnered_with": {"COMPANY", "ORG"},
    "founded": {"COMPANY", "ORG"},
    "joined": {"COMPANY", "ORG"},
    "leads": {"COMPANY", "ORG"},
    "works_for": {"COMPANY", "ORG"},
    "ceo_of": {"COMPANY", "ORG"},
    "launched": {"PRODUCT"},
    "born_in": {"GPE", "LOC"},
    "based_in": {"GPE", "LOC"},
    "visited": {"GPE", "LOC", "FAC"},
    "met": {"PERSON"},
    "signed": {"LAW", "EVENT"},
    "sued": {"COMPANY", "ORG", "PERSON"},
}


def extract_triples_from_doc(
    url: str, tokens: list[str], mentions: list[tuple[int, int, str, float]]
) -> list[tuple]:
    """Deterministic SVO-window rule over one document's aggregated
    mentions: subject mention — relation phrase — object mention, all
    within one sentence window, nearest mentions on each side."""
    lower = [t.lower() for t in tokens]
    n = len(tokens)
    ents = sorted(
        (s, e, lab, conf)
        for (s, e, lab, conf) in mentions
        if lab in ENTITY_TYPES
        # drop fragment mentions that are a bare legal suffix ("GmbH"):
        # majority voting can split "Pied Piper GmbH" into two spans
        and not all(
            lower[t].rstrip(".") in _LEGAL_SUFFIXES for t in range(s, min(e, n))
        )
    )
    if not ents:
        return []

    # Merge adjacent same-label mentions (merge_contiguous_spans
    # semantics, annotations.py:1312-1330): majority voting can split
    # one entity at a gazetteer boundary ("PlayStation" + "5").
    merged = [ents[0]]
    for m in ents[1:]:
        last = merged[-1]
        if m[0] == last[1] and m[2] == last[2]:
            merged[-1] = (last[0], m[1], last[2], min(last[3], m[3]))
        else:
            merged.append(m)
    ents = merged

    # Sentence boundaries (token indices of terminators)
    boundaries = [i for i, t in enumerate(tokens) if t in {".", "!", "?"}]

    def same_sentence(a: int, b: int) -> bool:
        return not any(a <= x < b for x in boundaries)

    out = []
    i = 0
    while i < n:
        matched = None
        for plen in range(min(_MAX_PATTERN_LEN, n - i), 0, -1):
            pred = RELATION_LEXICON.get(tuple(lower[i : i + plen]))
            if pred is not None:
                matched = (pred, i, i + plen)
                break
        if matched is None:
            i += 1
            continue
        pred, vs, ve = matched
        allowed_subj = _SUBJECT_TYPES.get(pred)
        subj_cands = [
            m for m in ents
            if m[1] <= vs and same_sentence(m[1] - 1, vs)
            and (allowed_subj is None or m[2] in allowed_subj)
        ]
        # Person-anchored predicates prefer the nearest PERSON subject:
        # "X is the CEO of Y and was born in Z" must not attach Y as
        # the born_in subject just because it is nearer to the verb.
        if pred in _PERSON_SUBJECT_PREDS:
            person_cands = [m for m in subj_cands if m[2] == "PERSON"]
            if person_cands:
                subj_cands = person_cands
        subj = max(subj_cands, key=lambda m: m[1], default=None)
        allowed = _OBJECT_TYPES.get(pred)
        obj = min(
            (m for m in ents
             if m[0] >= ve and same_sentence(ve, m[0])
             and (allowed is None or m[2] in allowed)),
            key=lambda m: m[0], default=None,
        )
        if subj is not None and obj is not None:
            out.append((
                " ".join(tokens[subj[0]:subj[1]]), subj[2], pred,
                " ".join(tokens[obj[0]:obj[1]]), obj[2], url,
                round(min(subj[3], obj[3]), 3),
            ))
        i = ve
    return out


# ---------------------------------------------------------------------------
# The per-document kernel and the one extraction stage
# ---------------------------------------------------------------------------

_TRIPLE_COLS = TRIPLES_SCHEMA.fieldNames()


def majority_labeller(nb_sources_threshold: int = 4,
                      sources_to_keep: list[str] | None = None):
    """The sparse majority vote as a :func:`doc_mentions` labeller,
    ``label(spans, n_tokens) -> (states, confs)``: specialise the
    layers, then vote. ``sources_to_keep`` restricts the vote to a
    source subset AFTER specialisation, matching the reference's
    UnifiedAnnotator order (labelling.py:144-175)."""
    keep = None if sources_to_keep is None else set(sources_to_keep)

    def label(spans, n_tokens: int):
        layers = specialise_layers(layers_from_spans(list(spans)))
        if keep is not None:
            layers = {s: layer for s, layer in layers.items() if s in keep}
        return majority_vote_sparse(layers, n_tokens, nb_sources_threshold)

    return label


def doc_mentions(tokens, spans, label,
                 correct: bool = False) -> list[tuple[int, int, str, float]]:
    """One document's aggregated (start, end, label, conf) mentions: the
    labeller — :func:`majority_labeller` or a model's Viterbi
    (``HMMAggregator.labeller``) — gives a per-token state path, BILUO
    decoding turns it into spans. ``correct`` then applies the 15-rule
    entity repair (spacy_wrapper.py:268-402) against the document's
    tokens, which can add a span to a document with none (an undetected
    currency amount). A token-less document has none."""
    if len(tokens) == 0:
        return []
    states, confs = label(spans, len(tokens))
    mentions = [
        (s, e, lab, conf) for (s, e), (lab, conf) in decode_biluo(states, confs).items()
    ]
    if correct:
        mentions = correct_spans_with_conf(list(tokens), mentions)
    return mentions


def _mentions_stage(annotated: DataFrame, mentions_of, source_name: str) -> DataFrame:
    """The aggregated-mentions stage: one narrow Arrow stage over the
    annotated rows running ``mentions_of(tokens, spans) -> [(start, end,
    label, conf)]`` per document — :func:`doc_mentions` under a labeller,
    or a span model's decode — and emitting ``MENTIONS_SCHEMA`` rows
    named ``source_name``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (url, source_name, s, e, lab, conf, " ".join(tokens[s:e]))
                for url, tokens, spans in zip(pdf["url"], pdf["tokens"], pdf["spans"])
                for (s, e, lab, conf) in mentions_of(tokens, spans)
            ]
            yield pd.DataFrame(rows, columns=MENTIONS_SCHEMA.fieldNames())

    return annotated.select("url", "tokens", "spans").mapInPandas(run, schema=MENTIONS_SCHEMA)


def _triples_stage(frame: DataFrame, label, correct: bool, freqs_bc=None) -> DataFrame:
    """The triple-extraction stage: one narrow Arrow stage running
    :func:`doc_mentions` and :func:`extract_triples_from_doc` per
    document. The input form comes from the frame's columns:

    - ``text`` (pages, already lang-filtered): annotate in the stage
      under the broadcast casing dictionary ``freqs_bc``, then label —
      the span structs never cross the Arrow boundary;
    - ``spans`` (annotated rows): label the spans."""
    from_text = "text" in frame.columns
    frame = (frame.select("url", "text") if from_text
             else frame.select("url", "tokens", "spans"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        freqs = freqs_bc.value if freqs_bc is not None else None
        for pdf in batches:
            if from_text:
                docs = annotate_batch(pdf["text"], form_freqs=freqs)
            else:
                docs = zip(pdf["tokens"], pdf["spans"])
            rows = []
            for url, (tokens, spans) in zip(pdf["url"], docs):
                rows.extend(extract_triples_from_doc(
                    url, list(tokens), doc_mentions(tokens, spans, label, correct)))
            yield pd.DataFrame(rows, columns=_TRIPLE_COLS)

    return frame.mapInPandas(run, schema=TRIPLES_SCHEMA)


def extract_triples_direct(frame: DataFrame, nb_sources_threshold: int = 4,
                           form_freqs: dict | None = None,
                           correct: bool = False) -> DataFrame:
    """Majority-vote triples in ONE Arrow stage, from pages or from
    annotated rows.

    Pages (a ``text`` column): annotate → specialise → majority-vote →
    [entity-correct] → SVO per doc, so on the graph-only path the span
    table never crosses the Arrow boundary. ``form_freqs`` is the corpus
    casing dictionary, broadcast exactly like ``annotate_pages``.

    Annotated rows (``tokens``, ``spans``): re-vote the spans per doc,
    for callers that materialize the annotated table anyway, so the
    labelling functions run once; ``form_freqs`` does not apply.
    ``correct`` applies the 15-rule entity repair per doc before the SVO
    rule — row-local either way."""
    freqs_bc = None
    if "text" in frame.columns:
        frame, freqs_bc = select_text(frame, form_freqs)
    return _triples_stage(frame, majority_labeller(nb_sources_threshold), correct, freqs_bc)


def extract_triples_hmm_fused(annotated: DataFrame, model,
                              correct: bool = False) -> DataFrame:
    """HMM triples in ONE Arrow stage over the annotated table: Viterbi
    under the trained model (its parameters travel as one broadcast) →
    [entity-correct] → SVO per doc. No mentions shuffle and no join;
    per document, the same triples as :func:`extract_triples_from_doc`
    over :func:`doc_mentions` under the model's labeller — asserted by
    the parity test."""
    return _triples_stage(annotated, model.labeller(annotated.sparkSession), correct)


# ---------------------------------------------------------------------------
# Entity linking (literal map lookup)
# ---------------------------------------------------------------------------

def link_entities(spark: SparkSession, triples: DataFrame) -> DataFrame:
    """Attach stable KB ids by normalized surface form; unlinked
    entities keep a surface-form id to be canonicalized by LSH.

    The KB (``canonical_entity_ids``, built from the in-module
    gazetteer) is a literal MAP lookup that folds into the existing
    projection — zero joins, zero extra stages (the reference's
    in-process dict lookup, expressed in Catalyst)."""
    from weak_supervision_for_ner_spark.sources.gazetteer import canonical_entity_ids

    entries = [x for k, v in sorted(canonical_entity_ids().items())
               for x in (F.lit(k), F.lit(v))]
    kb_map = F.create_map(*entries)
    out = triples
    for side in ("subj", "obj"):
        norm = F.lower(F.regexp_replace(F.col(side), r"\s+", " "))
        out = (
            out.withColumn(f"{side}_norm", norm)
            .withColumn(f"{side}_kb", F.element_at(kb_map, F.col(f"{side}_norm")))
        )
    return out


# ---------------------------------------------------------------------------
# MinHash-LSH canonicalization of unlinked surface forms
# ---------------------------------------------------------------------------

def _shingle_expr(col: str, k: int = 3):
    """Character k-shingles of a normalized string as an array column
    (built-in functions only — stays in codegen)."""
    padded = F.concat(F.lit("^"), F.col(col), F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (k - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(k)),
        )
    )


def minhash_signatures(
    entities: DataFrame, id_col: str = "name", n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """Minhash signature per entity string: min(xxhash64(seed, shingle))
    per permutation — all JVM-side built-ins, no UDF."""
    sh = entities.withColumn("shingles", _shingle_expr(id_col, k))
    sig_cols = [
        F.array_min(F.transform("shingles", lambda s: F.xxhash64(F.lit(i), s))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.select(id_col, *sig_cols)


def _local_components(
    sig_rows: list, n_hashes: int, bands: int, max_bucket: int,
    stats: dict | None,
) -> dict[str, str]:
    """Driver-side banding + union-find over a COLLECTED signature
    table: the same components as the distributed branch of
    :func:`canonicalize_triples` (same bands, same bucket-size cap,
    smallest-id representative) with zero extra Spark jobs. Used when
    the unlinked-entity set is small enough to collect."""
    rows_per_band = n_hashes // bands
    buckets: dict[tuple, list[str]] = {}
    for row in sig_rows:
        for b in range(bands):
            key = (b,) + tuple(
                row[f"h{i}"] for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            )
            buckets.setdefault(key, []).append(row["name"])

    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    dropped_buckets = dropped_members = 0
    for members in buckets.values():
        if len(members) > max_bucket:
            dropped_buckets += 1
            dropped_members += len(members)
            continue
        for m in members[1:]:
            union(members[0], m)
    if stats is not None:
        stats["dropped_buckets"] = dropped_buckets
        stats["dropped_members"] = dropped_members
        stats["unconverged_labels"] = 0  # union-find is exact
    # name -> smallest-id representative; identity mappings included
    # (the rewrite coalesces them to the same id either way)
    return {name: find(name) for name in {r["name"] for r in sig_rows}}


def canonicalize_triples(
    spark: SparkSession, linked: DataFrame, n_hashes: int = 16, bands: int = 4,
    stats: dict | None = None, driver_threshold: int = 100_000,
    max_bucket: int = 64,
) -> DataFrame:
    """Map every unlinked surface form to a canonical representative
    via minhash-LSH + connected components, then finalize ids.

    Two physical strategies behind one semantics:
    - unlinked entity set <= ``driver_threshold`` distinct names (the
      common case — unique UNLINKED surface forms grow far slower than
      the corpus): minhash signatures are still computed distributed,
      but the tiny signature table is collected and banded/union-found
      on the driver, and the resulting component map joins back as an
      Arrow LocalRelation broadcast — replacing ~6 small shuffle jobs
      whose per-stage orchestration dominated wall-clock. Exact to full
      convergence.
    - above the threshold: the fully distributed path on the dedup
      operators (``band_rows`` -> ``_cap_buckets`` -> ``star_edges`` ->
      ``connected_components``): one shuffle on the band key, linear
      edges per bucket, and components exact to full convergence — a
      component too deep for the round cap raises, it is never split.

    ``linked`` is read twice (LSH pass, final rewrite), so the first job
    stores it as a lazy local checkpoint, which leaves nothing in the
    session's cache: the ContextCleaner frees it with the returned frame.

    With ``stats`` provided, LSH mega-bucket drops are counted there
    (and surfaced through the pipeline's lineage log) so truncation is
    never silent; ``unconverged_labels`` is 0 on both paths, which are
    exact."""
    linked = linked.localCheckpoint(eager=False)
    # Single-pass extraction of unlinked surface forms (explode, not a
    # self-union that would double-compute the uncached upstream).
    unlinked = (
        linked.select(
            F.explode(F.array(
                F.when(F.col("subj_kb").isNull(), F.col("subj_norm")),
                F.when(F.col("obj_kb").isNull(), F.col("obj_norm")),
            )).alias("name")
        )
        .filter(F.col("name").isNotNull())
        .distinct()
    )
    sigs = minhash_signatures(unlinked, "name", n_hashes)
    # ONE job decides the physical strategy: collect at most
    # threshold+1 signature rows; overflow switches to the distributed
    # path (which recomputes sigs — only ever paid in the huge case)
    sig_rows = sigs.limit(driver_threshold + 1).collect()
    if len(sig_rows) <= driver_threshold:
        mapping = _local_components(sig_rows, n_hashes, bands, max_bucket, stats)
        components = spark.createDataFrame(
            pd.DataFrame(
                sorted(mapping.items()) or [("", "")],
                columns=["name", "canonical"],
            )
        )
        if not mapping:
            components = components.filter(F.col("name") != "")
        components = F.broadcast(components)
    else:
        rows = n_hashes // bands
        banded = band_rows(sigs, "name", [
            F.xxhash64(*[f"h{i}" for i in range(b * rows, (b + 1) * rows)])
            for b in range(bands)
        ])
        # materialized by connected_components, so the subj and obj
        # rewrites below read one component table
        components = connected_components(
            star_edges(_cap_buckets(banded, max_bucket, stats), "name")
        )
        if stats is not None:
            stats["unconverged_labels"] = 0

    out = linked
    for side in ("subj", "obj"):
        comp = components.select(
            F.col("name").alias(f"{side}_norm"),
            F.col("canonical").alias(f"{side}_canon"),
        )
        out = out.join(comp, on=f"{side}_norm", how="left")
        out = out.withColumn(
            f"{side}_id",
            F.coalesce(
                F.col(f"{side}_kb"),
                F.concat(F.lit("ent:"), F.coalesce(F.col(f"{side}_canon"), F.col(f"{side}_norm"))),
            ),
        )
    return out


def materialize_graph(canonical: DataFrame) -> DataFrame:
    """Final (subj, pred, obj) edge table: dedup per (ids, url) keeping
    max confidence, canonical column order (TRIPLES_SCHEMA + ids).

    The surface-form tiebreak (two variants of one entity collapsing to
    the same ids at equal conf) is deterministic — ordered by the
    remaining columns — so the output is stable across partitionings,
    retries and engines (the single-node oracle mirrors the same
    ordering)."""
    w = Window.partitionBy("subj_id", "pred", "obj_id", "url").orderBy(
        F.desc("conf"), "subj", "subj_type", "obj", "obj_type"
    )
    return (
        canonical
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "subj", "subj_type", "pred", "obj", "obj_type", "url", "conf",
            "subj_id", "obj_id",
        )
    )


def write_graph(graph: DataFrame, target: str, fmt: str = "parquet") -> None:
    """Graph sink, pred-partitioned for predicate pruning; writer tasks
    are rebalanced on url and sized from the data by AQE, so a small
    graph writes one file per pred and a hot domain still spreads
    across writers (SURVEY.md §4). ``fmt="iceberg"`` writes to a
    catalog table via writeTo/overwritePartitions (sinks.write_table)."""
    from weak_supervision_for_ner_spark.sinks import write_table

    write_table(graph, target, fmt=fmt, partition_by=("pred",),
                bucket_col="url")
