"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

Everything is built-in-function SQL (codegen'd, zero Python) so the
DuckDB oracle can reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Tiny deterministic stopword profiles for n-gram-free language ID.
_LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "du"],
}


def _profile_hits(words_col, lang: str):
    profile = F.array(*[F.lit(w) for w in _LANG_PROFILES[lang]])
    return F.size(F.array_intersect(words_col, profile))


def language_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language guess: argmax over per-language hit
    counts of distinct lowercase tokens (greatest + chained when)."""
    df = documents.withColumn(
        "wrds", F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    )
    for lang in _LANG_PROFILES:
        df = df.withColumn(f"hits_{lang}", _profile_hits(F.col("wrds"), lang))
    best = F.greatest(*[F.col(f"hits_{l}") for l in _LANG_PROFILES])
    # deterministic tie-break: alphabetically-first language at the max
    expr = F.lit("und")
    for lang in sorted(_LANG_PROFILES, reverse=True):
        expr = F.when((best > 0) & (F.col(f"hits_{lang}") == best), F.lit(lang)).otherwise(expr)
    return documents.select("doc_id").join(
        df.select("doc_id", expr.alias("lang_guess")), "doc_id"
    )


def quality_scores(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features per doc: length, token count, mean
    token length, punctuation ratio, stopword ratio, digit ratio,
    uppercase ratio and a composite [0,1] score."""
    stop = F.array(*[F.lit(w) for w in _LANG_PROFILES["en"]])
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chars = F.length(text_col)
    n_tokens = F.when(F.length(F.trim(F.col(text_col))) == 0, 0).otherwise(F.size(toks))
    n_punct = n_chars - F.length(F.regexp_replace(text_col, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text_col, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text_col, r"[A-Z]", ""))
    n_stop = F.size(F.array_intersect(F.split(F.lower(F.col(text_col)), r"\s+"), stop))

    df = documents.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_token_len"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_digit / F.greatest(n_chars, F.lit(1)), 4).alias("digit_ratio"),
        F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4).alias("upper_ratio"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
    )
    score = (
        F.when(F.col("n_tokens") >= 5, 0.25).otherwise(0.0)
        + F.when((F.col("mean_token_len") >= 3) & (F.col("mean_token_len") <= 12), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.25).otherwise(0.0)
    )
    return df.withColumn("quality", F.round(score, 2))


def ws_token_count(text_col: str):
    """THE whitespace token-count expression (null text counts 0, like
    empty) — the single definition shared by token_counts and
    pack_shards so the tokenization contract cannot drift between the
    reported counts and the shard layout."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    return F.when(
        F.length(F.trim(txt)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(txt), r"\s+"))).cast("long")


def token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens plus a BPE-ish subword estimate
    (ceil(chars/4) is the classic approximation)."""
    return documents.select(
        "doc_id",
        ws_token_count(text_col).alias("ws_tokens"),
        F.ceil(F.length(text_col) / F.lit(4.0)).cast("long").alias("bpe_estimate"),
    )


def repetition_signals(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/RefinedWeb-style within-document repetition signals —
    the filters a training-data pipeline runs before anything
    model-based: (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_2gram_frac, flagged).

    - ``dup_line_frac``: fraction of non-empty lines that are repeats
      of an earlier line (1 - distinct/total).
    - ``dup_line_char_frac``: fraction of line characters inside those
      repeated occurrences (total line chars - distinct lines' chars).
    - ``top_2gram_frac``: occurrences of the most frequent word 2-gram
      over total 2-grams — computed narrowly as the longest equal-run
      in the SORTED 2-gram array (no per-doc map building).
    - ``flagged``: the Gopher-style rejection decision
      (dup_line_frac > 0.30 or dup_line_char_frac > 0.20 or
      top_2gram_frac > 0.20). The 2-gram rule only applies to docs
      with >= 20 2-grams: below that the ratio is floor-bounded by
      1/n_grams (a clean 4-token title scores 0.33), so short docs
      would ALL be rejected — Gopher likewise gates its repetition
      ratios behind a min-length filter.

    All pure built-ins/HOFs in ONE narrow projection — no UDF, no
    shuffle, no explode: at 100 TB this runs at scan speed. Cost is
    O(lines + ngrams log ngrams) per doc (array_sort dominates)."""
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: F.length(F.trim(x)) > 0
    )
    dlines = F.array_distinct(lines)
    # 64-bit accumulators: a long-seeded aggregate keeps multi-GB docs
    # (> 2^31 line chars) from wrapping the int32 sum (r5 advice)
    zero = F.lit(0).cast("long")
    chars = F.aggregate(lines, zero, lambda acc, x: acc + F.length(x).cast("long"))
    dchars = F.aggregate(dlines, zero, lambda acc, x: acc + F.length(x).cast("long"))
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # guard: sequence(1, 0) is DESCENDING in Spark, so short docs need
    # an explicit empty-array branch
    grams = F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            )
        )
    )
    # longest equal-adjacent run in the sorted array = top 2-gram count
    runs = F.zip_with(grams, F.slice(grams, 2, F.greatest(F.size(grams) - 1, F.lit(0))),
                      lambda a, b: (a == b).cast("int"))
    top_run = F.aggregate(
        runs,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            (F.when(x == 1, acc["cur"] + 1).otherwise(0)).alias("cur"),
            F.greatest(acc["best"], F.when(x == 1, acc["cur"] + 1).otherwise(0)).alias("best"),
        ),
        lambda acc: acc["best"] + 1,
    )
    out = documents.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.round(
            (F.size(lines) - F.size(dlines)) / F.greatest(F.size(lines), F.lit(1)), 4
        ).alias("dup_line_frac"),
        F.round((chars - dchars) / F.greatest(chars, F.lit(1)), 4)
        .alias("dup_line_char_frac"),
        F.round(
            F.when(F.size(grams) == 0, 0.0).otherwise(top_run / F.size(grams)), 4
        ).alias("top_2gram_frac"),
        F.size(grams).cast("long").alias("_n_2grams"),
    )
    return out.withColumn(
        "flagged",
        (F.col("dup_line_frac") > 0.30)
        | (F.col("dup_line_char_frac") > 0.20)
        | ((F.col("top_2gram_frac") > 0.20) & (F.col("_n_2grams") >= 20)),
    ).drop("_n_2grams")


def filtered_tokens(col, lower: bool = True):
    """Empty-filtered whitespace tokens — THE canonical tokenization
    for the n-gram window operators (an empty/whitespace text yields
    an EMPTY array, never ['']). ``lower=False`` keeps original case
    with IDENTICAL positions (lowercasing cannot create or destroy
    \\s+ boundaries), for callers that hash a lowercased view but
    rebuild original text (mask_repeated_spans)."""
    if lower:
        col = F.lower(col)
    return F.filter(
        F.split(F.trim(col), r"\s+"), lambda x: x != F.lit("")
    )


def hashed_token_windows(toks_col, n: int, short_doc: str = "none"):
    """xxhash64 over every ``n``-token window of a token-array column,
    as an array<bigint> — THE shared window machinery of decontaminate
    and mask_repeated_spans (one definition of the collision-bound
    idiom, so fixes propagate). ``short_doc``: what texts with 1..n-1
    tokens contribute — "full" (their whole sequence as one window;
    decontaminate's containment rule) or "none" (no windows;
    span masking has nothing to mask below the span length). Empty
    token arrays always contribute nothing. sequence(1, 0) is
    DESCENDING in Spark, hence the explicit branch structure."""
    nwin = F.size(toks_col) - (n - 1)
    out = F.when(
        nwin >= 1,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks_col, i, n))),
        ),
    )
    if short_doc == "full":
        out = out.when(
            F.size(toks_col) > 0,
            F.array(F.xxhash64(F.concat_ws(" ", toks_col))),
        )
    elif short_doc != "none":
        raise ValueError(f"short_doc must be 'full' or 'none', got {short_doc!r}")
    return out.otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    documents: DataFrame, probes: DataFrame, n: int = 8,
    text_col: str = "text", probe_text_col: str = "text",
    probe_join: str = "auto",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram-overlap rule):
    flag every document sharing an ``n``-token window with any probe
    (benchmark/eval) text. Returns (doc_id, n_hits, contaminated) —
    n_hits counts the doc's matching windows, so contamination volume
    is observable, never a silent drop.

    Shape at 100 TB: probe n-grams are DISTINCT-ed and hashed to
    xxhash64, document windows explode as 8-byte hashes only (never
    the n-token strings), meet the probes in a semi-join inside the
    scan stage, and only the tiny per-doc hit counts aggregate.
    ``probe_join`` picks the join strategy for the probe side:

    - ``"auto"`` (default): no hint — AQE sizes the distinct-ed probe
      table at runtime and converts the semi-join to broadcast when it
      fits (benchmark suites — thousands of docs — always do), or
      keeps the shuffle join when a caller passes a corpus-sized probe
      set, where an unconditional broadcast would OOM the executors;
    - ``"broadcast"``: force the broadcast hint (the pre-r6
      behaviour) for probe sets known tiny at plan time;
    - ``"shuffle"``: force the shuffle-hash path, for tests and for
      probe sets known corpus-sized.

    A 64-bit hash collision over-flags one clean doc per
    ~2^64 window-probe pairs — the conservative direction for
    decontamination (documented, same bound family as the hashed
    boilerplate key). Texts shorter than ``n`` tokens (probe or doc)
    contribute their full token sequence as one window, so a sub-n
    probe only flags docs whose full windows equal it exactly —
    standard suites use probes >= n, where containment is complete.
    Empty/whitespace-only texts contribute no windows at all."""

    def windows(col):
        # short_doc="full": a sub-n probe/doc contributes its whole
        # token sequence; empty/whitespace-only texts contribute NO
        # windows (blank probe rows would otherwise flag every blank
        # document via the ''-window hash — r5 review)
        return hashed_token_windows(filtered_tokens(col), n, short_doc="full")

    probe_grams = (
        probes.select(F.explode(windows(F.col(probe_text_col))).alias("gh"))
        .distinct()
    )
    if probe_join == "broadcast":
        probe_grams = F.broadcast(probe_grams)
    elif probe_join == "shuffle":
        probe_grams = probe_grams.hint("shuffle_hash")
    elif probe_join != "auto":
        raise ValueError(
            f"probe_join must be auto|broadcast|shuffle, got {probe_join!r}"
        )
    doc_grams = documents.select(
        "doc_id", F.explode(windows(F.col(text_col))).alias("gh")
    )
    hits = (
        doc_grams.join(probe_grams, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def cap_per_domain(
    documents: DataFrame, k: int, key_col: str = "source",
    order_col: str = "n_chars", id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Per-domain document cap (the FineWeb/CCNet guard against one
    crawl domain dominating the corpus): keep at most ``k`` docs per
    ``key_col``, preferring higher ``order_col`` (quality proxy), ties
    broken by ascending id so the survivor set is deterministic.
    Output adds ``domain_rank`` (1-based) so the cap is observable.

    Salted two-level top-k (r5 verdict item #5): a plain
    ``row_number() over (partition by domain)`` funnels every row of a
    hot domain through ONE task — and a mega-domain is exactly the
    input this operator exists for. Instead:

    1. partial top-k per (domain, salt) where salt =
       pmod(xxhash64(id), n_salts) — the hot domain's rows spread over
       ``n_salts`` tasks, each keeping at most k candidates;
    2. final top-k per domain over the <= n_salts*k survivors.

    Output is provably identical to the single-window form: any row in
    the global top-k of its domain is necessarily in the top-k of its
    salt bucket (its bucket holds a subset of the domain's rows), so
    stage 1 never discards a final survivor. The ordering
    (desc order_col, asc id) is total when ids are unique, so ranks
    are deterministic regardless of salting. Cost: two shuffles, but
    the second moves at most n_salts*k rows per domain — at 100 TB the
    first-stage spread is what keeps a crawl-policy-defying mega
    domain from pinning one executor. ``n_salts=1`` degenerates to the
    single-window plan for tiny inputs."""
    order = (F.desc(order_col), F.asc(id_col))
    if n_salts > 1:
        w1 = Window.partitionBy(key_col, "_salt").orderBy(*order)
        documents = (
            documents
            .withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)))
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .drop("_salt", "_r1")
        )
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        documents
        .withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= k)
    )


def _form_counts(documents: DataFrame, text_col: str) -> DataFrame:
    """(lform, form, n): corpus counts of every alphabetic
    whitespace-split form, keyed by its lowercase."""
    return (
        documents
        .select(F.explode(F.split(F.col(text_col), r"\s+")).alias("form"))
        .filter(F.length("form") > 0)
        .filter(F.col("form").rlike(r"^[A-Za-z]+$"))
        .groupBy(F.lower(F.col("form")).alias("lform"), F.col("form"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def form_frequencies(documents: DataFrame, text_col: str = "text",
                     min_count: int = 2) -> DataFrame:
    """Corpus-level casing statistics: for every lowercase form, the
    majority surface casing and counts. This is the Spark-built
    replacement for the reference's static ``form_frequencies.json``
    (spacy_wrapper.py:67-69) feeding the truecasing pass — at scale the
    dictionary is *derived from the corpus itself* with one groupBy,
    then broadcast back."""
    from pyspark.sql import Window

    counts = _form_counts(documents, text_col)
    totals = counts.groupBy("lform").agg(F.sum("n").alias("n_total"))
    w = Window.partitionBy("lform").orderBy(F.desc("n"), F.asc("form"))
    majority = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lform", F.col("form").alias("majority_form"), F.col("n").alias("n_majority"))
    )
    return (
        majority.join(totals, "lform")
        .filter(F.col("n_total") >= min_count)
        .select("lform", "majority_form", "n_majority", "n_total")
    )


def collect_form_frequency_dict(
    documents: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    max_entries: int = 500_000,
) -> dict[str, dict[str, int]]:
    """Driver-side casing dictionary ``{lform: {form: count}}`` feeding
    the truecasing pass (functions/truecase.py) — the corpus-derived
    replacement for the reference's static ``form_frequencies.json``.

    Scale design: the vocabulary of alphabetic forms grows ~O(sqrt)
    with corpus size (Heaps' law), and the collect is capped at
    ``max_entries`` lowercase forms ordered by corpus frequency, so the
    broadcast stays bounded (~tens of MB) even at 100 TB. Forms seen
    fewer than ``min_count`` times carry no reliable casing signal and
    are dropped before the cap.
    """
    kept = (
        _form_counts(documents, text_col).groupBy("lform")
        .agg(
            F.sum("n").alias("n_total"),
            F.map_from_entries(F.collect_list(F.struct("form", "n"))).alias("forms"),
        )
        .filter(F.col("n_total") >= min_count)
        .orderBy(F.desc("n_total"), F.asc("lform"))
        .limit(max_entries)
        .select("lform", "forms")
        .collect()
    )
    return {row["lform"]: dict(row["forms"]) for row in kept}


def unigram_logprob(
    documents: DataFrame, text_col: str = "text",
    lm: DataFrame | None = None, oov_logprob: float | None = None,
) -> DataFrame:
    """CCNet-style language-model quality ordering, unigram edition:
    (doc_id, n_tokens, avg_logprob, ppl) where ``avg_logprob`` is the
    mean natural-log probability of the doc's tokens under an add-one-
    smoothed unigram model and ``ppl = exp(-avg_logprob)``. Low-ppl
    docs read like the corpus; high-ppl docs are noise/gibberish —
    sort by ppl and threshold, exactly how CCNet buckets Common Crawl
    (there with a KenLM 5-gram; the unigram form is the same pipeline
    shape minus the external model artifact, and the ``lm`` parameter
    is the seam where a real LM table plugs in).

    ``lm``: optional external model table (token string column ``tok``,
    ``logprob`` double) — e.g. derived from a clean reference corpus by
    this same function's companion aggregation. Tokens absent from
    ``lm`` score ``oov_logprob`` (required with ``lm``; the external
    vocabulary cannot cover the corpus). Default ``lm=None``
    self-derives the model from ``documents`` itself, where OOV cannot
    occur (every scored token is in the counts by construction).

    Shape at 100 TB: token counts are one partial-aggregated groupBy;
    scoring is explode → join(token) → per-doc mean — the standard
    LM-scoring join. Hot tokens ('the') skew the join key; AQE's
    skew-join splitting handles exactly this (the counts side is one
    row per hot key, so splitting the probe side is safe), and the
    counts table itself is vocabulary-sized, usually broadcastable —
    left to AQE's runtime sizing, same policy as decontaminate."""
    toks = documents.select(
        "doc_id", F.explode(filtered_tokens(F.col(text_col))).alias("tok"))
    if lm is None:
        # fully lazy: the (n_total, vocab) scalars ride in as a
        # broadcast single-row cross join instead of an eager collect
        # (plan-only callers pay nothing — the drop_boilerplate rule).
        # Self-derivation scans the corpus twice (count, then score);
        # at real scale derive the lm table once per corpus snapshot
        # and pass it in, same policy as the truecase dictionary.
        counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
        tot = counts.agg(F.sum("c").alias("n_total"),
                         F.count(F.lit(1)).alias("vocab"))
        lm = counts.crossJoin(F.broadcast(tot)).select(
            "tok",
            F.log((F.col("c") + 1.0)
                  / (F.col("n_total") + F.col("vocab")).cast("double"))
            .alias("logprob"),
        )
        oov_logprob = None          # unreachable: model covers the corpus
    elif oov_logprob is None:
        raise ValueError("external lm requires oov_logprob (its vocabulary "
                         "cannot cover the corpus; silent drops would bias "
                         "scores upward)")
    scored = toks.join(lm, "tok", "left")
    if oov_logprob is not None:
        scored = scored.withColumn(
            "logprob", F.coalesce("logprob", F.lit(float(oov_logprob))))
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("logprob").alias("avg_logprob"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.round(F.coalesce("avg_logprob", F.lit(0.0)), 6).alias("avg_logprob"),
            F.round(
                F.when(F.col("n_tokens").isNull(), 0.0)
                .otherwise(F.exp(-F.col("avg_logprob"))), 4
            ).alias("ppl"),
        )
    )


def fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable document fingerprints: full-text md5 plus a
    normalized-content md5 (lowercase, collapsed whitespace) that
    survives formatting changes — the rolling-hash analogue."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return documents.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("md5_exact"),
        F.md5(F.trim(norm)).alias("md5_normalized"),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data pipeline op: scrub a pretraining corpus
# before tokenization). Pure built-ins — regexp_replace chains run in
# whole-stage codegen, and the patterns stay within the regex subset
# Java (Spark) and RE2 (DuckDB) interpret identically so the driver
# oracle can reproduce the scrub byte-for-byte.
# ---------------------------------------------------------------------------

# applied IN THIS ORDER (emails contain dots that would otherwise feed
# the looser patterns; order must match any reimplementation exactly)
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d\- ]{7,}\d", "<PHONE>"),
)


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails, IPv4 addresses and international-format phone
    numbers from ``text_col``: (doc_id, redacted, n_email, n_ipv4,
    n_phone). Counts are per-doc match counts BEFORE scrubbing, so the
    redaction volume is observable in lineage, never silent.

    One codegen'd projection — no UDF, no shuffle; at 100 TB this is a
    pure map over the corpus scan. Catalyst collapses the chained
    withColumns below into a SINGLE Project (asserted by the plan-audit
    test), so the corpus is read once; the per-row cost is one regex
    automaton traversal per pattern per direction, which is inherent —
    a single alternation pass cannot emit per-type replacement tokens
    without a UDF, and counts must run on the ORIGINAL text (Spark
    desugars regexp_count to size(regexp_extract_all), so the two
    count forms are the same physical expression). The
    conservative phone pattern (+-prefixed, >= 9 digits/separators)
    trades recall for a near-zero false-positive rate on numerics-heavy
    web text; swap patterns per policy, keeping to the Java∩RE2 regex
    subset if the DuckDB oracle must keep certifying the scrub."""
    out = documents.select(F.col("doc_id"), F.col(text_col).alias("redacted"))
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(
            F.regexp_count("redacted", F.lit(pattern)).alias(f"n_{name}")
        )
    # counts computed on the ORIGINAL text (sequentially-scrubbed text
    # would hide overlaps), scrub applied in declared order
    out = out.select("doc_id", "redacted", *counts)
    for name, pattern, token in PII_PATTERNS:
        out = out.withColumn("redacted", F.regexp_replace("redacted", pattern, token))
    return out.select("doc_id", "redacted", "n_email", "n_ipv4", "n_phone")
