"""Document deduplication suite for large-scale training-data pipelines.

All variants operate on a ``documents(doc_id, text, ...)`` table and
stay JVM-side (built-in functions, whole-stage codegen) except the
embedding path which uses vectorized array functions.

Variants:
  - exact:        md5(text) groupBy (hash is portable -> SQL oracle)
  - ngram_jaccard: word n-gram shingles, candidate pairs by shared
                   shingle, exact Jaccard filter (SQL-expressible)
  - minhash_lsh:  per-permutation minhash = lexicographic MIN of
                   md5(seed||shingle) — portable across Spark and
                   DuckDB, so the oracle can reproduce signatures
                   exactly; banding via concatenated signature slices
  - simhash:      64-bit fingerprint from md5 bits, hamming-distance
                   buckets
  - embedding:    cosine near-dup over array<float> embeddings

Scale notes: every pipeline shuffles once on the blocking key
(hash / shingle / band / bucket); frequent-shingle blocking keys are
capped to avoid quadratic mega-buckets (documented drop counters).

LSH bucketing and components live here once (``band_rows``,
``_cap_buckets``, ``star_edges``, ``connected_components``); the
graph's canonicalization (``triples.canonicalize_triples``) reuses them.

PAIR-form vs FILTER-form: the ``*_pairs`` operators REPORT candidate/
duplicate pairs, which is inherently quadratic in the size of an
identical-document group — run ``drop_exact_duplicates`` first on
corpora that may contain byte-identical mega-groups. The corpus-
filtering forms (``drop_exact_duplicates`` / ``drop_near_duplicates``)
do that collapse internally and use star edges, so they never
materialize a quadratic intermediate; they are the operators to run at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T


def exact_duplicates(
    documents: DataFrame, text_col: str = "text", id_sample_cap: int = 100
) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_docs, doc_ids).

    ``doc_ids`` holds at most the ``id_sample_cap`` SMALLEST member ids
    of each group; ``n_docs`` always carries the exact group size, so a
    truncated sample is observable (n_docs > len(doc_ids)), never
    silent. An unbounded ``collect_list`` here would OOM the agg buffer
    on a boilerplate mega-group (billions of empty pages at 100 TB), so
    members are rank-limited BEFORE collection: one shuffle on the text
    hash (the window and the groupBy share the partitioning — Catalyst
    reuses the exchange), bounded agg buffers everywhere."""
    hashed = documents.select(
        F.col("doc_id"), F.md5(F.col(text_col)).alias("text_hash")
    )
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        hashed
        .withColumn("_rn", F.row_number().over(w))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # collect_list skips NULLs -> at most id_sample_cap entries
            # ever enter the buffer; sort for deterministic output
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= id_sample_cap, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def word_shingles(documents: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) long table of word n-grams — pure built-ins."""
    toks = documents.select(
        "doc_id", F.split(F.col(text_col), r"\s+").alias("w")
    )
    return (
        toks
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("w") - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.8, n: int = 3,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via shared-shingle blocking:
    one shuffle on shingle, one aggregation on (a, b).

    ``max_shingle_freq`` drops ubiquitous shingles from *blocking*
    (boilerplate guard) — recall is unaffected as long as any
    non-ubiquitous shingle is shared.

    Not fully lazy: for integral ids, building the plan runs one eager
    Spark job (the doc_id min/max probe that gates the packed pair key)."""
    sh = word_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    blocked = sh.join(freq.filter(F.col("df") <= max_shingle_freq), "shingle")

    left = blocked.select(F.col("doc_id").alias("a"), "shingle")
    right = blocked.select(F.col("doc_id").alias("b"), "shingle")
    pairs = left.join(right, "shingle").filter(F.col("a") < F.col("b"))
    # Pack the pair key into ONE 8-byte long when ids provably fit
    # (guide §2.3 "narrower types"): the candidate-pair aggregation is
    # this operator's dominant cost (127M rows / 114M groups at sf1.0)
    # and halving the grouping key's width + hashing one column was
    # measured at -15% wall (24.2s -> 20.7s same box, identical rows).
    # One cheap min/max probe guards the bijection: ids outside
    # [0, 2^31) keep the plain two-column aggregation, and so do
    # non-integral ids (strings do not pack; fractional doubles would
    # truncate and collide). The unpacked ids are cast back to the
    # input dtype, so the output schema is unchanged on either path.
    id_type = documents.schema["doc_id"].dataType
    packable = isinstance(id_type, T.IntegralType)
    if packable:
        id_range = documents.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        packable = (
            id_range is not None and id_range["lo"] is not None
            and id_range["lo"] >= 0 and id_range["hi"] < (1 << 31)
        )
    if packable:
        inter = (
            pairs.select(
                (F.col("a").cast("long") * F.lit(1 << 32)
                 + F.col("b").cast("long")).alias("ab")
            )
            .groupBy("ab")
            .agg(F.count(F.lit(1)).alias("inter"))
            .select(
                F.shiftright("ab", 32).cast(id_type).alias("a"),
                F.col("ab").bitwiseAND(F.lit((1 << 32) - 1)).cast(id_type).alias("b"),
                "inter",
            )
        )
    else:
        inter = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def band_rows(frame: DataFrame, id_col: str, band_keys: list) -> DataFrame:
    """LSH banding: ``(id_col, band, key)``, one row per band of every
    input row, where ``band_keys[b]`` is band b's bucket-key expression.
    One explode of a struct array — a bands-way union would re-read (or
    at best ReuseExchange) the signature subtree once per band."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(band_keys)
    ])
    return frame.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, "bk.band", "bk.key"
    )


def _cap_buckets(
    banded: DataFrame, max_bucket: int | None, stats: dict | None,
) -> DataFrame:
    """Drop (band, key) buckets with more than ``max_bucket`` member
    rows (boilerplate mega-bucket guard). The windowed count shuffles on
    the bucket key the pair self-join or the star-edge window uses next,
    so Catalyst reuses the exchange — no extra shuffle in the capped
    plan. ``stats`` (optional dict) receives
    ``dropped_buckets``/``dropped_members`` from one extra small job."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy("band", "key")
    sized = banded.withColumn("_sz", F.count(F.lit(1)).over(w))
    if stats is not None:
        dropped = (
            sized.filter(F.col("_sz") > max_bucket)
            .groupBy("band", "key").agg(F.first("_sz").alias("sz"))
            .agg(F.count(F.lit(1)).alias("nb"),
                 F.coalesce(F.sum("sz"), F.lit(0)).alias("nm"))
            .collect()[0]
        )
        stats["dropped_buckets"] = int(dropped["nb"])
        stats["dropped_members"] = int(dropped["nm"])
    return sized.filter(F.col("_sz") <= max_bucket).drop("_sz")


def _bucket_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Every (a, b), a < b, sharing at least one (band, key) bucket:
    the intra-bucket self-join, quadratic in a bucket's size."""
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def star_edges(banded: DataFrame, id_col: str) -> DataFrame:
    """Bucket edges (a, b) with the components of the full intra-bucket
    cliques: every member links to its bucket's SMALLEST id, so a
    B-member bucket emits B-1 edges instead of B(B-1)/2. The hub is ONE
    window; groupBy min + join back shuffles the banded table twice and
    measured slower, even under a 100k-member mega-bucket (20.6s vs
    14.3s, scripts/skew_bench.py)."""
    w = Window.partitionBy("band", "key")
    return (
        banded
        .withColumn("hub", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("hub"))
        .select(F.col("hub").alias("a"), F.col(id_col).alias("b"))
        .distinct()
    )


def _release(checkpointed: DataFrame) -> None:
    """Free a localCheckpoint's blocks now, not at the JVM's next GC."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(pairs: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Exact components of an undirected pair list (a, b): (name,
    canonical) per node, canonical = the component's smallest id,
    materialized (localCheckpoint) so callers may join it twice.

    Each round propagates the smallest neighbour label, then
    POINTER-JUMPS (canonical <- label[canonical]), so rounds grow with
    log2(diameter); a round changing no label ends the loop.
    ``max_rounds`` is a safety cap (30 covers diameters beyond 2^30):
    hitting it raises — components are never returned split. The edge
    cache and every round's tables but the returned one are released,
    also on raise."""
    # Symmetric edges from ONE explode pass, not a self-union (a
    # self-union of an uncached upstream computes it twice in one job).
    edges = (
        pairs.select(
            F.explode(F.array(
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("b").alias("x"), F.col("a").alias("y")),
            )).alias("e")
        )
        .select("e.x", "e.y")
    ).persist()
    try:
        edges.count()  # materialize once: the rounds re-scan the cache
        labels = (
            edges.groupBy("x").agg(F.min("y").alias("min_y"))
            .select(F.col("x").alias("name"),
                    F.least(F.col("min_y"), F.col("x")).alias("canonical"))
        ).localCheckpoint()
        for _ in range(max_rounds):
            # propagate: new label = min over neighbours' labels and own
            neigh = (
                edges.join(labels.withColumnRenamed("name", "y"), on="y")
                .groupBy("x").agg(F.min("canonical").alias("n_min"))
            )
            # materialized BEFORE the pointer-jump self-join — uncached,
            # that self-join would run the edge join twice in one action
            propagated = (
                labels.join(neigh.withColumnRenamed("x", "name"), on="name", how="left")
                .select("name", F.least(
                    F.col("canonical"), F.coalesce("n_min", "canonical")
                ).alias("canonical"))
            ).localCheckpoint()
            # Pointer jumping (path halving): every canonical id is
            # itself a node (it came from some node's min), so the left
            # join finds at most one row; least() guards identity rows.
            jump = propagated.select(
                F.col("name").alias("canonical"), F.col("canonical").alias("jc")
            )
            new_labels = (
                propagated.join(jump, on="canonical", how="left")
                .select("name", F.least(
                    F.col("canonical"), F.coalesce("jc", "canonical")
                ).alias("canonical"))
            ).localCheckpoint()
            _release(propagated)
            changed = (
                new_labels.alias("n").join(labels.alias("o"), on="name")
                .filter(F.col("n.canonical") != F.col("o.canonical"))
                .limit(1).count()
            )
            _release(labels)
            labels = new_labels
            if changed == 0:
                return labels
        _release(labels)
    finally:
        edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge within {max_rounds} rounds;"
        " raise max_rounds (component diameter exceeds the budget)"
    )


def minhash_signature_table(
    documents: DataFrame, n_hashes: int = 8, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, h0..h{k-1}) — each h_i = MIN(md5(i || shingle)), a
    string-valued minhash that DuckDB reproduces bit-for-bit."""
    sh = word_shingles(documents, n, text_col)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.lit("|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_bands(documents: DataFrame, n_hashes: int, bands: int, n: int,
                   text_col: str) -> DataFrame:
    """(doc_id, band, key), a band's key joining its signature slice."""
    rows = n_hashes // bands
    return band_rows(minhash_signature_table(documents, n_hashes, n, text_col), "doc_id", [
        F.concat_ws("#", *[F.col(f"h{i}") for i in range(b * rows, (b + 1) * rows)])
        for b in range(bands)
    ])


def minhash_lsh_pairs(
    documents: DataFrame, n_hashes: int = 8, bands: int = 4, n: int = 3,
    verify_threshold: float | None = None, text_col: str = "text",
    max_bucket: int | None = None, stats: dict | None = None,
) -> DataFrame:
    """Near-dup candidate pairs: band the minhash signature, groupBy
    (band, key), intra-bucket pairs. Optional exact-Jaccard verify.

    ``max_bucket`` (the canonicalization's contract too): buckets
    with more members are DROPPED before the quadratic self-join — the
    skew guard for boilerplate mega-buckets. Default None keeps the
    pairs-form's documented exhaustive-within-bucket semantics (and
    oracle parity). Pass ``stats`` (a dict) to have drops COUNTED into
    ``dropped_buckets``/``dropped_members`` via one small extra job, so
    truncation is observable in lineage instead of silent."""
    banded = _cap_buckets(
        _minhash_bands(documents, n_hashes, bands, n, text_col), max_bucket, stats
    )
    pairs = _bucket_pairs(banded, "doc_id")
    if verify_threshold is not None:
        exact = ngram_jaccard_pairs(documents, threshold=verify_threshold, n=n)
        pairs = pairs.join(exact.select("a", "b"), ["a", "b"], "left_semi")
    return pairs


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits a signed BIGINT so the
#                    DuckDB oracle reproduces fingerprints bit-for-bit.
_PACK_FIELDS = 3   # bits packed per accumulator
_PACK_WIDTH = 20   # bit-width of each packed popcount field


def simhash_table(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit simhash per doc from token md5s: bit b of the fingerprint
    is set iff more tokens have bit b of md5(token) set than unset
    (ties -> 0).

    Packed-popcount aggregation: instead of 60 separate ``sum(when)``
    agg columns (which bloated codegen to ~2 MB task binaries), each
    accumulator packs 3 per-bit popcounts into 20-bit fields of one
    BIGINT — 20 agg buffers + 1 token count. Supports docs up to
    2^20-1 = 1,048,575 tokens (several MB of text); longer docs would
    overflow a packed field, so their fingerprint is emitted as NULL
    (detected from the exact token count) rather than silently
    corrupted — chunk such inputs upstream.
    """
    toks = (
        documents
        .select("doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    )
    n_groups = SIMHASH_BITS // _PACK_FIELDS
    aggs = [F.count(F.lit(1)).alias("n_toks")]
    for g in range(n_groups):
        expr = None
        for k in range(_PACK_FIELDS):
            b = g * _PACK_FIELDS + k
            term = (
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
                * F.lit(1 << (_PACK_WIDTH * k))
            )
            expr = term if expr is None else expr + term
        aggs.append(F.sum(expr).alias(f"g{g}"))
    agg = toks.groupBy("doc_id").agg(*aggs)
    field_mask = (1 << _PACK_WIDTH) - 1
    fingerprint = F.lit(0).cast("long")
    for g in range(n_groups):
        for k in range(_PACK_FIELDS):
            b = g * _PACK_FIELDS + k
            ones = F.shiftright(F.col(f"g{g}"), _PACK_WIDTH * k).bitwiseAND(F.lit(field_mask))
            # majority: ones > zeros  <=>  2*ones > n_toks
            fingerprint = fingerprint + F.when(
                ones * 2 > F.col("n_toks"), F.lit(1 << b)
            ).otherwise(F.lit(0))
    fingerprint = F.when(
        F.col("n_toks") < F.lit(1 << _PACK_WIDTH), fingerprint
    ).otherwise(F.lit(None))
    return agg.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_near_pairs(
    documents: DataFrame, max_hamming: int = 3, n_chunks: int | None = None
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= ``max_hamming``.

    Blocking guarantee (pigeonhole): the 60-bit fingerprint is split
    into ``n_chunks`` contiguous chunks; two fingerprints within
    hamming distance d < n_chunks must agree on at least one whole
    chunk, so bucketing on (chunk_index, chunk_value) has PERFECT
    recall iff ``n_chunks >= max_hamming + 1`` (the round-1 version ran
    4 chunks at max_hamming=10 and silently missed spread-bit pairs).
    ``n_chunks`` defaults to ``max_hamming + 1``. Chunks narrower than
    8 bits make buckets so coarse the join degenerates toward all-pairs,
    so that is rejected — lower max_hamming or verify exactly instead.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks < max_hamming + 1:
        raise ValueError(
            f"n_chunks={n_chunks} cannot guarantee recall at max_hamming={max_hamming}"
            f" (need >= {max_hamming + 1})"
        )
    width = SIMHASH_BITS // n_chunks
    if width < 8:
        raise ValueError(
            f"{n_chunks} chunks of a {SIMHASH_BITS}-bit fingerprint are {width} bits wide;"
            " blocking keys under 8 bits degenerate to all-pairs — use a smaller"
            " max_hamming or an exact verify stage"
        )
    sh = simhash_table(documents)
    # single-pass chunking (explode, not an n_chunks-way union that
    # would re-derive the fingerprint aggregation per chunk); the last
    # chunk absorbs the remainder bits
    chunk_structs = []
    for c in range(n_chunks):
        hi = SIMHASH_BITS if c == n_chunks - 1 else (c + 1) * width
        mask = (1 << (hi - c * width)) - 1
        chunk_structs.append(
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
        )
    chunks = sh.select(
        "doc_id", "simhash", F.explode(F.array(*chunk_structs)).alias("ck")
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    # MERGE hint (r7): left to the planner, the self-join broadcasts
    # one side, whose build is a SECOND full computation of the token
    # explode + fingerprint aggregation (the broadcast subtree cannot
    # reuse the other side's shuffle stage). Forcing a shuffle join
    # makes both sides identical exchange subtrees — computed once,
    # reused (guide §2.4) — and sort-merge spills gracefully under a
    # mega-bucket. Measured at sf1.0: 4.0s -> 2.1s, same rows.
    pairs = (
        chunks.alias("l").join(chunks.alias("r").hint("merge"), ["chunk", "key"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
            F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    return pairs


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.95, id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16, bands: int = 8, dim: int | None = None, seed: int = 42,
    max_bucket: int | None = None, stats: dict | None = None,
) -> DataFrame:
    """Cosine >= threshold near-duplicate pairs.

    Random-hyperplane sign bits split into ``bands`` bands of
    ``n_planes/bands`` planes; candidate pairs form only inside a
    shared (band, key) bucket — ONE shuffle on the bucket key instead
    of an all-pairs crossJoin. The candidate ids are deduped across
    bands, re-joined to their vectors, then exactly re-ranked by
    cosine, so precision is exact and recall is
    P[share >= 1 band] = 1-(1-(1-theta/pi)^r)^bands — with the defaults
    (r=2, bands=8) that is >99.9% at cosine 0.8 and ~1-2e-6 at 0.95.
    Norms are clamped as in ``similarity``, so a zero vector scores 0.

    ``max_bucket``/``stats``: drop (band, key) buckets larger than
    ``max_bucket`` before the candidate self-join, with drops counted
    into ``stats`` — the same mega-bucket contract as
    ``minhash_lsh_pairs``. Default None = uncapped (oracle parity).
    """
    from weak_supervision_for_ner_spark.operators.similarity import (
        _clamped_norm,
        _dot_pair,
        hyperplane_bucket,
        random_hyperplanes,
    )

    if n_planes % bands != 0:
        raise ValueError(f"n_planes={n_planes} must divide into bands={bands}")
    r = n_planes // bands
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"]) if first else 0
    planes = random_hyperplanes(dim, n_planes, seed)
    banded = band_rows(embeddings, id_col, [
        hyperplane_bucket(vec_col, planes[b * r : (b + 1) * r])
        for b in range(bands)
    ])
    cand_ids = _bucket_pairs(_cap_buckets(banded, max_bucket, stats), id_col)
    # re-join vectors for the exact re-rank (ids only travel through
    # the bucket shuffle; vectors are fetched twice by key)
    def side(name: str):
        return embeddings.select(F.col(id_col).alias(name), F.col(vec_col).alias(f"v{name}"),
                                 _clamped_norm(vec_col).alias(f"n{name}"))

    # HOF dot on purpose: the unrolled _dot_pair(..., dim) was slower here
    cosine = _dot_pair("va", "vb", None) / (F.col("na") * F.col("nb"))
    return (
        cand_ids.join(side("a"), "a").join(side("b"), "b")
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
    )


def drop_exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The corpus-filtering form of exact dedup: keep the smallest
    doc_id of every byte-identical group. One shuffle on the text hash
    (window min over md5 groups), then a filter — no join back."""
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        documents
        .withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )


def minhash_lsh_star_edges(
    documents: DataFrame, n_hashes: int = 8, bands: int = 4, n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Connectivity-preserving minhash-LSH candidate edges: the
    :func:`star_edges` of the banded signatures, so a B-member
    boilerplate mega-bucket emits B-1 edges instead of B(B-1)/2 — the
    difference between a window function and an OOM at 100 TB."""
    return star_edges(_minhash_bands(documents, n_hashes, bands, n, text_col), "doc_id")


def drop_near_duplicates(
    documents: DataFrame, n_hashes: int = 8, bands: int = 4, n: int = 3,
    max_rounds: int = 30, text_col: str = "text",
) -> DataFrame:
    """Near-dup corpus filtering: exact-dup pre-collapse → minhash-LSH
    star edges → connected components (smallest doc_id wins) → keep
    only component representatives. This is the operator a
    training-data pipeline actually runs at 100 TB, and every stage is
    mega-bucket-proof:

    - byte-identical groups (billions of empty/boilerplate pages)
      collapse FIRST via one window over the text hash, so they never
      reach LSH as a bucket of identical signatures — the survivor
      carries the group (identical text => identical signature =>
      identical connectivity, so the final survivor set is unchanged);
    - candidate edges are per-bucket STARS (member -> bucket min),
      which have the same connected components as the full cliques at
      O(bucket) instead of O(bucket^2) edges;
    - components converge in O(log diameter) rounds (pointer jumping).

    ``max_rounds`` is a SAFETY CAP, not the expected round count —
    30 rounds cover diameters beyond 2^30. Hitting the cap still
    raises: dropping survivors because propagation stopped early would
    silently lose training data."""
    collapsed = drop_exact_duplicates(documents, text_col)
    edges = minhash_lsh_star_edges(collapsed, n_hashes, bands, n, text_col)
    components = connected_components(edges, max_rounds=max_rounds)
    losers = components.filter(F.col("name") != F.col("canonical")).select(
        F.col("name").alias("doc_id")
    )
    return collapsed.join(losers, "doc_id", "left_anti")


def mask_repeated_spans(
    documents: DataFrame, span_tokens: int = 8, min_count: int = 2,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup at the span level (the Lee et al.
    'Deduplicating Training Data' step, RefinedWeb's exact-substring
    pass): mask every token covered by a ``span_tokens``-token window
    whose text occurs >= ``min_count`` times ANYWHERE in the corpus
    (including within one document). Returns (doc_id, cleaned,
    n_tokens, n_masked) — cleaned is the surviving tokens re-joined
    with single spaces, and the masked volume stays observable.

    Divergence from the reference algorithm, by design: Lee et al.
    keep ONE occurrence of each duplicated span; choosing the survivor
    needs a global total order over occurrences, which costs an extra
    corpus-wide sort for no measurable training benefit — large-scale
    pipelines (RefinedWeb) drop all occurrences, as here.

    NORMALIZATION CONTRACT: window matching is case-insensitive (the
    hash input is lowercased), but ``cleaned`` is rebuilt from the
    ORIGINAL-case tokens — the split/filter rule is identical for both
    token streams, so positions line up exactly and casing survives
    (r5 advice: a dedup pass must not rewrite the corpus's casing).
    Whitespace IS still normalized: runs of whitespace (including
    newlines) collapse to single spaces in ``cleaned``, because tokens
    re-join with " ". Callers needing byte-level structure should
    treat ``cleaned`` as a token sequence, not a layout-preserving
    document; Lee et al. operate on original bytes, which would need
    per-token source offsets — deliberately not paid here.

    Shape at 100 TB:
    - windows travel as 8-byte xxhash64 values, never the n-token
      strings (the decontaminate/boilerplate bound: a 64-bit collision
      over-masks one window per ~2^64 pairs — the conservative
      direction for dedup);
    - the frequency filter is one partial-aggregated count per hash;
      frequent-window hashes are usually corpus-small but NOT
      guaranteed broadcastable, so the flag join is a plain equi-join
      on the hash and AQE picks broadcast vs shuffle;
    - the per-doc rewrite is one Arrow pass using a numpy diff-array
      (O(n_tokens + n_flagged) per doc, no per-token python)."""
    from typing import Iterator

    from weak_supervision_for_ner_spark.operators.textstats import (
        filtered_tokens,
        hashed_token_windows,
    )

    # null text = empty doc (the Arrow rewrite would crash on a None
    # token array; the oracle agrees via its own list_filter). Tokens
    # keep their ORIGINAL case for the rebuild (the shared canonical
    # tokenization, un-lowered); the window hashes are computed over a
    # lowercased view of the same array — positions are identical.
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = documents.select(
        F.col(id_col),
        filtered_tokens(txt, lower=False).alias("toks"),
    )
    lower_toks = F.transform(F.col("toks"), F.lower)
    wins = base.select(
        id_col,
        hashed_token_windows(lower_toks, span_tokens,
                             short_doc="none").alias("whs"),
    ).select(id_col, F.posexplode("whs").alias("pos", "wh"))
    frequent = (
        wins.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("wh")
    )
    flagged = (
        wins.join(frequent, "wh", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("flagged"))
    )
    joined = base.join(flagged, id_col, "left")

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        documents.schema[id_col],
        T.StructField("cleaned", T.StringType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("n_masked", T.LongType(), False),
    ])

    def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, toks, flags in zip(pdf[id_col], pdf["toks"], pdf["flagged"]):
                toks = list(toks)
                n = len(toks)
                if flags is None or not len(flags):
                    rows.append((did, " ".join(toks), n, 0))
                    continue
                diff = np.zeros(n + 1, dtype=np.int64)
                starts = np.asarray(flags, dtype=np.int64)
                np.add.at(diff, starts, 1)
                np.add.at(diff, np.minimum(starts + span_tokens, n), -1)
                masked = np.cumsum(diff[:n]) > 0
                kept = [t for t, m in zip(toks, masked) if not m]
                rows.append((did, " ".join(kept), n, int(masked.sum())))
            yield pd.DataFrame(rows, columns=[id_col, "cleaned", "n_tokens", "n_masked"])

    return joined.mapInPandas(rewrite, schema=out_schema)


def drop_boilerplate_lines(
    documents: DataFrame, min_docs: int = 2, text_col: str = "text",
    sep: str = "\n", id_col: str = "doc_id",
    _hash_exprs: tuple | None = None,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    step): delete every line that appears verbatim in >= ``min_docs``
    DISTINCT documents (nav bars, cookie banners, license footers),
    preserving the remaining lines' order.

    Returns (doc_id, cleaned, n_lines, n_dropped) — the drop count per
    doc keeps the removal volume observable, never silent.

    Shape at 100 TB: explode -> one partial-aggregated
    countDistinct(doc) per line (boilerplate's defining property is
    high frequency, so the agg output is heavy-hitters-small even when
    the corpus is not) -> anti-join survivors -> re-assemble per doc.
    Empty lines are dropped up front: they are both meaningless
    "boilerplate" and the one guaranteed mega-group key.

    The frequency aggregation and the anti-join key on
    ``xxhash64(line)`` (8 bytes), NOT the raw line — the agg-shuffle
    rows shrink from (line, doc_id) to (lh, doc_id, lh2 min/max)
    fixed-width, ~mean-line-length/32 before compression. Measured on
    a 4000-doc corpus of ~135-char realistic-entropy lines: total
    shuffle write 20.6 MB -> 12.2 MB (the agg shuffle itself ~3x
    smaller; the remainder is the kept-line reassembly shuffle, which
    both variants need — it moves the corpus text once, the
    irreducible cost of rewriting documents). Exactness is preserved,
    not assumed: each hash group also aggregates min/max of an
    INDEPENDENT second hash, so any 64-bit collision is detected (two
    distinct lines agreeing on both hashes is the ~2^-128 bound the
    md5-keyed exact dedup already accepts), and detected-collision
    groups take an exact raw-line recount + raw-line anti-join —
    observable, never silently wrong.

    EXECUTION NOTE (r5 advice: the previous form ran an eager
    collision-probe job at plan-construction time and left a persisted
    table behind): the operator is now FULLY LAZY — the collision-
    resolution joins are always planned, with the suspect-hash side
    broadcast-hinted. At runtime the broadcast stage of the suspect
    set materializes first; when it is empty (every non-adversarial
    corpus: two distinct lines must agree on two independent 64-bit
    hashes), AQE's empty-relation propagation collapses the resolution
    semi-join, its aggregation and the final raw-line anti-join to a
    passthrough before their probe-side scans run — so the common case
    pays zero extra stages, no eager job, and leaves no cache. The
    duplicated frequency-agg subtree is deduplicated by exchange reuse
    (asserted by the plan test). ``_hash_exprs`` is a TEST SEAM: a
    (primary, secondary) pair of column functions replacing the two
    xxhash64s so the collision-resolution branch — unreachable without
    a real 64-bit collision — can be forced and asserted
    (tests/test_dataops.py::test_drop_boilerplate_collision_branch)."""
    h1, h2 = _hash_exprs or (
        lambda c: F.xxhash64(c),
        lambda c: F.xxhash64(F.lit(7), c),
    )
    lines = (
        documents
        .select(F.col(id_col), F.posexplode(F.split(F.col(text_col), sep))
                .alias("pos", "line"))
        .filter(F.length(F.trim("line")) > 0)
        .withColumn("lh", h1(F.col("line")))
    )
    # One frequency pass keyed by the hash; the agg output is filtered
    # to frequent-or-collided groups. The subtree feeds BOTH the
    # common-case anti-join key set and the collision suspect set; its
    # shuffle is planned twice but executed once (exchange reuse).
    freq = (
        lines.withColumn("lh2", h2(F.col("line")))
        .groupBy("lh")
        .agg(
            F.count_distinct(id_col).alias("nd"),
            F.min("lh2").alias("v_min"),
            F.max("lh2").alias("v_max"),
        )
        .filter((F.col("nd") >= min_docs) | (F.col("v_min") != F.col("v_max")))
    )
    common_h = (
        freq.filter((F.col("nd") >= min_docs) & (F.col("v_min") == F.col("v_max")))
        .select("lh")
    )
    kept = lines.join(common_h, "lh", "left_anti")
    # 64-bit collision groups: detected by the independent second hash
    # and resolved EXACTLY on the raw line. The branch is always
    # planned (laziness — no eager probe job) but broadcast-hinted: in
    # the no-collision common case the suspect broadcast materializes
    # EMPTY and AQE's empty-relation propagation eliminates the semi-
    # join, the raw-line recount and this anti-join before their
    # probe scans run. Collisions are heavy-hitters-bounded when they
    # do occur, so the broadcast hint is safe in the branch's only
    # reachable regime.
    # the (nd >= 1) conjunct is semantically vacuous (count_distinct of
    # a grouped key is always >= 1) but LOAD-BEARING: without it the
    # optimizer simplifies this branch's filter to the collision test
    # alone, column pruning then drops the nd aggregation from THIS
    # instance of the freq subtree, the two instances stop
    # canonicalizing equal, and AQE's stage reuse no longer dedups the
    # frequency shuffle — the corpus would be scanned and aggregated
    # TWICE (measured: 6 distinct shuffle stages vs 4 with the
    # conjunct). Pinned by the stage-count assert in
    # test_drop_boilerplate_is_lazy.
    suspect_h = freq.filter(
        (F.col("nd") >= 1) & (F.col("v_min") != F.col("v_max"))
    ).select("lh")
    common_suspect = (
        lines.join(F.broadcast(suspect_h), "lh", "left_semi")
        .groupBy("line")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("line")
    )
    kept = kept.join(F.broadcast(common_suspect), "line", "left_anti")
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("ordered"),
        )
        .select(
            id_col,
            F.concat_ws(sep, F.expr("transform(ordered, x -> x.line)"))
            .alias("cleaned"),
            F.size("ordered").alias("n_kept"),
        )
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        documents.select(id_col)
        .join(totals, id_col, "left")
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            (F.coalesce("n_lines", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .alias("n_dropped"),
        )
    )
