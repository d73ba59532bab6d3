"""Dedup / similarity / text-stats / eval / multimodal operators on
tiny in-memory tables with hand-computed expectations."""

import math
import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat today"),
        (2, "the cat sat on the mat today"),          # exact dup of 1
        (3, "the cat sat on the mat yesterday"),       # near dup of 1
        (4, "completely different words entirely here"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2]


def test_ngram_jaccard(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, 0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    # doc1 has 5 shingles, doc3 has 5, share 4 -> 4/6
    assert pairs[(1, 3)] == pytest.approx(4 / 6, abs=1e-6)
    assert (1, 4) not in pairs


def test_ngram_jaccard_unpackable_ids_match_packed_path(spark, docs):
    """The r7 packed pair-key fast path must agree with the plain
    two-column aggregation it replaces: shifting every doc_id negative
    forces the fallback, and the pair set/values must be the shifted
    image of the packed path's output."""
    from weak_supervision_for_ner_spark.operators.dedup import ngram_jaccard_pairs

    packed = {(r["a"], r["b"]): r["jaccard"]
              for r in ngram_jaccard_pairs(docs, 0.3).collect()}
    shifted = docs.select((F.col("doc_id") - 10).alias("doc_id"), "text")
    plain = {(r["a"] + 10, r["b"] + 10): r["jaccard"]
             for r in ngram_jaccard_pairs(shifted, 0.3).collect()}
    assert packed == plain
    assert packed  # non-vacuous


def _plain_jaccard_pairs(docs, to_id):
    """The plain two-column aggregation's pairs (negative ids force it),
    with ids mapped through ``to_id``."""
    from weak_supervision_for_ner_spark.operators.dedup import ngram_jaccard_pairs

    shifted = docs.select((F.col("doc_id") - 10).alias("doc_id"), "text")
    return {(to_id(r["a"] + 10), to_id(r["b"] + 10)): r["jaccard"]
            for r in ngram_jaccard_pairs(shifted, 0.3).collect()}


def test_ngram_jaccard_string_ids_match_plain_path(spark, docs):
    """String ids cannot be packed into the long pair key: they must
    take the two-column aggregation instead of raising TypeError."""
    from weak_supervision_for_ner_spark.operators.dedup import ngram_jaccard_pairs

    as_str = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(as_str, 0.3).collect()}
    assert got == _plain_jaccard_pairs(docs, str)
    assert got


def test_ngram_jaccard_fractional_ids_do_not_collide(spark, docs):
    """Fractional double ids in [0, 2^31) would truncate to the same
    packed key (0.25, 0.5, 0.75 all cast to 0) and merge distinct pairs:
    they must take the two-column aggregation."""
    from weak_supervision_for_ner_spark.operators.dedup import ngram_jaccard_pairs

    quarter = docs.select((F.col("doc_id") / 4.0).alias("doc_id"), "text")
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(quarter, 0.3).collect()}
    assert got == _plain_jaccard_pairs(docs, lambda i: i / 4.0)
    assert len(got) == 3  # (1,2), (1,3), (2,3) stay distinct


def test_minhash_lsh_finds_exact_dups(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import minhash_lsh_pairs

    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, n_hashes=4, bands=2).collect()}
    assert (1, 2) in pairs


def test_simhash_identical_docs_distance_zero(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import simhash_near_pairs

    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_pairs(docs, 3).collect()}
    assert pairs[(1, 2)] == 0


def test_simhash_blocking_rejects_unguaranteed_bounds(spark, docs):
    import pytest

    from weak_supervision_for_ner_spark.operators.dedup import simhash_near_pairs

    # 11 chunks of a 60-bit fingerprint would be 5 bits wide — the
    # blocking guarantee (pigeonhole) can't be honoured, so the call
    # must fail loudly instead of silently dropping spread-bit pairs.
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=10)
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=3, n_chunks=2)


def test_embedding_near_duplicates(spark):
    from weak_supervision_for_ner_spark.operators.dedup import embedding_near_duplicates

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),   # ~same direction
        (3, [0.0, 1.0, 0.0]),    # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["a"], r["b"]): r["cosine"] for r in embedding_near_duplicates(emb, 0.9).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert (1, 3) not in pairs


def _clustered_embeddings(spark, n_clusters=12, per_cluster=5, dim=16, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for _ in range(n_clusters):
        center = rng.standard_normal(dim)
        center /= np.linalg.norm(center)
        for _ in range(per_cluster):
            v = center + rng.standard_normal(dim) * 0.03
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_lsh_equals_brute_force(spark):
    """The banded-hyperplane blocker must return the SAME pair set as
    all-pairs cosines on clustered data (recall certificate). The
    reference folds the products left to right and rounds HALF_UP at
    6 dp, as Spark's aggregate and round do, so cosines match exactly."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from weak_supervision_for_ner_spark.operators.dedup import embedding_near_duplicates

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    emb = _clustered_embeddings(spark)
    vecs = sorted((r["vec_id"], r["embedding"]) for r in emb.collect())
    norms = {i: max(math.sqrt(fold(x * x for x in v)), 1e-12) for i, v in vecs}
    brute = set()
    for n, (a, va) in enumerate(vecs):
        for b, vb in vecs[n + 1:]:
            cos = fold(x * y for x, y in zip(va, vb)) / (norms[a] * norms[b])
            if cos >= 0.95:
                rounded = Decimal(repr(cos)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                brute.add((a, b, float(rounded)))
    lsh = {(r["a"], r["b"], r["cosine"])
           for r in embedding_near_duplicates(emb, 0.95, dim=16).collect()}
    assert len(brute) > 20          # the fixture actually produces dup pairs
    assert lsh == brute


def test_embedding_dedup_scores_a_zero_vector_zero(spark):
    """A zero-norm embedding (failed encoder, padding row) pairs with
    nothing, as in DuckDB: its clamped norm scores it 0 instead of
    dividing by zero, which ANSI mode raises as DIVIDE_BY_ZERO. The
    genuine pair beside it is still found."""
    from weak_supervision_for_ner_spark.operators.dedup import embedding_near_duplicates

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.99, 0.01, 0.0]), (3, [0.0, 0.0, 0.0]),
         (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    assert [tuple(r) for r in embedding_near_duplicates(emb).collect()] == [(1, 2, 0.999949)]


def test_embedding_lsh_plan_has_no_cartesian_product(spark):
    from weak_supervision_for_ner_spark.operators.dedup import embedding_near_duplicates

    emb = _clustered_embeddings(spark, n_clusters=3, per_cluster=3)
    df = embedding_near_duplicates(emb, 0.95, dim=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_brute_force_topk_ordering(spark):
    from weak_supervision_for_ner_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").selectExpr("vec_id as query_id", "embedding")
    got = [(r["neighbor_id"], r["rank"]) for r in
           brute_force_topk(emb, q, k=3).orderBy("rank").collect()]
    assert got == [(3, 1), (1, 2), (2, 3)]


def test_lsh_topk_subset_of_bucket(spark):
    from weak_supervision_for_ner_spark.operators.similarity import lsh_topk

    rows = [(i, [float(i == j) + 0.01 * j for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 2").selectExpr("vec_id as query_id", "embedding")
    out = lsh_topk(emb, q, k=3, n_planes=2, dim=4)
    rows_out = out.collect()
    # approximate: every returned neighbour must at least share the bucket
    assert all(r["rank"] <= 3 for r in rows_out)


def test_language_id(spark):
    from weak_supervision_for_ner_spark.operators.textstats import language_id

    rows = [
        (1, "the cat is in the house and that was it"),
        (2, "el gato que se fue de la casa y los perros"),
        (3, "der hund und die katze von dem haus ist da"),
        (4, "xyzzy qwerty plugh"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in language_id(docs).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_and_token_counts(spark):
    from weak_supervision_for_ner_spark.operators.textstats import (
        quality_scores,
        token_counts,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "!!! ??? ...")],
        "doc_id long, text string",
    )
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert q[1]["quality"] > q[2]["quality"]
    assert q[1]["n_tokens"] == 9
    t = {r["doc_id"]: r["ws_tokens"] for r in token_counts(docs).collect()}
    assert t[1] == 9


def test_fingerprints_normalization(spark):
    from weak_supervision_for_ner_spark.operators.textstats import fingerprints

    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "goodbye")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r for r in fingerprints(docs).collect()}
    assert fp[1]["md5_exact"] != fp[2]["md5_exact"]
    assert fp[1]["md5_normalized"] == fp[2]["md5_normalized"]
    assert fp[1]["md5_normalized"] != fp[3]["md5_normalized"]


def test_evaluate_mentions_counts(spark):
    from weak_supervision_for_ner_spark.operators.evaluate import evaluate_mentions

    gold = spark.createDataFrame(
        [("u1", 0, 2, "PERSON"), ("u1", 4, 5, "GPE"), ("u2", 0, 1, "GPE")],
        "url string, start int, end int, label string",
    )
    pred = spark.createDataFrame(
        [("u1", 0, 2, "PERSON", 0.9), ("u1", 4, 5, "ORG", 0.9), ("u2", 0, 1, "GPE", 0.4)],
        "url string, start int, end int, label string, conf double",
    )
    rows = {r["label"]: r for r in evaluate_mentions(gold, pred).collect()}
    # PERSON: tp=1 -> P=R=1; GPE: conf 0.4 filtered + wrong label -> R=0
    assert rows["PERSON"]["entity_precision"] == 1.0
    assert rows["PERSON"]["entity_recall"] == 1.0
    assert rows["GPE"]["entity_recall"] == 0.0
    assert rows["ORG"]["entity_precision"] == 0.0  # 1 FP, no gold
    assert rows["micro"]["entity_precision"] == 0.5
    assert rows["micro"]["entity_recall"] == pytest.approx(1 / 3, abs=1e-6)


SPANS = "url string, start int, end int, label string"


@pytest.mark.parametrize("case", ["empty", "all_filtered"])
def test_evaluate_mentions_with_no_label_gives_zero_rollups(spark, case):
    """No label survives: an empty gold and prediction, or a keep set
    that filters out every label. The rollup rows carry support 0 and
    0.0 metrics."""
    from weak_supervision_for_ner_spark.operators.evaluate import evaluate_mentions

    rows = [("u1", 0, 2, "PERSON")] if case == "all_filtered" else []
    gold = spark.createDataFrame(rows, SPANS)
    pred = spark.createDataFrame([r + (0.9,) for r in rows], SPANS + ", conf double")
    keep = {"ORG"} if case == "all_filtered" else None
    got = sorted(map(tuple, evaluate_mentions(gold, pred, keep=keep).collect()))
    assert got == [(label, 0) + (0.0,) * 6 for label in ("macro", "micro", "weighted")]


def test_evaluate_mentions_counts_in_one_join_and_leaves_nothing_cached(spark):
    """Each granularity's counts come from one join; the call leaves
    the session's persistent RDDs and CacheManager as they were (the
    caller's own cached input included), and its result is a local
    relation that reads no input."""
    from weak_supervision_for_ner_spark.operators.evaluate import _counts, evaluate_mentions

    gold = spark.createDataFrame(
        [("u1", 0, 2, "PERSON"), ("u1", 4, 5, "GPE"), ("u2", 0, 1, "GPE")], SPANS
    ).persist()
    gold.count()
    pred = spark.createDataFrame(
        [("u1", 0, 2, "PERSON", 0.9), ("u1", 4, 5, "ORG", 0.9)], SPANS + ", conf double"
    )
    plan = _counts(gold, pred, ["url", "start", "end"])._jdf.queryExecution().optimizedPlan()
    assert len(re.findall(r"(?m)^[\s:+|-]*Join ", plan.toString())) == 1

    cm = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext
    before = (set(sc._jsc.getPersistentRDDs().keySet()), cm.numCachedEntries())
    result = evaluate_mentions(gold, pred)
    assert (set(sc._jsc.getPersistentRDDs().keySet()), cm.numCachedEntries()) == before
    assert gold.storageLevel.useMemory  # read from the CacheManager
    assert result._jdf.queryExecution().analyzed().toString().startswith("LocalRelation")
    assert {r["label"] for r in result.collect()} == {
        "PERSON", "GPE", "ORG", "micro", "macro", "weighted"
    }
    gold.unpersist()


def test_multimodal_features_with_fake_decoder(spark):
    from weak_supervision_for_ner_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [("m1", "image", "image/png", bytearray(b"AAA"), None, None, None),
         ("m2", "image", "image/png", bytearray(b"BBB"), None, None, None),
         ("m3", "audio", "audio/wav", bytearray(b"AAA"), None, None, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r
        for r in mm.extract_features(
            media, dim=8, decoder=mm.deterministic_fake_decoder
        ).collect()
    }
    assert len(feats["m1"]["feature"]) == 8
    assert feats["m1"]["sha1"] == feats["m3"]["sha1"]           # same payload
    assert feats["m1"]["feature"] == feats["m3"]["feature"]      # deterministic
    assert feats["m1"]["feature"] != feats["m2"]["feature"]
    stats = {(r["kind"], r["mime"]): r["n"] for r in mm.media_stats(media).collect()}
    assert stats[("image", "image/png")] == 2


def test_multimodal_unregistered_decoder_raises(spark):
    from weak_supervision_for_ner_spark.operators import multimodal as mm

    mm._DECODER = None
    media = spark.createDataFrame(
        [("m1", "image", "image/png", bytearray(b"A"), None, None, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="(?i)decoder|NotImplemented|PythonException"):
        mm.extract_features(media).collect()


def test_multimodal_resize_images(spark):
    from weak_supervision_for_ner_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [("m1", "image", "image/png", bytearray(b"AAA"), None, None, None),
         ("m2", "audio", "audio/wav", bytearray(b"BBB"), None, None, 2000)],
        schema=mm.MEDIA_SCHEMA,
    )
    rows = mm.resize_images(
        media, width=4, height=2, decoder=mm.deterministic_fake_decoder
    ).collect()
    assert [r["media_id"] for r in rows] == ["m1"]   # non-images filtered
    r = rows[0]
    assert (r["width"], r["height"], len(r["pixels"])) == (4, 2, 8)
    # area-average keeps values inside the decoded range
    assert all(0.0 <= p <= 1.0 for p in r["pixels"])


def test_multimodal_sample_frames(spark):
    from weak_supervision_for_ner_spark.operators import multimodal as mm

    media = spark.createDataFrame(
        [("v1", "video", "video/mp4", bytearray(b"VID"), None, None, 3500),
         ("a1", "audio", "audio/wav", bytearray(b"AUD"), None, None, 1000),
         ("m1", "image", "image/png", bytearray(b"IMG"), None, None, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    rows = mm.sample_frames(
        media, every_ms=1000, max_frames=8, dim=4,
        decoder=mm.deterministic_fake_decoder,
    ).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert "m1" not in by_media                       # images filtered
    assert len(by_media["v1"]) == 3                   # 3500ms // 1000ms
    assert [r["t_ms"] for r in sorted(by_media["v1"], key=lambda r: r["frame_idx"])] == [0, 1000, 2000]
    assert len(by_media["a1"]) == 1
    # frames are deterministic AND distinct per timestamp
    f0, f1 = (sorted(by_media["v1"], key=lambda r: r["frame_idx"])[i]["feature"] for i in (0, 1))
    assert f0 != f1 and len(f0) == 4


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF with learned centroids must achieve high recall@k vs brute
    force on cluster-structured embeddings (nprobe=2 of 8 cells)."""
    from weak_supervision_for_ner_spark.operators.similarity import (
        brute_force_topk,
        ivf_recall,
        ivf_topk,
    )

    emb = _clustered_embeddings(spark, n_clusters=8, per_cluster=8, dim=16).persist()
    q = emb.filter("vec_id < 6").selectExpr("vec_id as query_id", "embedding")
    rec = {r["query_id"]: r["recall"]
           for r in ivf_recall(emb, q, k=5, n_cells=8, nprobe=2,
                               sample_limit=64).collect()}
    assert len(rec) == 6
    assert sum(rec.values()) / len(rec) >= 0.9
    # and the index returns a proper ranked list
    got = ivf_topk(emb, q, k=5, n_cells=8, nprobe=2, sample_limit=64).collect()
    assert all(1 <= r["rank"] <= 5 for r in got)
    emb.unpersist()


def test_drop_exact_duplicates(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import drop_exact_duplicates

    kept = {r["doc_id"] for r in drop_exact_duplicates(docs).collect()}
    assert kept == {1, 3, 4, 5}          # doc 2 is the byte-identical dup of 1


def test_drop_near_duplicates(spark, docs):
    from weak_supervision_for_ner_spark.operators.dedup import drop_near_duplicates

    kept = {r["doc_id"] for r in
            drop_near_duplicates(docs, n_hashes=4, bands=2, n=3).collect()}
    assert 1 in kept and 2 not in kept   # exact dup collapses to smallest id
    assert 4 in kept and 5 in kept       # singletons survive


def _cross_product_topk(emb, q, k, dim=None):
    """The JVM re-rank the LSH and IVF indexes share, run over every
    (query, corpus vector) pair: the exact top-k by another kernel."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.similarity import (
        _clamped_norm,
        _rerank_topk,
    )

    qs = q.select("query_id", F.col("embedding").alias("qvec"),
                  _clamped_norm("embedding").alias("_qn"))
    cand = (
        emb.withColumn("_cn", _clamped_norm("embedding"))
        .join(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    return _rerank_topk(cand, k, "vec_id", "embedding", dim)


def test_brute_force_kernels_identical(spark):
    """The Arrow-batched numpy matmul scan must reproduce the JVM
    re-rank over the full cross product row-for-row (same 6-decimal
    rounding before ranking, same id tie-break) — on the real fixture,
    across partitions, including self-match exclusion."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.similarity import brute_force_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.expr("transform(embedding, x -> cast(x as double))"))
        .repartition(7)
    )
    q = emb.filter("vec_id < 8").select(F.col("vec_id").alias("query_id"), "embedding")
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    a = sorted(map(tuple, brute_force_topk(emb, q, k=5).select(*cols).collect()))
    dim = len(emb.first()["embedding"])
    b = sorted(map(tuple, _cross_product_topk(emb, q, 5, dim).select(*cols).collect()))
    assert a == b and len(a) == 8 * 5


def test_exact_duplicates_mega_group_is_bounded(spark):
    """A 10k-member byte-identical group (the boilerplate mega-group
    case at 100 TB) must NOT collect 10k ids into one agg buffer: the
    report carries the exact count plus a capped, deterministic id
    sample."""
    from weak_supervision_for_ner_spark.operators.dedup import exact_duplicates

    mega = spark.range(10_000).selectExpr(
        "id AS doc_id", "'boilerplate empty page' AS text"
    ).union(
        spark.range(10_000, 10_003).selectExpr(
            "id AS doc_id", "concat('unique ', id) AS text"
        )
    )
    groups = exact_duplicates(mega, id_sample_cap=100).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_docs"] == 10_000                      # exact count kept
    assert g["doc_ids"] == list(range(100))           # smallest 100 ids only


def test_drop_near_duplicates_mega_group_stays_linear(spark):
    """5,000 byte-identical docs (the boilerplate mega-bucket case)
    must produce exactly ONE survivor without ever materializing a
    quadratic candidate set: the exact pre-collapse removes them before
    LSH, and star edges keep any residual bucket linear."""
    from weak_supervision_for_ner_spark.operators.dedup import (
        drop_near_duplicates,
        minhash_lsh_star_edges,
    )

    mega = spark.range(5000).selectExpr(
        "id AS doc_id",
        "'the same boilerplate page body here repeated verbatim' AS text",
    ).union(
        spark.range(5000, 5002).selectExpr(
            "id AS doc_id", "concat('unique page ', id, ' body text') AS text"
        )
    )
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(
        mega, n_hashes=4, bands=2, n=3).collect())
    assert kept == [0, 5000, 5001]
    # and the raw star-edge operator itself is linear in the bucket
    edges = minhash_lsh_star_edges(mega, n_hashes=4, bands=2, n=3).count()
    assert edges == 4999  # one hub edge per member, not 12.5M pairs


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping makes convergence-checked CC O(log diameter):
    a 64-node chain (diameter 63) must converge well inside a 10-round
    budget — plain 1-hop propagation would need 63 rounds and raise."""
    from weak_supervision_for_ner_spark.operators.triples import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)], "a string, b string"
    )
    labels = connected_components(chain, max_rounds=10)
    got = {r["name"]: r["canonical"] for r in labels.collect()}
    assert set(got.values()) == {"n000"}
    assert len(got) == 64


def test_connected_components_raises_at_cap_and_leaks_no_cache(spark):
    """The 64-node chain needs about 7 pointer-jumping rounds: a 2-round
    cap must raise, not return the chain split. Neither the raise nor a
    converged call leaves the edge cache or a round's table persisted;
    a converged call keeps only the component table it returns."""
    from weak_supervision_for_ner_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(63)], "a string, b string"
    )

    def persisted():
        # ids, not a count: the cleaner may free other tests' RDDs meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    with pytest.raises(RuntimeError, match="did not converge within 2 rounds"):
        connected_components(chain, max_rounds=2)
    assert persisted() - before == set()

    labels = connected_components(chain)
    assert {r["canonical"] for r in labels.collect()} == {"n000"}
    result_rdd = labels._jdf.queryExecution().logical().rdd()
    assert persisted() - before == {result_rdd.id()}   # the returned table only
    result_rdd.unpersist(True)
    assert persisted() - before == set()


def test_numpy_brute_force_plan_is_scan_only(spark):
    """The numpy-kernel exact ANN must be a single narrow scan + final
    window — no join operator of any kind in the executed plan (the
    query matrix travels as a broadcast VARIABLE, not a join side)."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.expr("transform(embedding, x -> cast(x as double))")
    )
    q = emb.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    df = brute_force_topk(emb, q, k=3)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_drop_near_duplicates_honors_text_col(spark):
    """text_col must reach BOTH the exact pre-collapse and the LSH
    stage (regression: the shingling used to hard-code 'text')."""
    from weak_supervision_for_ner_spark.operators.dedup import drop_near_duplicates

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat today"),
         (2, "the cat sat on the mat today"),
         (3, "something else entirely different here")],
        "doc_id long, body string",
    )
    kept = {r["doc_id"] for r in
            drop_near_duplicates(docs, n_hashes=4, bands=2, n=3,
                                 text_col="body").collect()}
    assert kept == {1, 3}


def test_minhash_lsh_pairs_max_bucket_caps_mega_bucket(spark):
    """A boilerplate mega-group (30 identical docs) shares every band
    bucket; with max_bucket set those buckets are dropped BEFORE the
    quadratic self-join — bounded pair output, counted drops — while
    small buckets keep their pairs."""
    from weak_supervision_for_ner_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "boiler plate empty page text repeated") for i in range(30)]
    rows += [(100, "the cat sat on the mat today"),
             (101, "the cat sat on the mat today")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r["a"], r["b"])
                for r in minhash_lsh_pairs(docs, n_hashes=4, bands=2).collect()}
    assert sum(1 for a, b in uncapped if a < 30 and b < 30) == 30 * 29 // 2

    stats = {}
    capped = {(r["a"], r["b"])
              for r in minhash_lsh_pairs(docs, n_hashes=4, bands=2,
                                         max_bucket=10, stats=stats).collect()}
    assert capped == {(100, 101)}            # mega-group gone, real pair kept
    assert stats["dropped_buckets"] == 2     # both bands' boilerplate buckets
    assert stats["dropped_members"] == 60    # 30 members x 2 bands


def test_embedding_lsh_max_bucket_caps_mega_bucket(spark):
    """Same contract on the embedding blocker: identical vectors form a
    mega-bucket in every band; capping drops them (counted) while a
    small genuine near-dup pair survives."""
    from weak_supervision_for_ner_spark.operators.dedup import embedding_near_duplicates

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    rows += [(100, [0.0, 1.0, 0.02, 0.0]), (101, [0.0, 1.0, 0.0, 0.02])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    uncapped = {(r["a"], r["b"])
                for r in embedding_near_duplicates(emb, 0.9, dim=4).collect()}
    assert sum(1 for a, b in uncapped if a < 20 and b < 20) == 20 * 19 // 2

    stats = {}
    capped = {(r["a"], r["b"])
              for r in embedding_near_duplicates(
                  emb, 0.9, dim=4, max_bucket=10, stats=stats).collect()}
    assert (100, 101) in capped
    assert not any(a < 20 and b < 20 for a, b in capped)
    assert stats["dropped_buckets"] >= 1
    assert stats["dropped_members"] >= 20


def _wav_bytes(samples, channels=1, bits=16, rate=8000):
    """Minimal PCM WAV writer (tests only)."""
    import struct

    import numpy as np

    x = (np.asarray(samples, dtype=np.float64) * 32767).astype("<i2").tobytes()
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    data = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    data += b"data" + struct.pack("<I", len(x)) + x
    return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data


def _ppm_bytes(arr):
    """Minimal binary P6 writer (tests only); arr: (h, w, 3) uint8."""
    h, w, _ = arr.shape
    return f"P6\n# test\n{w} {h}\n255\n".encode() + arr.tobytes()


def test_builtin_wav_decoder_roundtrip():
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_wav_pcm

    samples = np.sin(np.linspace(0, 6.28, 64))
    out = decode_wav_pcm(_wav_bytes(samples))
    assert out.shape == (64, 1)
    assert np.allclose(out[:, 0], samples, atol=1e-3)


def test_builtin_ppm_decoder_roundtrip():
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_ppm

    img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    out = decode_ppm(_ppm_bytes(img))
    assert out.shape == (2, 3)
    assert np.allclose(out, img.astype(np.float32).mean(axis=2) / 255.0, atol=1e-6)


def _png_bytes(arr, ctype, depth=8, filters=None, plte=None, interlace=0):
    """Minimal PNG writer (tests only): arr holds SAMPLES per pixel —
    (h,w) gray/palette-index or (h,w,ch). ``filters`` picks the filter
    type per scanline (cycling), so decode exercises Sub/Up/Avg/Paeth
    against an independently-computed filtered stream. ``interlace=1``
    writes a REAL Adam7 stream (seven independently-filtered passes)."""
    import struct
    import zlib

    import numpy as np

    h, w = arr.shape[:2]
    ch = 1 if arr.ndim == 2 else arr.shape[2]
    fbpp = max(1, (depth // 8) * ch)
    filters = filters or [0]

    def pack_rows(sub):
        sh, sw = sub.shape[:2]
        flat = sub.reshape(sh, sw * ch)
        if depth == 16:
            return flat.astype(">u2").view(np.uint8).reshape(sh, -1)
        if depth == 8:
            return flat.astype(np.uint8)
        bits = ((flat[:, :, None].astype(np.uint8) >>
                 np.arange(depth - 1, -1, -1)) & 1).reshape(sh, -1)
        pad = (-bits.shape[1]) % 8
        bits = np.pad(bits, ((0, 0), (0, pad)))
        return np.packbits(bits, axis=1)

    def filter_rows(rows):
        out = []
        prev = np.zeros(rows.shape[1], dtype=np.int32)
        for y in range(rows.shape[0]):
            f = filters[y % len(filters)]
            cur = rows[y].astype(np.int32)
            filt = np.empty_like(cur)
            for i in range(len(cur)):
                a = cur[i - fbpp] if i >= fbpp else 0
                b = prev[i]
                c = prev[i - fbpp] if i >= fbpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (cur[i] - pred) & 0xFF
            out.append(bytes([f]) + filt.astype(np.uint8).tobytes())
            prev = cur
        return b"".join(out)

    a3 = arr if arr.ndim == 3 else arr[:, :, None]
    if interlace == 0:
        stream = filter_rows(pack_rows(a3))
    else:
        passes = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                  (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        stream = b"".join(
            filter_rows(pack_rows(a3[y0::ys, x0::xs]))
            for (x0, y0, xs, ys) in passes
            if a3[y0::ys, x0::xs].shape[0] and a3[y0::ys, x0::xs].shape[1]
        )

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body +
                struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        png += chunk(b"PLTE", np.asarray(plte, np.uint8).tobytes())
    png += chunk(b"IDAT", zlib.compress(stream))
    return png + chunk(b"IEND", b"")


def test_png_decoder_all_filters_and_color_types():
    """decode_png vs ground truth across every scanline filter and the
    five color types — the encoder computes the filtered stream
    independently, so agreement proves the unfilter logic."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(3)
    filters = [0, 1, 2, 3, 4]
    # gray 8-bit
    g = rng.integers(0, 256, (7, 5), dtype=np.uint16)
    assert np.allclose(decode_png(_png_bytes(g, 0, 8, filters)),
                       g / 255.0, atol=1e-6)
    # RGB 8-bit: luma = channel mean
    c = rng.integers(0, 256, (6, 4, 3), dtype=np.uint16)
    assert np.allclose(decode_png(_png_bytes(c, 2, 8, filters)),
                       c.astype(np.float32).mean(axis=2) / 255.0, atol=1e-6)
    # RGBA 8-bit: alpha ignored
    a4 = rng.integers(0, 256, (5, 3, 4), dtype=np.uint16)
    assert np.allclose(decode_png(_png_bytes(a4, 6, 8, filters)),
                       a4[:, :, :3].astype(np.float32).mean(axis=2) / 255.0, atol=1e-6)
    # gray+alpha: gray channel only
    ga = rng.integers(0, 256, (4, 6, 2), dtype=np.uint16)
    assert np.allclose(decode_png(_png_bytes(ga, 4, 8, filters)),
                       ga[:, :, 0] / 255.0, atol=1e-6)
    # gray 16-bit
    g16 = rng.integers(0, 65536, (5, 5), dtype=np.uint32)
    assert np.allclose(decode_png(_png_bytes(g16, 0, 16, filters)),
                       g16 / 65535.0, atol=1e-7)
    # palette 4-bit
    plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (6, 7), dtype=np.uint8)
    assert np.allclose(decode_png(_png_bytes(idx, 3, 4, filters, plte=plte)),
                       plte[idx].astype(np.float32).mean(axis=2) / 255.0, atol=1e-6)
    # gray 1-bit
    g1 = rng.integers(0, 2, (4, 11), dtype=np.uint8)
    assert np.allclose(decode_png(_png_bytes(g1, 0, 1, filters)),
                       g1.astype(np.float32), atol=1e-6)


def test_png_decoder_adam7_interlaced():
    """Adam7 across color types, depths, filters and odd dimensions
    (odd sizes give empty/degenerate passes)."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(17)
    filters = [0, 1, 2, 3, 4]
    for shape, ctype, depth in (
        ((13, 11), 0, 8),        # gray, odd dims
        ((16, 16, 3), 2, 8),     # RGB
        ((9, 5), 0, 16),         # 16-bit gray
        ((7, 3, 4), 6, 8),       # RGBA, tiny
        ((1, 1), 0, 8),          # single pixel (passes 1 only)
        ((6, 10), 0, 1),         # 1-bit gray
    ):
        hi = 2 if depth == 1 else (65536 if depth == 16 else 256)
        arr = rng.integers(0, hi, shape, dtype=np.uint32)
        want_src = arr if arr.ndim == 2 else arr[:, :, :3].astype(np.float32).mean(axis=2)
        want = want_src / float((1 << depth) - 1)
        got = decode_png(_png_bytes(arr, ctype, depth, filters, interlace=1))
        assert np.allclose(got, want, atol=1e-6), (shape, ctype, depth)


def test_png_decoder_rejects_corruption():
    import numpy as np
    import pytest

    from weak_supervision_for_ner_spark.operators.multimodal import decode_png

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    good = _png_bytes(img, 0, 8)
    bad = bytearray(good)
    bad[40] ^= 0xFF                       # flip an IDAT byte -> CRC fails
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_real_png_through_spark_stages(spark):
    """REAL zlib-compressed PNG bytes through extract_features and
    resize_images with NO registered decoder — the builtin magic-byte
    decoder closes the compressed-image modality end-to-end."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators import multimodal as mm

    mm._DECODER = None
    img = np.zeros((8, 6, 3), dtype=np.uint8)
    img[:4] = 255                      # top half white
    payload = _png_bytes(img, 2, 8, filters=[0, 1, 2, 3, 4])
    media = spark.createDataFrame(
        [("png1", "image", "image/png", bytearray(payload), 6, 8, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in mm.extract_features(media, dim=8).collect()}
    assert feats["png1"]["n_bytes"] == len(payload)
    resized = {r["media_id"]: r for r in mm.resize_images(media, 2, 2).collect()}
    px = np.array(resized["png1"]["pixels"]).reshape(2, 2)
    assert np.allclose(px[0], 1.0, atol=1e-6)   # white top
    assert np.allclose(px[1], 0.0, atol=1e-6)   # black bottom


def test_real_wav_and_ppm_through_spark_stages(spark):
    """REAL bytes through the distributed stages with NO registered
    decoder: the builtin magic-byte decoder makes WAV audio and PPM
    images production-real end-to-end (features + resize)."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators import multimodal as mm

    mm._DECODER = None
    samples = np.linspace(-0.5, 0.5, 128)
    img = np.zeros((8, 6, 3), dtype=np.uint8)
    img[:4] = 255                      # top half white
    media = spark.createDataFrame(
        [
            ("wav1", "audio", "audio/wav", bytearray(_wav_bytes(samples)),
             None, None, 1000),
            ("img1", "image", "image/x-portable-pixmap",
             bytearray(_ppm_bytes(img)), 6, 8, None),
        ],
        schema=mm.MEDIA_SCHEMA,
    )

    feats = {r["media_id"]: r for r in mm.extract_features(media, dim=8).collect()}
    assert set(feats) == {"wav1", "img1"}
    # wav features are the first 8 samples in [-1, 1]
    assert np.allclose(feats["wav1"]["feature"], samples[:8], atol=1e-3)

    resized = {r["media_id"]: r for r in mm.resize_images(media, 2, 2).collect()}
    px = np.array(resized["img1"]["pixels"]).reshape(2, 2)
    assert np.allclose(px[0], 1.0, atol=1e-6)   # white top
    assert np.allclose(px[1], 0.0, atol=1e-6)   # black bottom


def test_zero_vector_never_ranks_first_in_either_kernel(spark):
    """A zero-norm embedding (failed encoder / padding row) must not
    outrank real neighbors: unguarded cosine yields NaN, which Spark's
    descending sort puts at rank 1. The numpy scan and the JVM re-rank
    both clamp norms to 1e-12, so the zero vector scores 0 and the two
    stay row-identical."""
    from weak_supervision_for_ner_spark.operators.similarity import brute_force_topk

    rows = [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 0.0, 0.0]), (4, [0.5, 0.5, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(1, [1.0, 0.0, 0.0])],
                              "query_id long, embedding array<double>")
    jvm = [tuple(r) for r in _cross_product_topk(emb, q, 3).orderBy("rank").collect()]
    npk = [tuple(r) for r in brute_force_topk(emb, q, k=3).orderBy("rank").collect()]
    assert jvm == npk
    assert jvm[0][1] == 2                      # real neighbor first
    assert all(r[1] != 3 or r[2] == 0.0 for r in jvm)   # zero vec scores 0


def test_redact_pii_scrubs_and_counts(spark):
    from weak_supervision_for_ner_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail me at a.b-c+x@example.co.uk or 10.0.0.1 now"),
        (2, "call +47 22 33 44 55 or +1-800-555-0199 ok"),
        (3, "version 1.2.3.4 of pkg; not-an-email @ test; 999.999.999.999"),
        (4, "no pii here at all"),
        (5, "x@y.io x@y.io 1.2.3.4 +123456789012"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert got[1]["redacted"] == "mail me at <EMAIL> or <IP> now"
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 1, 0)
    assert got[2]["redacted"] == "call <PHONE> or <PHONE> ok"
    assert got[2]["n_phone"] == 2
    # the conservative patterns leave version strings alone only when
    # they are not dotted-quad shaped; 1.2.3.4 IS quad-shaped -> <IP>,
    # while the out-of-range 999 quad still matches the syntactic rule
    assert got[3]["redacted"] == "version <IP> of pkg; not-an-email @ test; <IP>"
    assert got[4]["redacted"] == "no pii here at all"
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (0, 0, 0)
    assert got[5]["redacted"] == "<EMAIL> <EMAIL> <IP> <PHONE>"
    assert (got[5]["n_email"], got[5]["n_ipv4"], got[5]["n_phone"]) == (2, 1, 1)


def test_redact_pii_plan_is_codegen_projection(spark):
    """The scrub must stay a single codegen'd map over the scan — no
    UDF, no shuffle (at 100 TB this is a pure projection)."""
    from weak_supervision_for_ner_spark.operators.textstats import redact_pii

    docs = spark.createDataFrame([(1, "x@y.io")], "doc_id long, text string")
    plan = redact_pii(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    # Catalyst must collapse the chained withColumns into ONE Project
    # over the scan (single corpus read; r5 verdict item)
    assert plan.count("Project") == 1, plan


def test_repetition_signals(spark):
    from weak_supervision_for_ner_spark.operators.textstats import repetition_signals

    rows = [
        (1, "alpha beta\ngamma delta\nalpha beta\nepsilon zeta"),  # 1 dup line of 4
        (2, "a b a b a b"),                    # top 2-gram 'a b' x3 of 5
        (3, "all unique lines\nno repeats here"),
        (4, ""),                               # empty doc: all zeros
        (5, "x\n  \nx\nx"),                    # blank line ignored; 2 dups of 3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert got[1]["n_lines"] == 4 and got[1]["dup_line_frac"] == 0.25
    # 10 chars of the repeated 'alpha beta' over 43 total line chars
    assert got[1]["dup_line_char_frac"] == round(10 / 43, 4)
    assert got[2]["top_2gram_frac"] == 0.6
    # short doc (5 2-grams < 20): the 2-gram rule must NOT fire — a
    # clean 4-token title would otherwise always be rejected (r5
    # review); line rules still apply to short docs (doc 5 below)
    assert not got[2]["flagged"]
    assert got[3]["dup_line_frac"] == 0.0 and not got[3]["flagged"]
    assert got[4]["n_lines"] == 0 and got[4]["dup_line_frac"] == 0.0
    assert got[5]["n_lines"] == 3 and got[5]["dup_line_frac"] == round(2 / 3, 4)
    assert got[5]["flagged"]
    # long repetitive doc: the 2-gram rule fires above the 20-gram gate
    long_rep = spark.createDataFrame(
        [(9, " ".join(["a b"] * 15))], "doc_id long, text string"
    )
    r9 = repetition_signals(long_rep).collect()[0]
    assert r9["top_2gram_frac"] > 0.2 and r9["flagged"]
    # long clean doc stays unflagged
    clean = spark.createDataFrame(
        [(10, " ".join(f"w{i}" for i in range(40)))], "doc_id long, text string"
    )
    assert not repetition_signals(clean).collect()[0]["flagged"]


def test_repetition_signals_plan_is_narrow(spark):
    """One codegen'd projection: no UDF, no shuffle, no explode — at
    100 TB this runs at scan speed."""
    from weak_supervision_for_ner_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = repetition_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "Generate" not in plan              # no explode


def test_decontaminate(spark):
    from weak_supervision_for_ner_spark.operators.textstats import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight again"),
            (2, "completely unrelated content with no overlap whatsoever in it"),
            (3, "prefix words then the quick brown fox jumps over the lazy dog"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),   # 9 tokens -> 2 windows
         ("short doc",)],                                    # sub-n probe
        "text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(docs, probes, n=8).collect()}
    assert got[1]["contaminated"] and got[1]["n_hits"] == 2   # both probe windows
    # an empty/whitespace probe must contribute NO windows: blank docs
    # would otherwise all match the ''-window (r5 review)
    blanks = spark.createDataFrame(
        [(11, ""), (12, "   "), (13, "real content here")],
        "doc_id long, text string",
    )
    blank_probe = spark.createDataFrame([("",), ("   ",)], "text string")
    bt = {r["doc_id"]: r for r in decontaminate(blanks, blank_probe, n=8).collect()}
    assert not any(bt[i]["contaminated"] for i in (11, 12, 13))
    assert not got[2]["contaminated"] and got[2]["n_hits"] == 0
    assert got[3]["contaminated"] and got[3]["n_hits"] == 2
    assert got[4]["contaminated"]          # exact short-probe match
    # case-insensitive
    up = spark.createDataFrame(
        [(9, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG")], "doc_id long, text string"
    )
    assert decontaminate(up, probes, n=8).collect()[0]["contaminated"]


def test_decontaminate_plan_broadcasts_probes(spark):
    """probe_join='broadcast' must put the probe side into the scan
    stage at plan time — a sort-merge join here would shuffle every
    document window at 100 TB."""
    from weak_supervision_for_ner_spark.operators.textstats import decontaminate

    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    probes = spark.createDataFrame([("a b c d e f g h",)], "text string")
    plan = decontaminate(docs, probes, n=8, probe_join="broadcast") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_decontaminate_probe_join_modes(spark):
    """r5 verdict item #7: the unconditional broadcast is gone. 'auto'
    lets AQE pick (tiny probes must still end up broadcast at
    runtime); 'shuffle' forces the non-broadcast path for corpus-sized
    probe sets — and both modes return identical rows."""
    import pytest

    from weak_supervision_for_ner_spark.operators.textstats import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "clean text entirely different here now")],
        "doc_id long, text string")
    probes = spark.createDataFrame([("a b c d e f g h",)], "text string")

    auto = decontaminate(docs, probes, n=8, probe_join="auto")
    auto_rows = {r["doc_id"]: r["contaminated"] for r in auto.collect()}
    assert auto_rows == {1: True, 2: False}
    # after execution the adaptive plan is final: AQE must have turned
    # the tiny probe side into a runtime broadcast
    final = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final

    shuf = decontaminate(docs, probes, n=8, probe_join="shuffle")
    assert {r["doc_id"]: r["contaminated"] for r in shuf.collect()} == auto_rows
    # only the probe SEMI-join must avoid broadcast (the final doc_id
    # outer join may legitimately broadcast the tiny hits table)
    splan = shuf._jdf.queryExecution().executedPlan().toString()
    semi_lines = [l for l in splan.splitlines() if "LeftSemi" in l]
    assert semi_lines and all("BroadcastHashJoin" not in l for l in semi_lines), splan

    with pytest.raises(ValueError, match="probe_join"):
        decontaminate(docs, probes, n=8, probe_join="bogus")


def test_hot_domain_placements_share_text_multiset(spark):
    """The skew bench's work-controlled property: 'interleaved' and
    'block' placements must generate the IDENTICAL multiset of texts
    (only data placement differs), and urls stay unique."""
    from collections import Counter

    from weak_supervision_for_ner_spark.sources.pages import synth_pages_hot_domain

    a = Counter(r["text"] for r in
                synth_pages_hot_domain(spark, 1200, placement="interleaved").collect())
    rows_b = synth_pages_hot_domain(spark, 1200, placement="block").collect()
    b = Counter(r["text"] for r in rows_b)
    assert a == b
    assert len({r["url"] for r in rows_b}) == 1200
    # 50% hot: 600 hot docs over 128 templates
    hot = [r for r in rows_b if r["url"].startswith("https://hot.example.net/")]
    assert len(hot) == 600
    # the 128 template ids yield a few coincidentally-identical texts;
    # compare against the generator's own distinct count
    from weak_supervision_for_ner_spark.sources.pages import make_page

    expected = len({make_page(t, 42)[0]["text"] for t in range(128)})
    assert len({r["text"] for r in hot}) == expected


def test_pack_shards(spark):
    """Concatenate-then-chop shard assignment: manual expectation plus
    the distributed-correctness property — identical output at any
    partition count (the two-phase prefix sum must equal the global
    ordered cumsum)."""
    from weak_supervision_for_ner_spark.operators.packing import pack_shards

    rows = [
        (1, " ".join(["w"] * 6)),    # start 0  -> shard 0, offset 0
        (2, " ".join(["w"] * 5)),    # start 6  -> shard 0, offset 6
        (3, " ".join(["w"] * 4)),    # start 11 -> shard 1, offset 1
        (4, ""),                     # start 15 -> shard 1, offset 5
        (5, " ".join(["w"] * 25)),   # start 15 -> shard 1, offset 5 (spans shards)
        (6, "w w"),                  # start 40 -> shard 4, offset 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {1: (6, 0, 0), 2: (5, 0, 6), 3: (4, 1, 1), 4: (0, 1, 5),
            5: (25, 1, 5), 6: (2, 4, 0)}
    for nparts in (1, 3, 8):
        got = {r["doc_id"]: (r["n_tokens"], r["shard_id"], r["shard_offset"])
               for r in pack_shards(docs, budget=10, partitions=nparts).collect()}
        assert got == want, nparts

    import pytest

    with pytest.raises(ValueError, match="budget"):
        pack_shards(docs, budget=0)
    # null text packs as a 0-token doc, not a NaN cumsum crash
    nulls = spark.createDataFrame([(1, "a b"), (2, None), (3, "c")],
                                  "doc_id long, text string")
    gn = {r["doc_id"]: (r["n_tokens"], r["shard_offset"])
          for r in pack_shards(nulls, budget=10).collect()}
    assert gn[2] == (0, 2) and gn[3] == (1, 2)
    # plan audit: ONE range shuffle of the narrow projection, and no
    # global ordered window (the single-partition scalability trap).
    # The layout plan is audited pre-checkpoint (pack_shards truncates
    # it out of the result plan via localCheckpoint).
    from weak_supervision_for_ner_spark.operators.packing import _pack_layout

    lplan = _pack_layout(docs, "doc_id", None, "text", None) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in lplan, lplan
    assert "Window" not in lplan, lplan
    plan = pack_shards(docs, budget=10)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_pack_shards_releases_cache(spark):
    """r5 verdict item #6: repeated pack_shards calls must not
    accumulate session caches. The localCheckpoint's blocks are
    released by the ContextCleaner once the returned plan is dropped —
    assert the persistent-RDD census returns to its baseline."""
    import gc
    import time

    from weak_supervision_for_ner_spark.operators.packing import pack_shards

    def census():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def settle(target, timeout=30.0):
        # the ContextCleaner is asynchronous (python gc -> py4j
        # finalizers -> JVM gc -> cleaner queue): poke and poll
        deadline = time.time() + timeout
        while time.time() < deadline:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if census() <= target:
                return True
            time.sleep(0.5)
        return census() <= target

    docs = spark.createDataFrame([(i, "w " * 5) for i in range(50)],
                                 "doc_id long, text string")
    result = pack_shards(docs, budget=10)
    assert result.count() == 50
    del result
    settle(census())             # flush any strays, then take the base
    base = census()
    for _ in range(4):
        result = pack_shards(docs, budget=10)
        assert result.count() == 50
    del result
    # the old persist() leaked one cached RDD per call (base + 4 here);
    # allow one in-flight entry for cleaner lag
    assert settle(base + 1), (census(), base)


def test_cap_per_domain(spark):
    from weak_supervision_for_ner_spark.operators.textstats import cap_per_domain

    rows = [(i, f"d{i % 3}", 100 - i) for i in range(12)]  # 4 docs per domain
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    got = cap_per_domain(docs, k=2).collect()
    assert len(got) == 6                       # 2 per domain
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["source"], []).append((r["doc_id"], r["domain_rank"]))
    # highest n_chars (lowest doc_id here) wins, rank is 1-based
    assert sorted(by_dom["d0"]) == [(0, 1), (3, 2)]
    assert sorted(by_dom["d1"]) == [(1, 1), (4, 2)]
    # deterministic tiebreak: equal n_chars -> ascending doc_id
    tie = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 5), (3, "x", 5)], "doc_id long, source string, n_chars int"
    )
    kept = sorted(r["doc_id"] for r in cap_per_domain(tie, k=2).collect())
    assert kept == [1, 2]


def test_cap_per_domain_salted_identity(spark):
    """r5 verdict item #5: the salted two-level top-k must be
    output-identical to the single-window form on a corpus with one
    domain >> the others (the hot-domain input the salting exists
    for), and its first stage must partition by (domain, salt) so the
    hot domain spreads over many tasks."""
    rows = [(i, "mega.example.com", (i * 37) % 211, ) for i in range(400)]
    rows += [(1000 + i, f"tiny{i % 7}.org", i, ) for i in range(35)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")

    from weak_supervision_for_ner_spark.operators.textstats import cap_per_domain

    def key(df):
        return sorted((r["doc_id"], r["source"], r["domain_rank"])
                      for r in df.collect())

    single = key(cap_per_domain(docs, k=10, n_salts=1))
    salted = key(cap_per_domain(docs, k=10, n_salts=16))
    assert salted == single and len(single) == 10 + 35
    # plan audit: stage 1 windows over (source, _salt), stage 2 over
    # source only — the hot domain never funnels through one task
    # until it has been capped to <= n_salts*k candidates
    plan = cap_per_domain(docs, k=10, n_salts=16) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, plan


def test_drop_boilerplate_lines(spark):
    from weak_supervision_for_ner_spark.operators.dedup import drop_boilerplate_lines

    rows = [
        (1, "cookie banner\nunique one\nfooter text"),
        (2, "cookie banner\nunique two\nfooter text"),
        (3, "all original\ncontent here"),
        (4, "cookie banner\nfooter text"),          # fully boilerplate
        (5, "  \nunique five"),                      # empty line ignored
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in drop_boilerplate_lines(docs, min_docs=2).collect()}
    assert got[1]["cleaned"] == "unique one" and got[1]["n_dropped"] == 2
    assert got[2]["cleaned"] == "unique two" and got[2]["n_dropped"] == 2
    assert got[3]["cleaned"] == "all original\ncontent here"   # order kept
    assert got[3]["n_dropped"] == 0
    assert got[4]["cleaned"] == "" and got[4]["n_dropped"] == 2
    assert got[5]["cleaned"] == "unique five" and got[5]["n_lines"] == 1


def test_mask_repeated_spans(spark):
    from weak_supervision_for_ner_spark.operators.dedup import mask_repeated_spans

    rows = [
        (1, "A b c d E"),        # shares 'a b c' with doc 2 (case-blind)
        (2, "x a B c y"),
        (3, "p q r s t"),        # unique -> untouched
        (4, "m m m m m m"),      # within-doc repeated window -> fully masked
        (5, "sh Ort"),           # shorter than the span -> untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           mask_repeated_spans(docs, span_tokens=3, min_count=2).collect()}
    # matching is case-insensitive, the rebuild keeps ORIGINAL case
    assert got[1]["cleaned"] == "d E" and got[1]["n_masked"] == 3
    assert got[2]["cleaned"] == "x y" and got[2]["n_masked"] == 3
    assert got[3]["cleaned"] == "p q r s t" and got[3]["n_masked"] == 0
    assert got[4]["cleaned"] == "" and got[4]["n_masked"] == 6
    assert got[5]["cleaned"] == "sh Ort" and got[5]["n_masked"] == 0
    assert got[1]["n_tokens"] == 5
    # null text = empty doc, not an Arrow crash (r5 review)
    nulls = spark.createDataFrame([(9, None), (10, "ok here")],
                                  "doc_id long, text string")
    gn = {r["doc_id"]: r for r in mask_repeated_spans(nulls, 3).collect()}
    assert gn[9]["cleaned"] == "" and gn[9]["n_tokens"] == 0


def test_drop_boilerplate_collision_branch(spark):
    """Force the 64-bit-collision resolution path via the hash test
    seam (a real xxhash64 collision is unreachable): primary hash =
    line length (so distinct same-length lines 'collide'), secondary =
    real xxhash64 (detects it). The exact raw-line recount must drop
    ONLY the genuinely frequent lines inside collided groups."""
    from pyspark.sql import functions as F

    from weak_supervision_for_ner_spark.operators.dedup import drop_boilerplate_lines

    rows = [
        (1, "aaaa\nuniq1x"),      # 'aaaa' frequent; 'bbbb' (same len) rare
        (2, "aaaa\nuniq2xy"),
        (3, "bbbb\nuniq3xyz"),
        (4, "cccc dd\nuniq4xyzw"),  # unique lines only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seam = (lambda c: F.length(c).cast("long"), lambda c: F.xxhash64(c))
    got = {r["doc_id"]: r for r in
           drop_boilerplate_lines(docs, min_docs=2, _hash_exprs=seam).collect()}
    assert got[1]["cleaned"] == "uniq1x" and got[1]["n_dropped"] == 1
    assert got[2]["cleaned"] == "uniq2xy"
    # 'bbbb' collides with 'aaaa' under the fake hash but is rare —
    # the exact recount must KEEP it
    assert got[3]["cleaned"] == "bbbb\nuniq3xyz" and got[3]["n_dropped"] == 0
    assert got[4]["n_dropped"] == 0


def test_drop_boilerplate_is_lazy(spark):
    """r5 advice: building the plan must trigger NO Spark job (the
    old collision probe ran an eager corpus scan at call time) and
    must leave nothing persisted."""
    from weak_supervision_for_ner_spark.operators.dedup import drop_boilerplate_lines

    docs = spark.createDataFrame([(1, "a\nb"), (2, "a\nc")],
                                 "doc_id long, text string")
    sc = spark.sparkContext
    before_cached = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("boilerplate-lazy-check", "plan-only")
    try:
        df = drop_boilerplate_lines(docs, min_docs=2)
        jobs = sc.statusTracker().getJobIdsForGroup("boilerplate-lazy-check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], jobs
    assert sc._jsc.getPersistentRDDs().size() == before_cached
    # and the lazily-built plan still computes the right answer
    got = {r["doc_id"]: r["cleaned"] for r in df.collect()}
    assert got == {1: "b", 2: "c"}
    # the frequency agg feeds BOTH the common-case key set and the
    # collision suspect set; without the load-bearing (nd >= 1)
    # conjunct (see dedup.py) the two subtree instances stop
    # canonicalizing equal and AQE runs the agg's (lh, doc_id)
    # partial shuffle TWICE — assert exactly one materialized
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    freq_stages = re.findall(
        r"ShuffleQueryStage (\d+)\n[^\n]*Exchange "
        r"hashpartitioning\(lh#\d+L, doc_id#\d+L", plan)
    assert len(set(freq_stages)) == 1, plan


def test_drop_boilerplate_plan_partial_agg_no_cartesian(spark):
    """Scale audit: the per-line frequency count must partial-aggregate
    map-side (heavy-hitter shape at 100 TB) and the anti-join must not
    degrade to a cartesian product."""
    from weak_supervision_for_ner_spark.operators.dedup import drop_boilerplate_lines

    docs = spark.createDataFrame([(1, "a\nb"), (2, "a\nc")],
                                 "doc_id long, text string")
    plan = drop_boilerplate_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan                  # map-side combine present
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r5: the frequency agg must shuffle the 8-byte xxhash64(line) key,
    # not raw line strings (an order-of-magnitude shuffle-byte cut on
    # long lines at 100 TB)
    assert "hashpartitioning(lh#" in plan, plan


# ---------------------------------------------------------------------------
# JPEG: independent baseline encoder (tests only) + decoder properties.
# The writer shares NOTHING with functions/jpeg.py: its own zigzag walk
# (diagonal construction), its own direct-cosine DCT, additive quant
# tables and simple fixed-length canonical huffman tables emitted via
# DHT — so a shared-constant bug cannot cancel out in the round-trip.
# ---------------------------------------------------------------------------

def _jpeg_zigzag():
    order = []
    for d in range(15):
        cells = [(j, d - j) for j in range(d + 1) if j < 8 and d - j < 8]
        if d % 2 == 0:
            cells = cells[::-1]
        order += cells
    return order


def _jpeg_dct2(block):
    import numpy as np

    xs = np.arange(8)
    out = np.zeros((8, 8))
    for u in range(8):
        cu = 1 / np.sqrt(2) if u == 0 else 1.0
        cu_cos = np.cos((2 * xs + 1) * u * np.pi / 16)
        for v in range(8):
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            cv_cos = np.cos((2 * xs + 1) * v * np.pi / 16)
            out[u, v] = 0.25 * cu * cv * np.sum(block * np.outer(cu_cos, cv_cos))
    return out


class _JpegBW:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bits(self, v, n):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)      # byte stuffing
                self.acc = 0
                self.n = 0

    def sym(self, code_map, s):
        code, length = code_map[s]
        self.bits(code, length)

    def align(self):
        while self.n:
            self.bits(1, 1)


def _jpeg_bytes(img, subsample=False, restart=0):
    """Minimal baseline JFIF writer (tests only). img: float in [0,1],
    (h, w) grayscale or (h, w, 3) RGB. subsample=True emits 4:2:0."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.float64) * 255.0
    gray = img.ndim == 2
    h, w = img.shape[:2]
    zig = _jpeg_zigzag()
    # additive (non-flat) quant tables: any zigzag mistake in DQT
    # parsing or coefficient placement shifts values visibly
    qy = (np.add.outer(np.arange(8.0), np.arange(8.0)) + 1.0)
    qy[0, 0] = 1.0
    qc = 2.0 * (np.add.outer(np.arange(8.0), np.arange(8.0)) + 1.0)

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    dc_map = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac_map = {s: (i, 8) for i, s in enumerate(ac_syms)}

    def dht(tc, th, syms, length):
        counts = [0] * 16
        counts[length - 1] = len(syms)
        body = bytes([tc << 4 | th]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body

    def dqt(tq, q):
        body = bytes([tq]) + bytes(int(q[r, c]) for r, c in zig)
        return b"\xff\xdb" + struct.pack(">H", 2 + len(body)) + body

    if gray:
        ycc = [img]
        samp = [(1, 1)]
        qs = [qy]
    else:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def down(p):
                ph = p.shape[0] + (p.shape[0] & 1)
                pw = p.shape[1] + (p.shape[1] & 1)
                p = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                           mode="edge")
                return (p[0::2, 0::2] + p[1::2, 0::2]
                        + p[0::2, 1::2] + p[1::2, 1::2]) / 4.0

            ycc = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            ycc = [y, cb, cr]
            samp = [(1, 1)] * 3
        qs = [qy, qc, qc]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for p, (sh, sv) in zip(ycc, samp):
        th, tw = mcuy * sv * 8, mcux * sh * 8
        planes.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                             mode="edge"))

    bw = _JpegBW()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                bw.align()
                bw.buf += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, (p, (sh, sv), q) in enumerate(zip(planes, samp, qs)):
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        coeffs = _jpeg_dct2(p[y0:y0 + 8, x0:x0 + 8] - 128.0)
                        qz = [int(round(coeffs[r, c] / q[r, c])) for r, c in zig]
                        diff = qz[0] - preds[ci]
                        preds[ci] = qz[0]
                        s = abs(diff).bit_length()
                        bw.sym(dc_map, s)
                        if s:
                            bw.bits(diff if diff >= 0 else diff + (1 << s) - 1, s)
                        run = 0
                        for k in range(1, 64):
                            v = qz[k]
                            if v == 0:
                                run += 1
                                continue
                            while run >= 16:
                                bw.sym(ac_map, 0xF0)
                                run -= 16
                            s2 = abs(v).bit_length()
                            bw.sym(ac_map, (run << 4) | s2)
                            bw.bits(v if v >= 0 else v + (1 << s2) - 1, s2)
                            run = 0
                        if run:
                            bw.sym(ac_map, 0x00)
    bw.align()

    out = bytearray(b"\xff\xd8")
    out += dqt(0, qy)
    if not gray:
        out += dqt(1, qc)
    ncomp = 1 if gray else 3
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        tq = 0 if ci == 0 else 1
        sof += bytes([ci + 1, samp[ci][0] << 4 | samp[ci][1], tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    out += dht(0, 0, dc_syms, 4) + dht(1, 0, ac_syms, 8)
    if not gray:
        out += dht(0, 1, dc_syms, 4) + dht(1, 1, ac_syms, 8)
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, t << 4 | t])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_test_image(h, w, color=False):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    base = (np.sin(xx / 9.0) + np.cos(yy / 7.0) + 2.0) / 4.0
    if not color:
        return base
    return np.stack([base, base[::-1], np.full((h, w), 0.5)], axis=2)


def test_jpeg_decoder_grayscale_roundtrip():
    import numpy as np

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    # odd dimensions: exercises MCU padding + final crop
    img = _jpeg_test_image(13, 21)
    out = decode_jpeg(_jpeg_bytes(img))
    assert out.shape == (13, 21)
    assert np.abs(out - img).max() < 0.02, np.abs(out - img).max()
    # flat image = DC-only path, near-exact
    flat = np.full((8, 8), 0.4)
    assert np.abs(decode_jpeg(_jpeg_bytes(flat)) - 0.4).max() < 0.005


def test_jpeg_decoder_color_444_and_420():
    import numpy as np

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    img = _jpeg_test_image(24, 17, color=True)
    want = img.mean(axis=2)
    out444 = decode_jpeg(_jpeg_bytes(img))
    assert out444.shape == (24, 17)
    assert np.abs(out444 - want).max() < 0.02, np.abs(out444 - want).max()
    out420 = decode_jpeg(_jpeg_bytes(img, subsample=True))
    assert out420.shape == (24, 17)
    # chroma is box-downsampled then nearest-upsampled: looser bound
    assert np.abs(out420 - want).max() < 0.06, np.abs(out420 - want).max()


def test_jpeg_decoder_restart_markers():
    import numpy as np

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    img = _jpeg_test_image(16, 40)           # 10 MCUs -> 4 restarts at DRI=2
    plain = decode_jpeg(_jpeg_bytes(img))
    with_rst = decode_jpeg(_jpeg_bytes(img, restart=2))
    assert np.allclose(plain, with_rst, atol=1e-9)


def test_jpeg_decoder_rejections():
    import struct

    import pytest

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # progressive (SOF2) must point at the register_decoder seam
    good = bytearray(_jpeg_bytes(_jpeg_test_image(8, 8)))
    sof = good.find(b"\xff\xc0")
    good[sof + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="register_decoder"):
        decode_jpeg(bytes(good))
    # truncated scan: must error, not loop
    trunc = _jpeg_bytes(_jpeg_test_image(16, 16))[:-40]
    with pytest.raises((ValueError, IndexError)):
        decode_jpeg(trunc)
    # 12-bit extended-sequential: reject, never decode to garbage
    deep = bytearray(_jpeg_bytes(_jpeg_test_image(8, 8)))
    sof12 = deep.find(b"\xff\xc0")
    deep[sof12 + 4] = 12                      # sample-precision byte
    with pytest.raises(NotImplementedError, match="precision"):
        decode_jpeg(bytes(deep))
    # several single-component scans (legal non-interleaved baseline):
    # the scope error must fire before entropy decode, not a KeyError
    color = _jpeg_bytes(_jpeg_test_image(8, 8, color=True))
    sos = color.find(b"\xff\xda")
    partial_sos = b"\xff\xda\x00\x08" + bytes([1, 1, 0x00, 0, 63, 0])
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg(color[:sos] + partial_sos + b"\x00\xff\xd9")


def test_jpeg_decoder_fill_bytes():
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF
    fill bytes — real encoders emit them, the parser must skip them."""
    import numpy as np

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    img = _jpeg_test_image(11, 9)
    good = _jpeg_bytes(img)
    dqt = good.find(b"\xff\xdb")
    padded = good[:dqt] + b"\xff\xff\xff" + good[dqt:]
    assert np.allclose(decode_jpeg(padded), decode_jpeg(good), atol=1e-12)


def test_real_jpeg_through_spark_stages(spark):
    """REAL huffman-coded JPEG bytes through extract_features and
    resize_images with NO registered decoder — the builtin magic-byte
    decoder closes the lossy-image modality end-to-end."""
    import numpy as np

    from weak_supervision_for_ner_spark.operators import multimodal as mm

    mm._DECODER = None
    img = np.zeros((16, 16, 3))
    img[:8] = 1.0                          # top half white
    payload = _jpeg_bytes(img, subsample=True)
    media = spark.createDataFrame(
        [("jpg1", "image", "image/jpeg", bytearray(payload), 16, 16, None)],
        schema=mm.MEDIA_SCHEMA,
    )
    feats = {r["media_id"]: r for r in mm.extract_features(media, dim=8).collect()}
    assert feats["jpg1"]["n_bytes"] == len(payload)
    resized = {r["media_id"]: r for r in mm.resize_images(media, 2, 2).collect()}
    px = np.array(resized["jpg1"]["pixels"]).reshape(2, 2)
    assert np.all(px[0] > 0.9) and np.all(px[1] < 0.1), px


def test_jpeg_decoder_randomized_roundtrip():
    """Seeded randomized property sweep: random dimensions (including
    MCU-boundary and sub-block sizes), gray/color, 4:4:4/4:2:0, with
    and without restart markers — decoded output must track the
    encoder's input within quantization tolerance everywhere."""
    import numpy as np

    from weak_supervision_for_ner_spark.functions.jpeg import decode_jpeg

    rng = np.random.default_rng(20260817)
    for trial in range(12):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        color = bool(rng.integers(0, 2))
        subsample = color and bool(rng.integers(0, 2))
        restart = int(rng.choice([0, 0, 1, 3]))
        # smooth low-frequency content: quantization error stays small,
        # so the tolerance actually certifies the transform chain
        yy, xx = np.mgrid[0:h, 0:w]
        fx, fy = rng.uniform(0.02, 0.2, size=2)
        base = (np.sin(xx * fx) * np.cos(yy * fy) + 1.0) / 2.0
        if color:
            img = np.stack([base, base ** 2, 1.0 - base], axis=2)
            want = img.mean(axis=2)
        else:
            img = base
            want = base
        out = decode_jpeg(_jpeg_bytes(img, subsample=subsample, restart=restart))
        assert out.shape == (h, w), (trial, h, w)
        tol = 0.06 if subsample else 0.03
        err = np.abs(out - want).max()
        assert err < tol, (trial, h, w, color, subsample, restart, err)


def test_canonicalize_urls(spark):
    from weak_supervision_for_ner_spark.operators.urls import canonicalize_urls

    rows = [
        (1, "HTTP://WWW.Example.COM:80/a/?utm_source=x&b=2&a=1#frag"),
        (2, "http://Example.com/a?a=1&b=2&gclid=zz"),   # same page as 1
        (3, "https://Site.org:443/"),
        (4, "https://site.org"),                        # same page as 3
        (5, "https://site.org:8443/x/"),                # non-default port kept
        (6, "not a url at all"),                        # passthrough
        (7, "http://host.net/p?fbclid=1&msclkid=2&utm_campaign=c"),  # all tracked
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in canonicalize_urls(docs).collect()}
    assert got[1]["canonical_url"] == "http://example.com/a?a=1&b=2"
    assert got[2]["canonical_url"] == got[1]["canonical_url"]
    assert got[1]["n_same_url"] == 2 and got[2]["n_same_url"] == 2
    assert got[3]["canonical_url"] == "https://site.org/"
    assert got[4]["canonical_url"] == "https://site.org/"
    assert got[3]["n_same_url"] == 2
    assert got[5]["canonical_url"] == "https://site.org:8443/x"
    assert got[6]["canonical_url"] == "not a url at all"
    assert got[6]["n_same_url"] == 1
    assert got[7]["canonical_url"] == "http://host.net/p"
    # group key semantics: url_group equal iff canonical equal (the
    # contract gate drops this column - DuckDB has no xxhash64)
    for a in got.values():
        for b in got.values():
            assert (a["url_group"] == b["url_group"]) == (
                a["canonical_url"] == b["canonical_url"])


def test_unigram_logprob(spark):
    import math

    import pytest

    from weak_supervision_for_ner_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "the dog"), (3, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # counts: the=2, cat=1, dog=1 -> N=4, V=3; p(the)=3/7, p(cat)=2/7
    want1 = (math.log(3 / 7) + math.log(2 / 7)) / 2
    assert got[1]["n_tokens"] == 2
    assert abs(got[1]["avg_logprob"] - round(want1, 6)) < 1e-6
    assert abs(got[1]["ppl"] - round(math.exp(-want1), 4)) < 1e-3
    assert got[2]["avg_logprob"] == got[1]["avg_logprob"]  # symmetric corpus
    assert got[3]["n_tokens"] == 0 and got[3]["ppl"] == 0.0
    # external model: OOV must be explicit, never silently dropped
    lm = spark.createDataFrame([("the", -1.0)], "tok string, logprob double")
    with pytest.raises(ValueError, match="oov"):
        unigram_logprob(docs, lm=lm)
    ext = {r["doc_id"]: r for r in
           unigram_logprob(docs, lm=lm, oov_logprob=-10.0).collect()}
    assert abs(ext[1]["avg_logprob"] - (-5.5)) < 1e-9  # (-1 + -10) / 2
    # plan-only laziness (the drop_boilerplate rule): deriving the
    # self-lm must not run an eager totals job
    sc = spark.sparkContext
    sc.setJobGroup("unigram-lazy-check", "plan-only")
    try:
        unigram_logprob(docs)
        jobs = sc.statusTracker().getJobIdsForGroup("unigram-lazy-check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == [], jobs


def test_new_ops_plan_audit(spark):
    """Scale audit for the r6 additions: canonicalize_urls' canonical
    form is pure codegen (no python, and only the ONE count shuffle on
    the group key); unigram_logprob runs no python either and its lm
    totals ride a broadcast, not a collect."""
    from weak_supervision_for_ner_spark.operators.textstats import unigram_logprob
    from weak_supervision_for_ner_spark.operators.urls import canonicalize_urls

    docs = spark.createDataFrame(
        [(1, "http://a.com/x", "t one"), (2, "http://b.com/y", "t two")],
        "doc_id long, url string, text string")

    uplan = canonicalize_urls(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in uplan and "ArrowEvalPython" not in uplan
    assert uplan.count("Exchange hashpartitioning") <= 2, uplan  # count agg + join align

    lplan = unigram_logprob(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in lplan and "ArrowEvalPython" not in lplan
    assert "BroadcastNestedLoopJoin" in lplan or "BroadcastExchange" in lplan, lplan
