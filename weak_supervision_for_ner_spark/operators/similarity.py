"""Approximate-nearest-neighbour search over an embedding column.

Baseline: brute-force cosine top-k (broadcast the query set, one
narrow pass over the corpus, per-partition top-k then global top-k —
no full sort). Scale path: random-hyperplane LSH bucketing (signed
projections -> bucket key) that prunes the corpus before the exact
re-rank; IVF-style coarse quantization is the same pattern with
learned centroids.

Kernels: the exact scan's inner loop is an Arrow-batched numpy cosine
matmul with map-side partial top-k (the 100-TB shape). The bucketed
(LSH/IVF) indexes re-rank their probed candidate pairs in the JVM
(``_rerank_topk``): no Python worker, and the same rounding and
tie-break as the scan, so the recall queries compare like with like.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


# ---------------------------------------------------------------------------
# Codegen-friendly JVM kernels (optimization round r7)
#
# Higher-order functions (aggregate/zip_with) are CodegenFallback
# expressions: every per-pair cosine in the JVM paths was interpreted,
# at ~13.5 us/pair, and recomputed BOTH norms per pair. The helpers
# below keep bit-identical float semantics while moving the work into
# whole-stage codegen:
#
# - norms are computed ONCE per row (same expression, so the same
#   double) and carried through the join instead of re-derived per
#   pair (guide §1.2 "don't compute things you throw away");
# - the per-pair dot product unrolls into a literal left-fold
#   0.0 + v[0]*q[0] + v[1]*q[1] + ... when the array length is known,
#   which is EXACTLY aggregate(zip_with(...))'s fold order (the HOF
#   folds ((0.0 + x0) + x1) + ...; IEEE 0.0 + x == x for every finite
#   x, and both sides sum the identical products left to right), so
#   cosines are bit-identical — asserted by the brute-force parity
#   tests and the DuckDB oracle rows;
# - rows whose array length does NOT match the caller's dimension fall
#   back to the original HOF expression inside a CASE WHEN branch
#   (evaluated lazily, so well-formed rows never pay it), preserving
#   the zip_with null-padding semantics for ragged inputs.
# ---------------------------------------------------------------------------

def _dot_pair(va: str, vb: str, dim: int | None):
    """Pairwise dot product, codegen-unrolled when ``dim`` is known."""
    hof = F.aggregate(F.zip_with(va, vb, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    if dim is None:
        return hof
    expr = F.lit(0.0)
    for i in range(dim):
        expr = expr + F.col(va)[i] * F.col(vb)[i]
    return F.when(
        (F.size(F.col(va)) == dim) & (F.size(F.col(vb)) == dim), expr
    ).otherwise(hof)


def _clamped_norm(vec_col: str):
    """greatest(sqrt(sum x^2), 1e-12) — the per-row factor of the
    cosine denominator, hoisted out of the pair loop.

    Clamped like the numpy scan (max(norm, 1e-12)): a zero-norm vector
    (failed encoder, padding row) then scores 0. Unclamped it would
    yield NaN, which Spark's descending sort ranks ABOVE every real
    cosine, or raise DIVIDE_BY_ZERO under ANSI mode."""
    return F.greatest(
        F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)),
        F.lit(1e-12),
    )


def _rerank_topk(cand: DataFrame, k: int, id_col: str, vec_col: str,
                 dim: int | None) -> DataFrame:
    """Exact top-k of candidate pairs: ``cand`` carries the corpus side
    (``id_col``, ``vec_col``, clamped norm ``_cn``) and the query side
    (``query_id``, ``qvec``, clamped norm ``_qn``), norms computed once
    per row before the pair join. Cosines are rounded to 6 dp BEFORE
    ranking (cosine desc, then neighbor id asc), as the numpy scan
    does."""
    cosine = F.round(
        _dot_pair(vec_col, "qvec", dim) / (F.col("_cn") * F.col("_qn")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        cand.withColumn("cosine", cosine)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine",
                F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, embedding) — small by contract (bounded by
    ``max_queries``; raise it consciously, the query matrix is
    broadcast).

    The query matrix is collected once, L2-normalized and broadcast as
    ONE numpy array; each corpus Arrow batch computes a (batch x nq)
    cosine matmul and emits only its LOCAL top-k rows per query, so the
    final global window ranks nq*k*n_batches rows instead of
    nq*corpus. Python crosses Arrow once per batch with zero per-pair
    work — on this box ~25x the higher-order-function plan
    (13.5 us/pair -> BLAS). This is the exact-baseline shape you want
    at 100 TB: full scan, vectorized kernel, partial top-k map-side.

    Cosines are rounded to 6 decimals BEFORE ranking and ties break by
    ascending neighbor id, exactly as ``_rerank_topk`` ranks, so the
    two are identical row-for-row (asserted by tests).

    Not fully lazy: building the plan runs one eager Spark job, the
    query collect."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select("query_id", F.col(vec_col).alias("qvec")) \
                    .limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"more than {max_queries} query vectors; the query matrix is "
            "broadcast — raise max_queries explicitly if that is intended"
        )
    spark = embeddings.sparkSession
    if not q_rows:
        schema = "query_id long, neighbor_id long, cosine double, rank long"
        return spark.createDataFrame([], schema)
    qids = np.array([r["query_id"] for r in q_rows])
    qmat = np.array([list(r["qvec"]) for r in q_rows], dtype=np.float64)
    qnorm = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    bc = spark.sparkContext.broadcast((qids, qnorm))

    part_schema = T.StructType([
        T.StructField("query_id", queries.schema["query_id"].dataType),
        T.StructField("neighbor_id", embeddings.schema[id_col].dataType),
        T.StructField("cosine", T.DoubleType()),
    ])

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, qn = bc.value
        nq = len(ids_b)
        for pdf in batches:
            if not len(pdf):
                continue
            # np.stack on the Arrow-decoded row arrays replaces the
            # per-row list() round-trip (identical float64 values,
            # ~10x less conversion overhead per batch — r7)
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            raw = Xn @ qn.T                           # (batch, nq)
            scores = _round_half_up6(raw)
            cids = pdf[id_col].to_numpy()
            scores[cids[:, None] == ids_b[None, :]] = -np.inf  # self-match
            kk = min(k, len(cids))
            # local top-k per query with the GLOBAL tie-break
            # (cosine desc, id asc): lexsort on (-score, id)
            order = np.lexsort((cids[:, None] * np.ones((1, nq)),
                                -scores), axis=0)[:kk]   # (kk, nq)
            rows = []
            for j in range(nq):
                for i in order[:, j]:
                    if np.isfinite(scores[i, j]):
                        rows.append((ids_b[j], cids[i], float(scores[i, j])))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine"])

    local = embeddings.select(F.col(id_col), F.col(vec_col)) \
                      .mapInPandas(local_topk, schema=part_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _round_half_up6(x: "np.ndarray") -> "np.ndarray":
    """HALF_UP at 6 decimals — matches Spark's F.round EXACTLY.

    F.round on a double goes through BigDecimal.valueOf(d) (shortest
    decimal repr) then setScale(6, HALF_UP); the vectorized binary-float
    fast path (|x|*1e6+0.5) can disagree with that by one 1e-6 step
    when x sits within an ulp of a .5 boundary. Those rare elements are
    detected and re-rounded through Decimal(repr(x)) — the exact
    BigDecimal.valueOf mirror — so kernel outputs really are
    row-identical, not just row-identical-away-from-boundaries
    (r4 advice). The Decimal loop touches only elements within 1e-9 of
    a boundary: vanishingly few, so the BLAS-speed path is unaffected."""
    y = np.floor(np.abs(x) * 1e6 + 0.5) / 1e6 * np.sign(x)
    frac = np.abs(x) * 1e6
    near = np.abs(frac - np.floor(frac) - 0.5) < 1e-9
    if near.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        yf, xf = y.reshape(-1), np.asarray(x, dtype=np.float64).reshape(-1)
        for i in np.nonzero(near.reshape(-1))[0]:
            yf[i] = float(Decimal(repr(float(xf[i]))).quantize(q, ROUND_HALF_UP))
    return y


def random_hyperplanes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def hyperplane_bucket(vec_col: str, planes: list[list[float]]):
    """LSH bucket key: sign bits of <v, plane_i> packed into a long.

    Kept in aggregate/zip_with HOF form on purpose: an r7 experiment
    unrolling each projection into literal element terms (plus the HOF
    fallback branch for ragged rows) blew the expression tree up to
    thousands of nodes per bucketing pass, ~tripling wall-clock via
    optimizer + codegen cost (ann_lsh 2.4s -> 6.3s at sf1.0); the
    bucketing pass is O(corpus), not O(pairs), so interpreted HOF is
    the cheaper regime here. The unroll stays where it pays: the
    per-PAIR dot (_dot_pair)."""
    key = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(x)) for x in plane]),
                       lambda x, p: x * p),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        key = key + F.when(proj > 0, F.lit(2 ** i)).otherwise(F.lit(0)).cast("long")
    return key


def lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
) -> DataFrame:
    """ANN: bucket corpus + queries by hyperplane signs, exact re-rank
    within the bucket join. Trades recall for a candidate set that
    shrinks ~2^planes-fold."""
    planes = random_hyperplanes(dim, n_planes, seed)
    # per-row norms hoisted out of the candidate pair loop (r7)
    corpus_b = embeddings.withColumn(
        "bucket", hyperplane_bucket(vec_col, planes)
    ).withColumn("_cn", _clamped_norm(vec_col))
    queries_b = queries.select(
        "query_id", F.col(vec_col).alias("qvec")
    ).withColumn("bucket", hyperplane_bucket("qvec", planes)).withColumn(
        "_qn", _clamped_norm("qvec")
    )
    cand = (
        corpus_b.join(F.broadcast(queries_b), "bucket")
        .filter(F.col("query_id") != F.col(id_col))
    )
    # dim is a caller contract here (it sized the planes)
    return _rerank_topk(cand, k, id_col, vec_col, dim)


def _recall_vs_exact(exact, approx, approx_col: str, k: int):
    """Per-query recall@k of an approximate neighbor set vs the exact
    top-k: (query_id, n_hits, recall). Shared by lsh_recall/ivf_recall."""
    hits = (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["neighbor_id"] == approx[approx_col]),
            "left",
        )
        .select(exact["query_id"], approx[approx_col])
        .groupBy("query_id")
        .agg(F.count(approx_col).alias("n_hits"))
    )
    return hits.select(
        "query_id", "n_hits", (F.col("n_hits") / F.lit(k)).alias("recall")
    )


def lsh_recall(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_planes: int = 8, dim: int = 64,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
) -> DataFrame:
    """Recall@k of the LSH index vs the exact brute-force top-k, one
    row per query: (query_id, n_hits, recall). This turns the
    approximate index into a CHECKABLE operator — the metric is
    deterministic (seeded planes, deterministic tie-breaks), so an
    oracle can assert it instead of trusting 'runs without error'."""
    exact = brute_force_topk(embeddings, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = lsh_topk(embeddings, queries, k, n_planes, dim, id_col, vec_col, seed).select(
        "query_id", F.col("neighbor_id").alias("lsh_neighbor")
    )
    return _recall_vs_exact(exact, approx, "lsh_neighbor", k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: learned coarse quantizer + cell-probed re-rank
# ---------------------------------------------------------------------------

def kmeans_centroids_from_matrix(X: "np.ndarray", k: int = 8, n_iter: int = 5) -> list[list[float]]:
    """Deterministic spherical k-means (Lloyd) in plain numpy — shared
    by the Spark index builder AND the DuckDB oracle generator so both
    derive bit-identical centroid literals. Init = first k rows;
    centroids are L2-normalized and rounded to 6 dp for stable
    cross-engine literals; empty cells keep their previous centroid."""
    X = np.asarray(X, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:k].copy()
    for _ in range(n_iter):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return np.round(C, 6).tolist()


def ivf_centroids(
    embeddings: DataFrame, k: int = 8, n_iter: int = 5, sample_limit: int = 256,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> list[list[float]]:
    """Train the coarse quantizer on a deterministic sample slice
    (id < sample_limit, ordered) — bounded driver work at any corpus
    size; the centroid table is tiny and broadcast via literals."""
    rows = (
        embeddings.filter(F.col(id_col) < sample_limit)
        .orderBy(id_col).select(vec_col).collect()
    )
    X = [list(map(float, r[vec_col])) for r in rows]
    return kmeans_centroids_from_matrix(np.array(X), k, n_iter)


def _cell_scores(vec_col: str, centroids: list[list[float]]):
    """Array of <v, centroid_c> dot products (centroids unit-norm, so
    argmax dot == argmax cosine). HOF form on purpose — see
    hyperplane_bucket's note: callers duplicate this array expression
    (array_position(scores, array_max(scores))), so the unrolled form
    doubled a multi-thousand-node tree and regressed 2x."""
    return F.array(*[
        F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(x)) for x in c]),
                       lambda x, p: x * p),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        for c in centroids
    ])


def ivf_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_cells: int = 8, nprobe: int = 2, sample_limit: int = 256,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: assign every corpus vector to its nearest centroid cell
    (one narrow codegen pass), probe each query's ``nprobe`` best cells,
    exact cosine re-rank inside the probed cells. The candidate set
    shrinks ~n_cells/nprobe-fold; the cell join shuffles on the small
    cell key only."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_cells, sample_limit=sample_limit,
                                  id_col=id_col, vec_col=vec_col)
    scores = _cell_scores(vec_col, centroids)
    # norm once per corpus row, BEFORE the cell join fans each row out
    # to every query probing its cell (r7)
    corpus = embeddings.withColumn(
        "cell", F.array_position(scores, F.array_max(scores)).cast("int")
    ).withColumn("_cn", _clamped_norm(vec_col))
    qs = queries.select(
        "query_id", F.col(vec_col).alias("qvec")
    ).withColumn("scores", _cell_scores("qvec", centroids))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cell"))
    qcells = (
        qs.select("query_id", F.posexplode("scores").alias("pos", "score"))
        .withColumn("cell", (F.col("pos") + 1).cast("int"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", "cell")
    )
    cand = (
        corpus.join(F.broadcast(qcells), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .join(
            F.broadcast(
                qs.select("query_id", "qvec", _clamped_norm("qvec").alias("_qn"))
            ),
            "query_id",
        )
    )
    # centroid dimensionality doubles as the unroll dim
    return _rerank_topk(cand, k, id_col, vec_col,
                        len(centroids[0]) if centroids else None)


def ivf_recall(
    embeddings: DataFrame, queries: DataFrame, k: int = 5,
    n_cells: int = 8, nprobe: int = 2, sample_limit: int = 256,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF index vs the exact brute-force top-k — the
    same checkable-metric shape as lsh_recall."""
    exact = brute_force_topk(embeddings, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_topk(
        embeddings, queries, k, n_cells, nprobe, sample_limit, id_col, vec_col
    ).select("query_id", F.col("neighbor_id").alias("ivf_neighbor"))
    return _recall_vs_exact(exact, approx, "ivf_neighbor", k)
