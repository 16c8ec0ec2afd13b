"""Approximate nearest neighbor search over embedding columns.

Brute-force cosine top-k (queries/llm_ops.py::s_cosine_topk_bruteforce,
oracle-checked) is the correctness baseline. This module holds the
scale paths (SURVEY §7 phase 6 / north star):

- random-hyperplane LSH (:func:`ann_topk_lsh`): each vector maps to a
  small bit-signature bucket; a query probes its bucket plus
  single-bit flips, and no index is trained;
- IVF-flat (:func:`ann_topk_ivf`): vectors are assigned to their
  nearest centroid cell (:func:`ivf_assign`, centroids from
  :func:`kmeans_fit`); a query scores only its ``nprobe`` nearest
  cells;
- product quantization (:func:`pq_train`, :func:`pq_encode`,
  :func:`pq_topk`): m small codes per vector, scored by
  asymmetric-distance lookups, with an optional exact rerank;
- IVF-PQ (:func:`ann_topk_ivfpq`): the two combined, one shot;
- :class:`IvfIndex`: the persisted IVF or IVF-PQ index, written
  ``partitionBy('list_id')`` so a probe is a partition-pruned read,
  with incremental append against frozen centroids.

Each step of these cascades has one implementation here, shared by
the one-shot functions and :class:`IvfIndex`: the seedless sample
(:func:`_sample`, :func:`_stride`), the probe ranking (:func:`_probe`),
the nearest-centroid argmax (:func:`_nearest_centroid`), the PQ block
encoder (:func:`_pq_codes`), the ADC table and rerank tail
(:func:`_adc_table`, :func:`_adc_rerank`) and the zero-norm-guarded
cosine top-k (:func:`_cosine_topk`).

Hyperplanes are deterministic (random.Random(4242) gaussians), so
bucket assignments are stable across runs — signatures can be
precomputed once and reused incrementally.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit, pandas_udf
from pyspark.sql.types import IntegerType

from ..operators.checkpoint import materialize
from ..operators.skew import fan_out


def _planes(dim: int, n_planes: int, seed: int = 4242) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def dot(a, b):
    """Dot product of two array columns as a JVM ``aggregate`` over
    ``zip_with``, each element cast to double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        lit(0.0),
        lambda acc, v: acc + v,
    )


def plane_matrix(dim: int, n_planes: int, quantize: bool = False):
    """(n_planes, dim) float64 plane matrix; ``quantize`` rounds the
    gaussians to integer-valued doubles (×1000) so plane·vector dots on
    likewise-quantized vectors are exact integers — sign bits then
    reproduce bit-for-bit in any engine/accumulation order (the same
    ×1000 trick the cosine oracles use)."""
    P = np.array(_planes(dim, n_planes), dtype=np.float64)
    return np.round(P * 1000.0) if quantize else P


def _bucket_of(vectors, P):
    """numpy (n, dim) × plane matrix → int bucket ids (sign bits packed)."""
    signs = (vectors @ P.T) >= 0  # (n, n_planes)
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)
    return (signs @ weights).astype(np.int32)


def _sample(embeddings: DataFrame, order, n_rows: int, id_col: str, vec_col: str):
    """The first ``n_rows`` vectors in ``order`` (a tuple of sort
    columns), collected as float lists: the bounded, seedless sample
    every centroid init and PQ training set is drawn from."""
    rows = embeddings.orderBy(*order).select(id_col, vec_col).limit(n_rows).collect()
    return [[float(x) for x in r[vec_col]] for r in rows]


def _stride(vectors: list, n_centroids: int) -> list:
    """Every ``len/n``-th vector, ``n`` of them: the deterministic
    centroid init."""
    step = max(len(vectors) // n_centroids, 1)
    return vectors[::step][:n_centroids]


def _probe(centroids: list, query_vec: list[float], nprobe: int) -> list[int]:
    """Ids of the ``nprobe`` cells whose centroids are nearest the query
    by cosine, ties to the lower id. Plain Python floats on purpose: a
    numpy matmul may sum in another order, and near-ties on
    unquantized vectors would then reorder the probes."""

    def pysim(c: list[float]) -> float:
        d = sum(a * b for a, b in zip(query_vec, c))
        nq = sum(a * a for a in query_vec) ** 0.5
        nc = sum(a * a for a in c) ** 0.5
        return d / (nq * nc) if nq and nc else 0.0

    return sorted(range(len(centroids)), key=lambda i: -pysim(centroids[i]))[:nprobe]


def _cosine_topk(
    candidates: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    cell_col: str,
) -> DataFrame:
    """(id, cell_col, cosine) of the ``k`` candidates nearest the query,
    ties to the lower id. Zero-norm vectors are dropped first: their
    cosine is 0/0, which raises ``DIVIDE_BY_ZERO`` under ANSI and is a
    NaN otherwise — and Spark sorts NaN as the largest double, so one
    zero vector would head every descending top-k (ADVICE r7). The
    oracles apply the same predicate."""
    qarr = F.array(*[lit(float(v)) for v in query_vec])
    qnorm = sum(v * v for v in query_vec) ** 0.5
    norm = F.sqrt(dot(col(vec_col), col(vec_col)))
    scored = candidates.filter(norm > 0).select(
        id_col, cell_col, (dot(col(vec_col), qarr) / (norm * lit(qnorm))).alias("cosine")
    )
    return scored.orderBy(col("cosine").desc(), col(id_col)).limit(k)


def hyperplane_buckets(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 12,
    vec_col: str = "embedding",
    quantize_planes: bool = False,
) -> DataFrame:
    """Attach the LSH bucket id (int of n_planes sign bits) per vector.

    Index-build path: one Arrow-vectorized pandas UDF doing the whole
    (batch × planes) sign matrix in a single numpy matmul. The earlier
    JVM formulation (n_planes chained aggregate/zip_with folds with the
    plane values inlined as n_planes×dim literals) ran interpreted AND
    bloated the plan at high dim; the plane matrix now travels once in
    the UDF closure. Query-side bucket ids use the same numpy matmul
    (:func:`ann_topk_lsh`), so corpus and query bucketing agree
    bit-for-bit.
    """
    P = plane_matrix(dim, n_planes, quantize_planes)

    @pandas_udf(IntegerType())
    def _bucket_udf(vecs: pd.Series) -> pd.Series:
        E = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(_bucket_of(E, P))

    return embeddings.withColumn("bucket", _bucket_udf(col(vec_col)))


def _nearest_centroid(X, centroids):
    """numpy cosine-argmax cell ids of the (n, dim) vectors ``X``:
    ``dot / (||x|| * ||c||)`` in the SQL oracle's operation order, ties
    to the lowest cell id (the oracle's ``row_number`` order), and a
    zero norm counts as 1. On quantized integer-valued vectors every
    dot is exact, so assignments reproduce bit-for-bit in any engine."""
    C = np.asarray(centroids, dtype=np.float64)  # (K, dim)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0.0] = 1.0
    en = np.sqrt((X * X).sum(axis=1))
    en[en == 0.0] = 1.0
    sims = (X @ C.T) / (en[:, None] * cn[None, :])
    return np.argmax(sims, axis=1)


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the IVF inverted-list id (nearest centroid by cosine).

    Index-build path, map-only and Arrow-vectorized: the (K, dim)
    centroid matrix ships once in the UDF closure and each Arrow batch
    is one (batch × K) numpy matmul + argmax (:func:`_nearest_centroid`,
    which :meth:`IvfIndex.build` also calls driver-side for residuals).
    The earlier JVM formulation broadcast-joined K centroid ROWS onto
    every vector (K× row explosion) and scored each pair with
    interpreted aggregate/zip_with folds — a constant-factor drag
    exactly where an index build spends its time. On a real cluster
    the assigned table is written ``partitionBy('list_id')`` once and
    probes are partition-pruned reads.
    """
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def _assign_udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        E = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(_nearest_centroid(E, C).astype(np.int32))

    return fan_out(embeddings).select(
        col(id_col), _assign_udf(col(vec_col)).alias("list_id"), col(vec_col)
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means over an embedding column.

    Init = every n/k-th of the first ``8k`` vectors by id (seedless,
    engine-stable); ``iters=0`` returns that init, which is what
    :func:`ann_topk_ivf` uses by default. Each iteration:

    1. assign: map-only vectorized cosine argmax (:func:`ivf_assign`);
    2. update: ``posexplode`` the vectors → partial-agg ``SUM``/count
       per (list, dimension) → one narrow shuffle of K×dim partial
       sums, never of vectors — the scalable centroid update;
    3. collect the K×dim centroid matrix to the driver (bounded,
       independent of corpus size) for the next broadcast.

    Empty cells keep their previous centroid. On quantized
    (integer-valued) vectors every partial sum is exact, so the fit is
    deterministic under any partitioning; the mean's single division
    is the only rounding.
    """
    centroids = _stride(_sample(embeddings, (id_col,), k * 8, id_col, vec_col), k)

    for _ in range(iters):
        assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
        sums = (
            assigned.select(
                "list_id", F.posexplode(col(vec_col)).alias("dim", "x")
            )
            .groupBy("list_id", "dim")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_list: dict[int, dict[int, float]] = {}
        for row in sums:
            by_list.setdefault(row["list_id"], {})[row["dim"]] = row["s"] / row["n"]
        centroids = [
            [by_list[li][d] for d in range(len(centroids[li]))]
            if li in by_list
            else centroids[li]
            for li in range(len(centroids))
        ]
    return centroids


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-flat ANN: probe the `nprobe` centroid cells nearest the query.

    Centroids come from :func:`kmeans_fit` with ``kmeans_iters``
    Lloyd's iterations. The default 0 keeps its deterministic init
    (every ``n/K``-th of the first ``8K`` vectors by ``id_col``) —
    stable across runs, enough for the recall targets the tests pin
    AND SQL-reproducible for the oracle. Complements the
    hyperplane-LSH tier: IVF adapts to the data distribution (cells
    follow density), LSH is data-independent (no index build).
    Returns (id, list_id, cosine); zero-norm vectors are not scored.
    """
    centroids = kmeans_fit(embeddings, n_centroids, kmeans_iters, id_col, vec_col)
    probes = _probe(centroids, query_vec, nprobe)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    return _cosine_topk(
        assigned.filter(col("list_id").isin(probes)), query_vec, k, id_col, vec_col, "list_id"
    )


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 2,
    quantize_planes: bool = False,
) -> DataFrame:
    """Top-k by cosine among vectors in the query's LSH bucket
    (+ single-bit-flip probes up to `multiprobe` planes).

    The candidate set is the union of 1 + multiprobe buckets — constant
    work per query regardless of corpus size once the bucketed table is
    partition-pruned. Returns (id, bucket, cosine); zero-norm vectors
    (all sign bits set, so bucket ``2^n_planes − 1``) are not scored.
    """
    dim = len(query_vec)
    P = plane_matrix(dim, n_planes, quantize_planes)
    qbucket = int(_bucket_of(np.asarray([query_vec], dtype=np.float64), P)[0])
    probe_buckets = [qbucket] + [qbucket ^ (1 << i) for i in range(min(multiprobe, n_planes))]

    bucketed = hyperplane_buckets(embeddings, dim, n_planes, vec_col, quantize_planes)
    return _cosine_topk(
        bucketed.filter(col("bucket").isin(probe_buckets)), query_vec, k, id_col, vec_col, "bucket"
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011) — the memory tier
# ---------------------------------------------------------------------------
#
# IVF and hyperplane LSH above prune WHICH vectors a query touches; PQ
# compresses WHAT is stored: dim float32 (256 B at dim=64) becomes m
# uint8 codes (m bytes), letting a 100 TB embedding corpus keep its
# whole searchable representation in cluster memory. Codebooks train
# driver-side on a bounded deterministic sample (faiss practice — the
# sample, not the corpus, bounds training cost); ENCODING, the
# corpus-sized stage, is one map-only Arrow pass; search is
# asymmetric-distance (ADC): the query builds an m x k dot-product
# table against the codebooks (tiny, on the driver) and every stored
# vector scores as m table lookups — no float vectors move at query
# time. Scores approximate the INNER PRODUCT; feed unit-normalized
# embeddings for cosine ranking.


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train m per-block codebooks of k centroids each (numpy Lloyd's,
    L2, deterministic every-nth init on an ``orderBy(id)`` sample).
    Returns an (m, k, dim/m) float64 ndarray. dim must divide by m."""
    import hashlib

    rows = (
        embeddings.orderBy(id_col)
        .select(id_col, vec_col)
        .limit(sample_size)
        .collect()
    )
    # Deterministic but DECORRELATED init order: stride-sampling the
    # id order picks every n/k-th row, and real corpora are often
    # periodic in id (round-robin sources, replicated shards) — a
    # stride that divides the period inits every centroid from one
    # mode. Hash-shuffling the sample first keeps determinism and
    # breaks any id structure.
    rows.sort(key=lambda r: hashlib.md5(str(r[id_col]).encode()).hexdigest())
    if len(rows) < k:
        raise ValueError(
            f"pq_train needs at least k={k} sampled rows to seed centroids; "
            f"got {len(rows)} (raise sample_size or lower k)"
        )
    X = np.array([list(map(float, r[vec_col])) for r in rows])
    return _pq_fit(X, m, k, iters)


def _pq_fit(X, m: int, k: int, iters: int):
    """numpy Lloyd's over the m subvector blocks of a (n, dim) sample.

    The training core shared by :func:`pq_train` (raw vectors),
    :func:`ann_topk_ivfpq` and :class:`IvfIndex`'s PQ path (cell
    residuals). ``iters=0`` keeps the init codebooks (the first k
    sample rows' subvectors) — on integer-valued quantized vectors
    that degenerate-but-deterministic state is exactly SQL-replayable,
    which the oracle-backed ``s_cosine_topk_ivfpq`` query depends on."""
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n < k:
        raise ValueError(f"PQ training needs at least k={k} rows; got {n}")
    sub = dim // m
    books = np.empty((m, k, sub))
    for b in range(m):
        Xb = X[:, b * sub : (b + 1) * sub]
        C = Xb[:k].copy()
        for _ in range(iters):
            d2 = ((Xb[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(k):
                pts = Xb[assign == j]
                if len(pts):
                    C[j] = pts.mean(0)
        books[b] = C
    return books


def _pq_codes(X, books) -> pd.Series:
    """PQ codes of the (n, dim) vectors ``X``: code b is the L2-nearest
    centroid of codebook b to the b-th subvector block, as
    ``argmin |c|^2 - 2 x·c`` (``|x|^2`` is constant per row), ties to
    the lowest code. One ``list[int]`` per row."""
    m, _, sub = books.shape
    bnorm2 = (books**2).sum(-1)  # (m, k)
    codes = np.empty((len(X), m), dtype=np.int32)
    for b in range(m):
        Xb = X[:, b * sub : (b + 1) * sub]
        d = bnorm2[b][None, :] - 2.0 * (Xb @ books[b].T)
        codes[:, b] = d.argmin(1)
    return pd.Series([list(map(int, c)) for c in codes])


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: (id, codes array<int>) — codes[b] is the
    L2-nearest codebook centroid of the b-th subvector block
    (:func:`_pq_codes`). The one corpus-sized stage; Arrow-vectorized,
    no shuffle."""

    @pandas_udf("array<int>")
    def _enc(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        return _pq_codes(np.stack([np.asarray(v, dtype=np.float64) for v in vecs]), codebooks)

    return embeddings.select(col(id_col), _enc(col(vec_col)).alias("codes"))


def _adc_table(books, query_vec: list[float]):
    """(m, k) ADC table: entry [b][j] = q_b · codebook[b][j], the query's
    b-th subvector against each centroid of block b."""
    m, kk, sub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    T = np.empty((m, kk))
    for b in range(m):
        T[b] = books[b] @ q[b * sub : (b + 1) * sub]
    return T


def _adc_scores(T, cs: pd.Series):
    """ADC score per row of PQ codes: the sum of its m table lookups."""
    codes = np.array([list(c) for c in cs], dtype=np.int64)
    if not len(codes):
        return np.empty(0)
    return T[np.arange(len(T))[None, :], codes].sum(1)


def _adc_rerank(
    scored: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str,
    vec_col: str,
    rerank_with: DataFrame | None,
    rerank_factor: int,
) -> DataFrame:
    """The search tail over an ADC ``score`` column, ties to the lower
    id: the top ``k`` rows of ``scored``, or — given ``rerank_with``,
    the full vectors — its top ``k × rerank_factor`` ids re-scored by
    the exact inner product (a broadcast semi-join touching k·factor
    rows, never the corpus) and cut to ``k``."""
    n_cand = k if rerank_with is None else max(k, k * rerank_factor)
    cand = scored.orderBy(col("score").desc(), col(id_col)).limit(n_cand)
    if rerank_with is None:
        return cand
    qarr = F.array(*[lit(float(v)) for v in query_vec])
    exact = rerank_with.join(
        F.broadcast(cand.select(id_col)), id_col, "left_semi"
    ).select(col(id_col), dot(col(vec_col), qarr).alias("score"))
    return exact.orderBy(col("score").desc(), col(id_col)).limit(k)


def pq_topk(
    codes: DataFrame,
    codebooks,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    rerank_with: DataFrame | None = None,
    rerank_factor: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over PQ codes: score(x) = Σ_b table[b][codes[b]] with
    table[b][j] = q_b · c_bj — approximate inner product, computed as
    m table lookups per stored vector (map-only) followed by a
    TakeOrderedAndProject. Ties break on id for determinism.

    ADC score error is on the order of the quantization distortion, so
    within a tight neighborhood PQ ranks coarsely — production systems
    therefore retrieve a ``k × rerank_factor`` candidate set by ADC
    and re-score JUST those against the full vectors. Pass the
    original embeddings as ``rerank_with`` to get that second stage
    (:func:`_adc_rerank`).
    """
    T = _adc_table(codebooks, query_vec)

    @pandas_udf("double")
    def _score(cs: pd.Series) -> pd.Series:
        return pd.Series(_adc_scores(T, cs))

    scored = codes.select(col(id_col), _score(col("codes")).alias("score"))
    return _adc_rerank(scored, query_vec, k, id_col, vec_col, rerank_with, rerank_factor)


def ann_topk_ivfpq(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    pq_m: int = 2,
    pq_k: int = 8,
    pq_iters: int = 0,
    pq_sample: int = 128,
    rerank_factor: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-shot IVF-PQ ANN (FAISS IVFPQ shape): IVF cells prune WHICH
    vectors a query touches, PQ codes compress WHAT gets scored.

    Pipeline: one sample of the first ``max(8 × n_centroids,
    pq_sample)`` vectors by id → centroids stride the whole sample
    (every ``len/n_centroids``-th row, so :func:`ann_topk_ivf`'s init
    when ``pq_sample <= 8 × n_centroids``) and codebooks train on its
    first ``pq_sample`` rows → assign → keep only the ``nprobe``
    probed cells → PQ-encode JUST those (map-only) → ADC score = m
    table lookups per candidate → top ``k × rerank_factor`` → exact
    inner-product rerank against the candidates' full vectors → top k.
    Returns (id, score) with score = exact inner product of the
    reranked survivors; feed unit-normalized (or consistently-scaled)
    vectors for cosine ranking.

    With ``pq_iters=0`` the codebooks are the first ``pq_k`` sampled
    rows' subvectors — degenerate but deterministic, and on quantized
    integer-valued vectors every distance/score is an exact integer,
    so the whole probe→encode→ADC→rerank cascade is SQL-replayable
    (the ``s_cosine_topk_ivfpq`` oracle). Production recall numbers
    (trained codebooks, residual encoding) live on the persisted
    :class:`IvfIndex` PQ path and in ``PQ_RECALL_r09.json``.
    """
    sample = _sample(
        embeddings, (id_col,), max(n_centroids * 8, pq_sample), id_col, vec_col
    )
    centroids = _stride(sample, n_centroids)
    books = _pq_fit(np.array(sample[:pq_sample]), pq_m, pq_k, pq_iters)
    probes = _probe(centroids, query_vec, nprobe)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    # Materialize the probed working set once: it feeds BOTH the
    # PQ-encode/ADC candidate branch and the exact rerank branch, and
    # each would otherwise re-run the quantize + per-centroid assign
    # scan (guide §2.4: duplicated subtrees). At scale this IS the
    # partition-pruned read an IVF index does — nprobe/n_centroids of
    # the corpus, the bytes the query must touch anyway.
    probed = materialize(assigned.filter(col("list_id").isin(probes)))
    codes = pq_encode(probed, books, id_col=id_col, vec_col=vec_col)
    return pq_topk(
        codes,
        books,
        query_vec,
        k=k,
        id_col=id_col,
        rerank_with=probed,
        rerank_factor=rerank_factor,
        vec_col=vec_col,
    )


def _ivfpq_encode(
    assigned: DataFrame,
    pq_meta: dict,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, list_id, vec) → (id, list_id, codes): map-only PQ encoding
    against FROZEN codebooks, residual-aware (x − centroid[cell] when
    the index was built with ``pq_residual``). The float vector is
    dropped here — the cells store m small ints per vector, which is
    the IVFPQ storage win."""
    books = np.asarray(pq_meta["codebooks"], dtype=np.float64)
    residual = bool(pq_meta.get("residual"))
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def _enc(lists: pd.Series, vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if residual:
            X = X - C[lists.to_numpy(dtype=np.int64)]
        return _pq_codes(X, books)

    return assigned.select(
        col(id_col),
        col("list_id"),
        _enc(col("list_id"), col(vec_col)).alias("codes"),
    )


class IvfIndex:
    """Persisted IVF index with incremental append (round 7, SURVEY L39).

    The production lifecycle the one-shot :func:`ann_topk_ivf` can't
    express: train centroids ONCE, write the assigned corpus
    ``partitionBy('list_id')`` (hive layout → a probe is a
    partition-pruned read), then keep absorbing new embeddings by
    assigning them against the FROZEN centroids and appending only
    their partitions — no retrain, no rewrite of the existing corpus.
    At 100 TB this is the difference between a nightly O(new-data)
    append job and an O(corpus) rebuild.

    Layout::

        <root>/centroids.json      # {"centroids", "dim", "id_col",
                                   #  "vec_col", "data_dir"[, "pq"]}
        <root>/<data_dir>/list_id=N/  # hive-partitioned assigned
                                      # vectors — or (id, codes) when
                                      # built with pq_m (IVF-PQ);
                                      # data_dir = "data_<hex>"
        <root>__lock/              # single-writer mutex

    With ``pq_m`` (round 9, VERDICT r8 #1) the cells store m PQ codes
    per vector instead of the float vector, and the meta carries the
    codebooks — see :meth:`build`. Search becomes ADC over the probed
    cells (:meth:`topk` with optional exact rerank).

    Writer coordination (VERDICT r7 #3): :meth:`build`, :meth:`append`
    and :meth:`compact` serialize on the same ``table_write_lock`` the
    snapshot tables use, so a nightly append can't land in a cell
    mid-compaction and be silently dropped when the staged file set
    swaps in.

    Rebuild is reader-safe (ADVICE r7): :meth:`build` assigns into a
    FRESH ``data_<hex>`` directory and publishes it together with its
    centroids in one atomic ``centroids.json`` rename — centroids and
    corpus are always a consistent pair. A reader that loaded the old
    meta keeps probing the old directory with the old centroids; old
    data dirs stay on disk for in-flight readers until :meth:`vacuum`.

    Drift: appends shift the data distribution away from the frozen
    centroids; :meth:`stats` reports per-cell counts and the imbalance
    ratio (max cell / mean cell) — the retrain trigger a real pipeline
    alarms on (rebuild = :meth:`build` again).
    """

    def __init__(self, root: str):
        import os

        self.root = root
        self._meta_path = os.path.join(root, "centroids.json")

    def _meta(self) -> dict:
        import json

        with open(self._meta_path) as f:
            return json.load(f)

    def _data_path(self, meta: dict) -> str:
        import os

        return os.path.join(self.root, meta["data_dir"])

    # ------------------------------------------------------------ build

    @classmethod
    def build(
        cls,
        embeddings: DataFrame,
        root: str,
        n_centroids: int = 16,
        kmeans_iters: int = 0,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        timeout: float = 0.0,
        pq_m: int | None = None,
        pq_k: int = 16,
        pq_iters: int = 10,
        pq_sample_size: int = 4096,
        pq_residual: bool = True,
    ) -> "IvfIndex":
        """Train (or deterministically sample) centroids and write the
        fully-assigned corpus partitioned by list id.

        Default (``kmeans_iters=0``) centroids stride the first
        ``8 × n_centroids`` rows of a sample ordered by ``md5(id)`` —
        deterministic but UNBIASED: ordering by the raw id would take
        the head of the table, and ids always correlate with ingest
        time or content in real corpora, so the frozen centroids would
        represent only the oldest data and every later append would
        crowd a few cells (VERDICT r7 #2). ``kmeans_iters > 0`` refines
        with distributed Lloyd's.

        ``pq_m`` switches the index to the IVF-PQ composite (FAISS
        IVFPQ, VERDICT r8 #1): cells store ``m`` uint8-range PQ codes
        per vector INSTEAD of the float vector — the only storage
        shape that keeps a 100 TB embedding corpus searchable in
        cluster memory. Codebooks train driver-side (numpy Lloyd's,
        ``pq_iters``) on the first ``pq_sample_size`` rows of the same
        md5-ordered sample — one collect serves both; with
        ``pq_residual`` (faiss default) they train on and encode the
        residual ``x − centroid[cell]``, which centers every cell's
        codes on the same distribution and buys most of IVFPQ's recall
        over flat PQ. Codebooks live IN ``centroids.json``, so the
        atomic meta publish covers centroids + codebooks + data dir as
        one consistent triple, and append/search reuse them frozen.
        """
        import json
        import os
        import uuid

        from ..operators.upsert import table_write_lock

        n_head = n_centroids * 8 if kmeans_iters <= 0 else 0
        n_rows = max(n_head, pq_sample_size if pq_m is not None else 0)
        order = (F.md5(col(id_col).cast("string")), col(id_col))
        sample = _sample(embeddings, order, n_rows, id_col, vec_col) if n_rows else []
        if kmeans_iters > 0:
            centroids = kmeans_fit(
                embeddings, n_centroids, kmeans_iters, id_col, vec_col
            )
        else:
            centroids = _stride(sample[:n_head], n_centroids)
        pq_meta = None
        if pq_m is not None:
            X = np.array(sample[:pq_sample_size])
            if pq_residual:
                X = X - np.asarray(centroids, dtype=np.float64)[
                    _nearest_centroid(X, centroids)
                ]
            books = _pq_fit(X, pq_m, pq_k, pq_iters)
            pq_meta = {
                "m": pq_m,
                "k": pq_k,
                "residual": bool(pq_residual),
                "codebooks": books.tolist(),
            }
        idx = cls(root)
        os.makedirs(root, exist_ok=True)
        with table_write_lock(root, timeout=timeout):
            data_dir = f"data_{uuid.uuid4().hex[:8]}"
            assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
            if pq_meta is not None:
                assigned = _ivfpq_encode(
                    assigned, pq_meta, centroids, id_col, vec_col
                )
            assigned.write.mode("overwrite").partitionBy("list_id").parquet(
                os.path.join(root, data_dir)
            )
            meta = {"centroids": centroids, "dim": len(centroids[0]),
                    "id_col": id_col, "vec_col": vec_col,
                    "data_dir": data_dir}
            if pq_meta is not None:
                meta["pq"] = pq_meta
            tmp = idx._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            # the publish point: centroids + codebooks + the corpus
            # assigned/encoded from them become visible together or
            # not at all
            os.rename(tmp, idx._meta_path)
        return idx

    def centroids(self) -> list[list[float]]:
        return self._meta()["centroids"]

    # ----------------------------------------------------------- append

    def append(self, embeddings: DataFrame, timeout: float = 0.0) -> None:
        """Assign new vectors against the FROZEN centroids and append.

        Map-only assignment (one Arrow matmul per batch) + an append
        that touches only the new rows' partitions; the existing
        corpus files are never rewritten, so a reader mid-append sees
        either the old or the extended cell — never a torn one (parquet
        appends are new files). Takes the index writer lock: an append
        racing a :meth:`compact` of the same cell would otherwise land
        files in the backup dir after the compactor listed its input
        and lose them at the swap (VERDICT r7 #3); the meta is read
        under the lock so a racing rebuild can't strand the append in
        a superseded data dir."""
        from ..operators.upsert import table_write_lock

        with table_write_lock(self.root, timeout=timeout):
            meta = self._meta()
            assigned = ivf_assign(
                embeddings, meta["centroids"], meta["id_col"], meta["vec_col"]
            )
            if "pq" in meta:
                # encode against the FROZEN codebooks published with
                # the centroids — an append never retrains anything
                assigned = _ivfpq_encode(
                    assigned, meta["pq"], meta["centroids"],
                    meta["id_col"], meta["vec_col"],
                )
            assigned.write.mode("append").partitionBy("list_id").parquet(
                self._data_path(meta)
            )

    # ------------------------------------------------------------ query

    def topk(
        self,
        spark,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
        rerank_with: DataFrame | None = None,
        rerank_factor: int = 10,
    ) -> DataFrame:
        """Top-k over the ``nprobe`` nearest cells.

        Flat index: exact cosine over the probed cells' stored vectors
        (id, list_id, cosine), zero-norm vectors excluded as in
        :func:`ann_topk_ivf`. PQ index (built with ``pq_m``): ADC — the
        query builds an m × k dot-product table (plus a per-cell
        ``q·centroid`` offset when the codes are residuals) and every
        stored vector scores as m table lookups; no float vectors are
        read at all. Because ADC ranks coarsely within tight
        neighborhoods, pass the original embeddings as ``rerank_with``
        to re-score the top ``k × rerank_factor`` ADC candidates
        exactly (:func:`_adc_rerank`) — the production IVFPQ search
        shape. ADC scores approximate the INNER PRODUCT; feed
        unit-normalized vectors at build and query time for cosine
        ranking. ADC/rerank scores are dot products (no division), so
        the PQ path has no zero norm to guard.

        The ``list_id IN (probes)`` filter is a hive partition filter —
        Spark prunes every other cell's files at planning time, so the
        scan cost is O(probed cells), not O(corpus). The meta is read
        ONCE, so the centroids/codebooks probed and the data dir
        scanned are a consistent published triple even if a rebuild
        lands mid-call."""
        meta = self._meta()
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        probes = _probe(meta["centroids"], query_vec, nprobe)
        cells = spark.read.parquet(self._data_path(meta)).filter(
            col("list_id").isin(probes)
        )
        if "pq" not in meta:
            return _cosine_topk(cells, query_vec, k, id_col, vec_col, "list_id")
        books = np.asarray(meta["pq"]["codebooks"], dtype=np.float64)
        T = _adc_table(books, query_vec)
        # residual codes store x − c(cell): q·x ≈ q·c(cell) + ADC(codes)
        residual = bool(meta["pq"].get("residual"))
        offsets = np.asarray(meta["centroids"], dtype=np.float64) @ np.asarray(
            query_vec, dtype=np.float64
        )

        @pandas_udf("double")
        def _score(lists: pd.Series, cs: pd.Series) -> pd.Series:
            s = _adc_scores(T, cs)
            if residual:
                s = s + offsets[lists.to_numpy(dtype=np.int64)]
            return pd.Series(s)

        scored = cells.select(
            id_col, "list_id", _score(col("list_id"), col("codes")).alias("score")
        )
        return _adc_rerank(scored, query_vec, k, id_col, vec_col, rerank_with, rerank_factor)

    # --------------------------------------------------------- maintain

    def compact(self, spark, timeout: float = 0.0) -> dict:
        """OPTIMIZE-analog for the index: every :meth:`append` adds new
        files to the touched cells, so a nightly-append index
        fragments into many small parquet files per partition.

        Reader-safe since round 9 (VERDICT r8 #6): instead of swapping
        cells in place (whose two-rename window briefly left a cell
        absent — the old ADVICE r7 maintenance-window caveat), the
        compaction builds a COMPLETE new ``data_<hex>`` directory —
        fragmented cells rewritten to ~128 MB files, already-compact
        cells hard-linked (O(files), no bytes copied) — and republishes
        ``centroids.json`` atomically at the new directory, exactly the
        pointer swap :meth:`build` uses for rebuilds. A concurrent
        reader holds the old complete tree or the new complete tree,
        never a torn one; :meth:`vacuum` reclaims the superseded dir
        once in-flight readers drain. Runs under the index writer
        lock, so it can't race an append or rebuild."""
        import json
        import os
        import uuid

        from ..operators.maintenance import FRAGMENT_FILES, compact_table_versioned
        from ..operators.upsert import table_write_lock

        with table_write_lock(self.root, timeout=timeout):
            meta = self._meta()
            src = self._data_path(meta)
            fragmented = any(
                sum(f.endswith(".parquet") for f in fs) > FRAGMENT_FILES
                for _, _, fs in os.walk(src)
            )
            if not fragmented:  # nothing to do: don't churn a new dir
                return {}
            data_dir = f"data_{uuid.uuid4().hex[:8]}"
            results = compact_table_versioned(
                spark, src, os.path.join(self.root, data_dir)
            )
            meta["data_dir"] = data_dir
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.rename(tmp, self._meta_path)
            return results

    def vacuum(self, timeout: float = 0.0) -> list[str]:
        """Remove every data dir but the live one, at once: the dirs a
        rebuild or :meth:`compact` superseded stay on disk until this
        runs, and nothing here tracks their readers or their age. A
        reader that resolved the previous ``centroids.json`` still reads
        its old dir, so callers run this only after readers of the
        previous meta have drained. Returns the removed dir names.
        ``timeout`` waits for the writer lock like the other writer
        methods — a vacuum contending with a nightly append can wait
        instead of raising."""
        import os
        import shutil

        from ..operators.upsert import table_write_lock

        with table_write_lock(self.root, timeout=timeout):
            live = self._meta()["data_dir"]
            removed = []
            for d in sorted(os.listdir(self.root)):
                full = os.path.join(self.root, d)
                if d != live and d.startswith("data_") and os.path.isdir(full):
                    shutil.rmtree(full)
                    removed.append(d)
            return removed

    # ------------------------------------------------------------ stats

    def stats(self, spark) -> dict:
        """Per-cell counts + imbalance ratio (max/mean) — the drift
        signal a pipeline alarms on to schedule a retrain. The meta is
        read ONCE so the counted corpus and the centroid count are the
        same published pair even if a rebuild lands mid-call."""
        meta = self._meta()
        rows = (
            spark.read.parquet(self._data_path(meta))
            .groupBy("list_id")
            .count()
            .collect()
        )
        counts = {int(r["list_id"]): r["count"] for r in rows}
        n_cells = len(meta["centroids"])
        total = sum(counts.values())
        mean = total / n_cells if n_cells else 0.0
        return {
            "total": total,
            "n_cells": n_cells,
            "nonempty_cells": len(counts),
            "max_cell": max(counts.values(), default=0),
            "imbalance": (max(counts.values(), default=0) / mean) if mean else 0.0,
            "counts": counts,
        }
