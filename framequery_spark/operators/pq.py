"""Product quantization (PQ) for compressed-embedding similarity search.

At 100 TB the corpus' float32 embeddings dominate memory: 64-dim float32 is
256 bytes/vector, while an 8-subvector PQ code is 8 BYTES — a 32× reduction
that turns an out-of-core scan into an in-memory one. PQ (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the faiss
`PQ` index) splits each vector into m subvectors, k-means-quantizes each
subspace separately, and scores query-corpus pairs with ADC (asymmetric
distance computation): per query, a lookup table of subspace dot products is
built ONCE, and each corpus code then costs m table lookups instead of d
multiplications.

Scale design (the 100 TB contract):
  - codebooks train driver-side on a capped sample (same recipe/cap as
    train_ivf_centroids — KB-sized codebooks, never the corpus);
  - encoding is one Arrow-batched mapInPandas pass over the corpus
    (m small GEMMs per batch), attaching (code, reconstructed norm);
    at scale the encoded table is persisted once and reused per query set;
  - ADC scan: queries (small side) carry their flat LUT arrays and
    broadcast; scoring is a row-local JVM fold of m lookups per pair —
    no Python in the scan, the corpus codes never shuffle;
  - exact re-rank: the top refine*k ADC candidates per query join back to
    their full vectors (an equi join on the corpus id) for exact cosine —
    the standard ADC + refine pipeline.

Exactness escape hatch (the driver-oracle pattern of op_ivf_full_probe):
with n_centroids >= the number of distinct subvectors, codebooks enumerate
the distinct subvectors themselves, encoding is lossless, ADC ranking equals
exact ranking, and the re-ranked result provably equals brute-force top-k —
so the WHOLE train/encode/LUT/ADC/refine pipeline is hash-verifiable against
the brute-force SQL oracle.

The reference (chmp/framequery) has no vector surface at all.
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.registry import _dot, _l2norm
from .similarity import MAX_IVF_TRAIN_SAMPLE


def train_pq_codebooks(corpus: DataFrame, n_subvectors: int = 8,
                       n_centroids: int = 16, iters: int = 3,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       train_sample: int = 20000) -> List[List[List[float]]]:
    """codebooks[s][c] = centroid c of subspace s (dim/m floats each).

    Driver-side Lloyd k-means per subspace over a capped deterministic
    sample (smallest-id vectors — one TakeOrdered action, no full sort).
    When n_centroids covers every distinct subvector in the sample, the
    codebook is exactly the sorted distinct subvectors (lossless encoding
    for sampled rows) — the exactness escape hatch above."""
    if train_sample > MAX_IVF_TRAIN_SAMPLE:
        raise ValueError(
            f"train_sample={train_sample} exceeds the driver-collect cap "
            f"({MAX_IVF_TRAIN_SAMPLE}); sample the corpus upstream instead")
    rows = (corpus.orderBy(id_col).limit(train_sample)
            .select(vec_col).collect())
    x = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % n_subvectors:
        raise ValueError(f"dim {d} not divisible by n_subvectors={n_subvectors}")
    sub = d // n_subvectors
    books: List[List[List[float]]] = []
    for s in range(n_subvectors):
        xs = x[:, s * sub:(s + 1) * sub]
        uniq = np.unique(xs, axis=0)  # sorted lexicographically: deterministic
        if len(uniq) <= n_centroids:
            cents = uniq
        else:
            cents = xs[:n_centroids].copy()
            x2 = (xs * xs).sum(axis=1)
            for _ in range(iters):
                c2 = (cents * cents).sum(axis=1)
                dist = x2[:, None] - 2.0 * (xs @ cents.T) + c2[None, :]
                assign = np.argmin(dist, axis=1)
                for i in range(len(cents)):
                    members = xs[assign == i]
                    if len(members):
                        cents[i] = members.mean(axis=0)
        books.append([[float(v) for v in row] for row in cents])
    return books


def pq_encode(corpus: DataFrame, codebooks: List[List[List[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, pq_code array<int>, pq_norm double): nearest-centroid code per
    subspace plus the reconstructed vector's L2 norm (computable from the
    codes alone — stored so the ADC scan never touches the raw vectors).
    One Arrow-batched pass, m small GEMMs per batch; codebooks ship as
    closure constants (KB)."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]

    @F.pandas_udf("struct<code: array<int>, norm: double>")
    def encode(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame({"code": [], "norm": []})
        m = np.stack(v.to_numpy()).astype(np.float64)
        codes = []
        norm_sq = np.zeros(len(m))
        for s, cb in enumerate(books):
            xs = m[:, s * sub:(s + 1) * sub]
            d = ((xs * xs).sum(axis=1)[:, None] - 2.0 * (xs @ cb.T)
                 + (cb * cb).sum(axis=1)[None, :])
            a = np.argmin(d, axis=1)
            codes.append(a.astype(np.int32))
            norm_sq += (cb[a] * cb[a]).sum(axis=1)
        code_col = [np.stack(c) for c in zip(*codes)]
        return pd.DataFrame({"code": code_col, "norm": np.sqrt(norm_sq)})

    enc = corpus.select(F.col(id_col).alias("__pid"),
                        encode(F.col(vec_col)).alias("__e"))
    return enc.select(F.col("__pid").alias(id_col),
                      F.col("__e.code").alias("pq_code"),
                      F.col("__e.norm").alias("pq_norm"))


def _query_luts(queries: DataFrame, codebooks: List[List[List[float]]],
                id_col: str, vec_col: str) -> DataFrame:
    """(query_id, __qv, __qn, __lut): flat ADC lookup table per query —
    __lut[s * n_centroids + c] = dot(q_s, codebooks[s][c])."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    k_max = max(len(b) for b in books)

    @F.pandas_udf("array<double>")
    def lut(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype(np.float64)
        out = np.zeros((len(m), len(books) * k_max))
        for s, cb in enumerate(books):
            qs = m[:, s * sub:(s + 1) * sub]
            out[:, s * k_max:s * k_max + len(cb)] = qs @ cb.T
        return pd.Series(list(out))

    return queries.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("__qv"),
                          _l2norm([F.col(vec_col)]).alias("__qn"),
                          lut(F.col(vec_col)).alias("__lut"))


def fixed_pq_codebooks(n_subvectors: int, n_centroids: int, dim: int,
                       seed: int = 7,
                       scale: float = 0.1) -> List[List[List[float]]]:
    """Seeded random PQ codebooks (gauss(0, scale) per coordinate, one
    independent seed per subspace) for the bring-your-own-codebook
    pq_topk path — the PQ twin of similarity.fixed_random_centroids: a
    fixed codebook makes the approximate ADC pipeline fully
    deterministic AND cross-engine verifiable (the centroid literals
    inline into an independent SQL derivation), at the cost of
    data-adapted quantization error — the faiss pretrained-codebook
    trade."""
    import random

    if dim % n_subvectors:
        raise ValueError(
            f"dim {dim} not divisible by n_subvectors={n_subvectors}")
    sub = dim // n_subvectors
    books: List[List[List[float]]] = []
    for s in range(n_subvectors):
        rnd = random.Random(seed + 1009 * s)
        books.append([[rnd.gauss(0.0, scale) for _ in range(sub)]
                      for _ in range(n_centroids)])
    return books


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            n_subvectors: int = 8, n_centroids: int = 16,
            refine: int = 4, iters: int = 3,
            codebooks: List[List[List[float]]] = None) -> DataFrame:
    """PQ/ADC approximate top-k with exact re-ranking.

    Pipeline: train codebooks (driver, capped sample) -> encode corpus
    (one Arrow pass) -> broadcast queries with their ADC LUTs -> score every
    (query, code) pair with a row-local m-lookup JVM fold -> keep the top
    refine*k ADC candidates per query -> join back full vectors for exact
    cosine -> emit top-k. Output schema matches cosine_topk
    (query_id, neighbor_id, cosine, rank).

    The candidate cut orders by round(adc, 6) with neighbor-id ties: the
    LUT is a numpy GEMM whose summation order differs from a sequential
    fold at ulp level, so the raw double would make the refine-pool
    boundary engine-dependent; 6 decimals pin it deterministically (the
    same pinning every cosine output here already uses).

    ``codebooks``: pretrained/fixed codebooks (faiss-style; see
    fixed_pq_codebooks); when given, driver-side training is skipped and
    n_subvectors/n_centroids are taken from their shape."""
    from .dedup import _spread

    books = codebooks if codebooks is not None else train_pq_codebooks(
        corpus, n_subvectors=n_subvectors, n_centroids=n_centroids,
        iters=iters, id_col=id_col, vec_col=vec_col)
    k_max = max(len(b) for b in books)
    enc = pq_encode(_spread(corpus), books, id_col=id_col, vec_col=vec_col) \
        .select(F.col(id_col).alias("neighbor_id"), "pq_code", "pq_norm")
    q = _query_luts(queries, books, id_col, vec_col)

    pairs = enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    # ADC: sum of m LUT lookups (JVM fold over the code array with its
    # subspace index — no Python in the corpus scan)
    adc = F.aggregate(
        F.zip_with(F.col("pq_code"),
                   F.sequence(F.lit(0), F.lit(len(books) - 1)),
                   lambda c, s: F.element_at(
                       F.col("__lut"), (s * k_max + c + 1).cast("int"))),
        F.lit(0.0), lambda acc, v: acc + v)
    approx = adc / (F.col("__qn") * F.col("pq_norm"))
    wa = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__adc"), 6).desc(), F.col("neighbor_id"))
    cands = (pairs.withColumn("__adc", approx)
             .withColumn("__ar", F.row_number().over(wa))
             .filter(F.col("__ar") <= refine * k)
             .select("query_id", "neighbor_id", "__qv", "__qn"))
    # exact re-rank of the candidate set only
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("__cv"),
                       _l2norm([F.col(vec_col)]).alias("__cn"))
    sim = F.round(_dot([F.col("__qv"), F.col("__cv")])
                  / (F.col("__qn") * F.col("__cn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cands.join(cv, "neighbor_id")
            .withColumn("cosine", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))
