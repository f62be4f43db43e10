"""Similarity search over embedding columns.

- cosine_topk: brute-force exact top-k (the correctness baseline). Query
  side is broadcast; the corpus is scanned once per batch of queries —
  at 100 TB this is the "small query set against huge corpus" shape.
- lsh_ann_topk: random-hyperplane LSH buckets as the scale path — signature
  computation is row-local; candidates come from bucket joins; final ranking
  re-scores candidates with exact cosine.
"""

from __future__ import annotations

from typing import List, Optional

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import _let
from ..functions.registry import _dot, _l2norm
from ..sources.local_relation import local_relation


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: Optional[str] = None) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank). Self-matches
    (query_id == neighbor_id) are excluded. The query side is broadcast —
    the corpus never shuffles."""
    query_id_col = query_id_col or id_col

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       _l2norm([F.col(vec_col)]).alias("__qn"))
    from .dedup import _spread

    c = _spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cv"),
                      _l2norm([F.col(vec_col)]).alias("__cn"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id"))
    # precomputed norms; same float expression shape as the registry's
    # cosine (dot/(qn*cn))
    sim = F.round(_dot([F.col("__qv"), F.col("__cv")])
                  / (F.col("__qn") * F.col("__cn")), 6)
    scored = joined.withColumn("cosine", sim)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def _hyperplanes(dim: int, n_bits: int, seed: int) -> List[List[float]]:
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


def lsh_signature(vec: Column, planes: List[List[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(<v, plane_i>). Returns a
    long (n_bits <= 63). Pure JVM fold expressions."""
    bits = []
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(p) for p in plane]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(dot >= 0, F.lit(1 << i).cast("long"))
                    .otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _lsh_sigs_udf(tables: List[List[List[float]]]):
    """Arrow-batched signature computation for all tables at once: one
    (n, dim) x (dim, tables*bits) GEMM per batch, sign-bits packed into a
    long per table. Bit convention matches lsh_signature (dot >= 0 -> set).
    The per-table JVM fold version pays n_tables*n_bits interpreted array
    passes per row — vectorized numpy is the sanctioned slow-path escape."""
    planes = np.asarray(tables, dtype=np.float64)      # (T, bits, dim)
    n_tables_, n_bits_ = planes.shape[0], planes.shape[1]
    flat = planes.reshape(n_tables_ * n_bits_, -1).T   # (dim, T*bits)
    bitvals = (1 << np.arange(n_bits_, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        dots = (m @ flat).reshape(len(m), n_tables_, n_bits_)
        packed = ((dots >= 0) * bitvals[None, None, :]).sum(axis=2)
        return pd.Series(list(packed.astype(np.int64)))

    return sigs


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_bits: int = 8, n_tables: int = 8, dim: int = 64,
                 seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket in >= 1 of
    n_tables signature tables, then exact cosine re-ranks. Recall grows with
    n_tables; cost stays ~ bucket-collision volume instead of |corpus|×|q|.

    n_bits=0 is the exhaustive verification configuration: a single
    all-zero hyperplane puts every vector in one bucket (dot == 0 counts as
    the set bit), so candidates = all pairs and the exact re-rank makes the
    result equal brute-force top-k BY CONSTRUCTION — same bucketize/join/
    re-rank plan as the approximate path, oracle-checkable against the
    exact-cosine SQL. Never use it at scale (it IS the quadratic path)."""
    if n_bits == 0:
        tables = [[[0.0] * dim]]
    else:
        tables = [_hyperplanes(dim, n_bits, seed + 97 * t)
                  for t in range(n_tables)]
    sigs_udf = _lsh_sigs_udf(tables)

    def bucketize(df: DataFrame, id_alias: str, vec_alias: str,
                  norm_alias: str) -> DataFrame:
        return df.select(F.col(id_alias), F.col(vec_alias),
                         _l2norm([F.col(vec_alias)]).alias(norm_alias),
                         F.posexplode(sigs_udf(F.col(vec_alias)))
                         .alias("__table", "__bucket"))

    from .dedup import _spread

    c = bucketize(_spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("__cv")),
                  "neighbor_id", "__cv", "__cn")
    q = bucketize(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("__qv")),
                  "query_id", "__qv", "__qn")
    # the query side is small by contract (ANN = few queries against a huge
    # corpus) — broadcast it so the bucket match is map-side: the corpus
    # signature pass streams exactly once (no shuffle, no plan-subtree
    # re-execution of the Arrow UDF stage) and only candidate pairs ever
    # reach the dedup exchange
    cands = (c.join(F.broadcast(q), ["__table", "__bucket"])
             .filter(F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id", "__qv", "__qn", "__cv", "__cn")
             .dropDuplicates(["query_id", "neighbor_id"]))
    # norms are computed once per row at bucketize time; the per-candidate
    # re-rank is a single dot fold
    sim = F.round(_dot([F.col("__qv"), F.col("__cv")])
                  / (F.col("__qn") * F.col("__cn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cands.withColumn("cosine", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ------------------------------------------------------------------ IVF


def _centroid_udf(centroids: List[List[float]], n_probe: Optional[int] = None):
    """Arrow-batched centroid assignment: squared-L2 distances to all
    centroids via one GEMM per batch (|v|^2 - 2 v.C^T + |c|^2). With
    n_probe=None returns the argmin cell id; otherwise the n_probe nearest
    cell ids sorted by distance (ties by cell id — stable argsort). The
    centroid matrix is a closure constant shipped to workers, KB-sized even
    for thousands of cells."""
    cm = np.asarray(centroids, dtype=np.float64)  # (m, d)
    c2 = (cm * cm).sum(axis=1)

    def dists(v: pd.Series):
        m = np.stack(v.to_numpy()).astype(np.float64)
        return (m * m).sum(axis=1)[:, None] - 2.0 * (m @ cm.T) + c2[None, :]

    if n_probe is None:
        @F.pandas_udf("int")
        def assign(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="int32")
            return pd.Series(np.argmin(dists(v), axis=1).astype(np.int32))
        return assign

    probe_n = int(n_probe)

    @F.pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        order = np.argsort(dists(v), axis=1, kind="stable")[:, :probe_n]
        return pd.Series(list(order.astype(np.int32)))
    return probe


# hard ceiling on the driver-side k-means collect: 200k x 64 doubles ≈ 100 MB.
# Centroid quality saturates far below this (the faiss guidance is ~(39..256)
# vectors per centroid), so a larger request is almost certainly a mistake —
# refuse it rather than OOM the driver at corpus scale.
MAX_IVF_TRAIN_SAMPLE = 200_000


def train_ivf_centroids(corpus: DataFrame, n_centroids: int = 16,
                        iters: int = 2, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        train_sample: int = 20000) -> List[List[float]]:
    """Deterministic mini k-means for the IVF index, trained driver-side on
    a capped sample (the faiss recipe: centroids never need the full corpus).

    One TakeOrdered action fetches the `train_sample` smallest-id vectors
    (a top-n heap per partition + merge — no full-sort shuffle), then Lloyd
    iterations run as numpy GEMMs on the driver. Versus iterating on the
    cluster this removes 2 jobs (a pandas-UDF assignment pass + a
    groupBy(cluster, dim) shuffle) per iteration; at 100 TB the sample cap
    keeps the collect bounded (~train_sample x dim doubles) while assignment
    of the full corpus stays distributed in ivf_topk. Init = the n_centroids
    smallest-id vectors; empty clusters keep their previous centroid —
    identical semantics to the distributed version it replaces."""
    if train_sample > MAX_IVF_TRAIN_SAMPLE:
        raise ValueError(
            f"train_sample={train_sample} exceeds the driver-collect cap "
            f"({MAX_IVF_TRAIN_SAMPLE}); centroid quality saturates far below "
            "this — sample the corpus upstream instead")
    seed_rows = (corpus.orderBy(id_col).limit(max(n_centroids, train_sample))
                 .select(vec_col).collect())
    x = np.asarray([list(r[0]) for r in seed_rows], dtype=np.float64)
    centroids = x[:n_centroids].copy()
    x2 = (x * x).sum(axis=1)
    for _ in range(iters):
        c2 = (centroids * centroids).sum(axis=1)
        d = x2[:, None] - 2.0 * (x @ centroids.T) + c2[None, :]
        assign = np.argmin(d, axis=1)
        for i in range(n_centroids):
            members = x[assign == i]
            if len(members):
                centroids[i] = members.mean(axis=0)
    return [[float(v) for v in row] for row in centroids]


def kmeans_fit(corpus: DataFrame, n_clusters: int, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               init: Optional[List[List[float]]] = None,
               seed: int = 7) -> DataFrame:
    """Fully DISTRIBUTED fixed-iteration Lloyd k-means over the whole
    corpus — the complement of train_ivf_centroids (which trains on a
    capped driver-side sample, the faiss recipe): use this when the
    centroids must see ALL the data (coverage of rare modes at corpus
    scale, or corpus-level cluster statistics as the deliverable).

    Per iteration:
      - ASSIGNMENT is row-local: the k current centroids are inlined as
        literals, so each row evaluates k JVM fold expressions and an
        array_min argmin — no join, no shuffle, the corpus streams once.
        Distances are squared-L2 via dot(v,v) - 2*dot(v,c) + dot(c,c)
        (the proven fold shape the DuckDB oracle restates with
        list_dot_product), ROUNDED to 1e-6 with cluster-id tiebreaks so
        the argmin is engine-deterministic.
      - UPDATE is one posexplode + one (cluster, dim)-keyed groupBy with
        map-side combine; per-dim sums are DECIMAL(38,12)-quantized so
        means are order/partitioning-independent, then rounded to 1e-6
        (quantized Lloyd — the documented determinism trade).
      - the k x dim centroid table (<= a few thousand rows) is collected
        to the driver between iterations — the bounded-collect pattern of
        classifier.py's gradient step — so the next assignment pass is
        again literal/map-side. Empty clusters keep their previous
        centroid (same convention as train_ivf_centroids).

    Returns the fitted model as (cluster_id, dim, value, n_members):
    one row per centroid coordinate, n_members = final-iteration
    assignment counts (0 rows carried for empty clusters).

    `init` defaults to fixed_random_centroids(n_clusters, dim, seed) —
    injectable, so a seeded run is fully deterministic and
    cross-engine verifiable.
    """
    if n_clusters < 1:
        raise ValueError("kmeans_fit: n_clusters must be >= 1")
    if iters < 1:
        raise ValueError("kmeans_fit: iters must be >= 1")
    spark = corpus.sparkSession
    if init is None:
        dim_row = corpus.select(F.size(vec_col).alias("d")).head()
        if dim_row is None:
            raise ValueError("kmeans_fit: empty corpus and no init given")
        init = fixed_random_centroids(n_clusters, dim_row["d"], seed)
    if len(init) != n_clusters:
        raise ValueError("kmeans_fit: len(init) != n_clusters")
    cents = [[float(x) for x in c] for c in init]
    dim = len(cents[0])
    from .dedup import _spread

    base = _spread(corpus).select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double"))
        .alias("__v"))
    vv = F.aggregate(F.zip_with("__v", "__v", lambda x, y: x * y),
                     F.lit(0.0), lambda a, x: a + x)

    def _lit_double_array(vals):
        # one parsed SQL literal instead of len(vals) py4j F.lit round
        # trips — repr() is the shortest exact round-trip form, and
        # Double.parseDouble of it yields the identical IEEE754 value
        return F.expr(
            "array(" + ",".join(f"CAST({float(x)!r} AS DOUBLE)"
                                for x in vals) + ")")

    members: dict[int, int] = {}
    for _ in range(iters):
        choices = []
        for ci, c in enumerate(cents):
            c2 = 0.0
            for x in c:          # sequential fold — matches the SQL
                c2 += x * x      # list_dot_product(c, c) evaluation order
            vc = F.aggregate(
                F.zip_with("__v", _lit_double_array(c),
                           lambda x, y: x * y),
                F.lit(0.0), lambda a, x: a + x)
            d = F.round(vv - 2.0 * vc + F.lit(c2), 6)
            choices.append(F.struct(d.alias("d"),
                                    F.lit(ci).alias("c")))
        assigned = base.select(
            "__id", "__v",
            F.array_min(F.array(*choices))["c"].alias("__cl"))
        upd = (assigned
               .select("__cl", F.posexplode("__v").alias("__dim", "__x"))
               .groupBy("__cl", "__dim")
               .agg(F.sum(F.col("__x").cast("decimal(38,12)")).alias("__s"),
                    F.count(F.lit(1)).alias("__n"))
               .select("__cl", "__dim",
                       F.round(F.col("__s").cast("double")
                               / F.col("__n"), 6).alias("__m"),
                       "__n"))
        rows = upd.collect()  # bounded: <= n_clusters x dim rows
        members = {}
        new_cents = [list(c) for c in cents]  # empty clusters carry over
        for r in rows:
            new_cents[r["__cl"]][r["__dim"]] = r["__m"]
            members[r["__cl"]] = r["__n"]
        cents = new_cents

    out = [(ci, d, cents[ci][d], members.get(ci, 0))
           for ci in range(n_clusters) for d in range(dim)]
    return local_relation(
        spark, out, "cluster_id int, dim int, value double, n_members bigint")


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    label — the near-misses a contrastive loss learns the most from
    (in-batch random negatives are mostly easy; mined hard negatives are
    the standard upgrade, e.g. DPR/SimCSE pipelines).

    Returns (query_id, neighbor_id, neighbor_label, cosine, rank).
    Same scale shape as cosine_topk: the small query side is broadcast,
    the corpus streams once with no shuffle before the per-query top-k
    window; the label inequality is a row-local filter on the streamed
    side. For huge corpora swap the brute-force scan for the LSH/IVF
    candidate generators and keep the label filter."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(label_col).alias("__ql"),
                       F.col(vec_col).alias("__qv"),
                       _l2norm([F.col(vec_col)]).alias("__qn"))
    from .dedup import _spread

    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cv"),
        _l2norm([F.col(vec_col)]).alias("__cn"))
    joined = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_label") != F.col("__ql"))
    sim = F.round(_dot([F.col("__qv"), F.col("__cv")])
                  / (F.col("__qn") * F.col("__cn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (joined.withColumn("cosine", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "neighbor_label",
                    "cosine", "rank"))


def fixed_random_centroids(n_centroids: int, dim: int, seed: int = 7,
                           scale: float = 0.1) -> List[List[float]]:
    """Seeded random centroids (gauss(0, scale) per coordinate) for the
    bring-your-own-codebook ivf_topk path: a fixed quantizer makes the
    approximate IVF result fully deterministic AND cross-engine
    verifiable (the centroid literals can be inlined into an independent
    SQL derivation), at the cost of data-adapted cell balance — the
    trade faiss users make when reusing a pretrained quantizer."""
    import random

    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, scale) for _ in range(dim)]
            for _ in range(n_centroids)]


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_centroids: int = 16, n_probe: int = 6,
             iters: int = 2, centroids: Optional[List[List[float]]] = None
             ) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    k-means cells, probe only the n_probe cells nearest each query, exact
    cosine re-rank inside the probed cells.

    Scale shape: the corpus is scanned once to attach a cell id (map-side,
    centroids broadcast as literals), the candidate join is an equi shuffle
    join on the cell id, and re-ranking touches ~n_probe/n_centroids of the
    corpus per query instead of all of it. Beyond-reference operator (the
    reference has no vector ops at all).

    ``centroids``: pretrained/fixed quantizer (faiss-style); when given,
    the driver-side k-means is skipped and n_centroids is taken from it."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids=n_centroids,
                                        iters=iters, id_col=id_col,
                                        vec_col=vec_col)
    from .dedup import _spread

    c = (_spread(corpus)
         .select(F.col(id_col).alias("neighbor_id"),
                 F.col(vec_col).alias("__cv"),
                 _l2norm([F.col(vec_col)]).alias("__cn"))
         .withColumn("__cell", _centroid_udf(centroids)(F.col("__cv"))))
    q = (queries
         .select(F.col(id_col).alias("query_id"),
                 F.col(vec_col).alias("__qv"),
                 _l2norm([F.col(vec_col)]).alias("__qn"))
         .withColumn("__cell", F.explode(
             _centroid_udf(centroids, n_probe)(F.col("__qv")))))
    # small query side broadcast: cell probing is map-side over the corpus
    # scan — one pass, no corpus shuffle
    cands = (c.join(F.broadcast(q), "__cell")
             .filter(F.col("query_id") != F.col("neighbor_id")))
    # norms precomputed per row before the join: the per-candidate work is a
    # single dot fold instead of the 3 folds of a full cosine
    sim = F.round(_dot([F.col("__qv"), F.col("__cv")])
                  / (F.col("__qn") * F.col("__cn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (cands.withColumn("cosine", sim)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def semdedup(corpus: DataFrame, threshold: float = 0.9,
             n_clusters: int = 16, id_col: str = "vec_id",
             vec_col: str = "embedding", iters: int = 2,
             return_pairs: bool = False,
             centroids: Optional[List[List[float]]] = None) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, compare pairs
    only WITHIN a cluster, and greedily drop every item that has a
    lower-id cluster-mate with cosine >= threshold. Near-semantic
    duplicates (paraphrases, template re-renders) land in the same cluster
    with overwhelming probability, so the quadratic comparison shrinks from
    |corpus|^2 to sum of per-cluster sizes squared — the published recipe
    prunes web corpora at billions of documents.

    Scale shape: centroids are bounded driver k-means
    (:func:`train_ivf_centroids`, capped collect); cluster assignment is a
    map-side Arrow-batched argmin over broadcast centroids (one corpus
    scan, no shuffle); within-cluster pairs ride
    :func:`~framequery_spark.operators.dedup.embedding_near_dup_pairs`
    with ``block_col`` = the cluster id (equi join on the cell — never
    all-pairs); the final keep-set is one distinct + one left-anti join.

    The greedy keep-lowest-id rule (drop b iff some a < b in the same
    cluster has cos(a,b) >= threshold) is deterministic and — unlike a
    connected-components closure — exactly expressible in SQL, which is
    what the n_clusters=1 exact configuration is hash-verified against.
    With n_clusters > 1 the result is approximate BY DESIGN: a cross-
    cluster near-dup pair is not compared (the SemDeDup trade).

    return_pairs=True returns the within-cluster offending pairs instead
    of the surviving rows (for audit dashboards).

    ``centroids``: pretrained/fixed cluster centroids (see
    :func:`fixed_random_centroids`); when given, driver-side k-means is
    skipped and n_clusters is taken from them — this makes the
    approximate configuration deterministic and cross-engine verifiable.
    """
    from .dedup import embedding_near_dup_pairs

    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids=n_clusters,
                                        iters=iters, id_col=id_col,
                                        vec_col=vec_col)
    assigned = corpus.withColumn(
        "__cell", _centroid_udf(centroids)(F.col(vec_col)))
    pairs = embedding_near_dup_pairs(assigned, id_col=id_col,
                                     vec_col=vec_col, threshold=threshold,
                                     block_col="__cell")
    if return_pairs:
        return pairs
    drops = pairs.select(F.col("id2").alias(id_col)).distinct()
    return (corpus.join(drops, id_col, "left_anti")
            .select(*corpus.columns))


def mmr_rerank(corpus: DataFrame, queries: DataFrame, k: int = 3,
               pool: int = 20, mmr_lambda: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: Optional[str] = None) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): diversify each query's top results by greedily picking,
    k times, the candidate maximizing

        lambda * rel(c)  -  (1 - lambda) * max_{s in selected} sim(c, s)

    over a ``pool``-sized exact-cosine candidate set — the standard
    redundancy-removal step between retrieval and display/training-pair
    assembly. Returns (query_id, pos, neighbor_id, cosine, score) with
    pos 1..k; pos 1 is the plain top hit (score = lambda * rel, the
    selected-set penalty being empty).

    Determinism: every relevance/pairwise cosine rounds to 1e-6 before
    entering a score, scores round to 1e-6 before ranking, and ties
    break on neighbor_id — so the greedy argmax restates exactly as an
    unrolled SQL CTE chain (one CTE pair per step), the PageRank
    discipline.

    Scale shape: candidates come from :func:`cosine_topk` (query side
    broadcast, corpus streamed once — swap in lsh_ann_topk/ivf_topk for
    corpus-scale pools); the greedy selection then runs ROW-LOCALLY over
    each query's collected pool array (one groupBy, k unrolled array
    expressions) — no per-step joins, windows or shuffles.  pool is a
    small constant by construction, so the per-row arrays are bounded.
    (The previous shape unrolled k join+aggregate+row_number rounds over
    a checkpointed candidate table — ~6 shuffling mini-jobs of tiny data
    per call; the r12 rewrite is the same greedy argmax restated as
    array folds, verified against the Python-greedy differential test and
    the unrolled-CTE DuckDB oracle.)
    """
    if k < 1:
        raise ValueError("mmr_rerank: k must be >= 1")
    if pool < k:
        raise ValueError("mmr_rerank: pool must be >= k")
    if not 0.0 <= mmr_lambda <= 1.0:
        raise ValueError("mmr_rerank: lambda must be in [0, 1]")
    lam = float(mmr_lambda)
    cands = cosine_topk(corpus, queries, k=pool, id_col=id_col,
                        vec_col=vec_col, query_id_col=query_id_col)
    emb = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("__emb"),
                        _l2norm([F.col(vec_col)]).alias("__n"))
    pool_df = (cands.join(emb, "neighbor_id")
               .groupBy("query_id")
               .agg(F.collect_list(F.struct(
                   F.col("neighbor_id").alias("id"),
                   F.col("cosine").alias("rel"),
                   F.col("__emb").alias("emb"),
                   F.col("__n").alias("n"))).alias("__cands")))

    # Score arithmetic runs in DECIMAL: rel and maxsim are already on the
    # 1e-6 grid, so lam * rel - (1-lam) * maxsim lands EXACTLY on decimal
    # boundaries (0.7 * 0.371485 = .2600395) where double rounding is
    # engine-dependent (Spark rounds the shortest decimal repr HALF_UP,
    # DuckDB rounds the binary value) — the q01 epsilon class. Exact
    # decimal products + decimal round make both engines agree.
    lam_d = F.lit(lam).cast("decimal(7,6)")
    ilam_d = F.lit(round(1.0 - lam, 6)).cast("decimal(7,6)")

    def _desc_id_sort(a, key):
        # row_number ORDER BY key DESC, id ASC restated as a comparator
        # sort (non-null keys before null, pg/Spark desc-nulls-last)
        return F.array_sort(a, lambda x, y: (
            F.when(key(x).isNotNull()
                   & (key(y).isNull() | (key(x) > key(y))), -1)
            .when(key(y).isNotNull()
                  & (key(x).isNull() | (key(y) > key(x))), 1)
            .when(x["id"] < y["id"], -1)
            .when(x["id"] > y["id"], 1).otherwise(0)))

    def _pick_next(arr, sel):
        # the greedy argmax of lam*rel - (1-lam)*max_sim over unpicked
        # candidates; identical float/decimal expressions to the old
        # join-based step (round-to-1e-6 pairwise sims, decimal score)
        picked_ids = F.transform(sel, lambda s: s["id"])
        rem = F.filter(arr, lambda c: ~F.array_contains(
            picked_ids, c["id"]))
        def scored(c):
            maxsim = F.array_max(F.transform(
                sel, lambda s: F.round(_dot([c["emb"], s["emb"]])
                                       / (c["n"] * s["n"]), 6)))
            score = F.round(
                lam_d * c["rel"].cast("decimal(18,6)")
                - ilam_d * maxsim.cast("decimal(18,6)"), 6).cast("double")
            return F.struct(c["id"].alias("id"), c["rel"].alias("rel"),
                            c["emb"].alias("emb"), c["n"].alias("n"),
                            score.alias("score"))
        return F.element_at(
            _desc_id_sort(F.transform(rem, scored),
                          lambda x: x["score"]), 1)

    def _result(p, pos):
        return F.struct(F.lit(pos).alias("pos"), p["id"].alias("id"),
                        p["rel"].alias("rel"), p["score"].alias("score"))

    def _steps(arr, sel, results, step):
        # unroll steps 2..k, let-binding each pick (every later step
        # references it; unbound, the tree re-derives earlier picks
        # exponentially); a null pick (pool exhausted below k)
        # contributes nothing and stays out of sel
        if step > k:
            return F.filter(F.array(*results),
                            lambda r: r["id"].isNotNull())
        return _let(_pick_next(arr, sel), lambda p: _steps(
            arr, F.filter(F.concat(sel, F.array(p)),
                          lambda s: s["id"].isNotNull()),
            results + [_result(p, step)], step + 1))

    def _greedy(arr):
        # pos 1 = plain top hit over NON-NULL cosines (score = lam*rel);
        # a query with no non-null cosine produces no rows at all
        nn = F.filter(arr, lambda c: c["rel"].isNotNull())
        return _let(
            F.element_at(_desc_id_sort(nn, lambda x: x["rel"]), 1),
            lambda p1: F.when(p1["id"].isNull(), F.filter(
                F.array(F.struct(
                    F.lit(1).alias("pos"), p1["id"].alias("id"),
                    p1["rel"].alias("rel"),
                    F.lit(None).cast("double").alias("score"))),
                lambda r: r["id"].isNotNull()))
            .otherwise(_steps(
                arr, F.array(F.struct(
                    p1["id"].alias("id"), p1["rel"].alias("rel"),
                    p1["emb"].alias("emb"), p1["n"].alias("n"),
                    F.lit(None).cast("double").alias("score"))),
                [F.struct(
                    F.lit(1).alias("pos"), p1["id"].alias("id"),
                    p1["rel"].alias("rel"),
                    F.round(lam_d * p1["rel"].cast("decimal(18,6)"), 6)
                    .cast("double").alias("score"))], 2)))

    out = pool_df.select(
        "query_id", F.explode(_greedy(F.col("__cands"))).alias("__r"))
    return out.select("query_id", F.col("__r.pos").alias("pos"),
                      F.col("__r.id").alias("neighbor_id"),
                      F.col("__r.rel").alias("cosine"),
                      F.col("__r.score").alias("score"))


def retrieval_recall(approx: DataFrame, exact: DataFrame,
                     k: int) -> DataFrame:
    """recall@k of an approximate retriever against exact top-k ground
    truth — the acceptance gate for every ANN configuration (LSH bits /
    IVF probes / PQ bytes are tuned against exactly this number).

    Both inputs are (query_id, neighbor_id, ...) result tables (ranks
    beyond k on the exact side are ignored). Returns one row per query:
    (query_id, n_hits, recall), recall = |approx ∩ exact@k| / k rounded
    to 1e-6. Queries present in the exact table always appear, with 0
    hits when the approximate side found nothing.

    Scale shape: one equi join on (query, neighbor) + one query-keyed
    count — both sides are query-count x k tables, already tiny relative
    to the corpora that produced them. (The exact side appears in two
    plan branches — hit join + query-list distinct — but both sit on the
    same exchange, which AQE's shuffle-stage reuse deduplicates at
    runtime; a single-consumption left-join rewrite was measured 0.6 s
    SLOWER solo at sf0.1 in r12 and reverted.)
    """
    if k < 1:
        raise ValueError("retrieval_recall: k must be >= 1")
    e = exact
    if "rank" in exact.columns:
        e = exact.filter(F.col("rank") <= k)
    e = e.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = (a.join(e, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits")))
    qs = e.select("query_id").distinct()
    return (qs.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                    F.round(F.coalesce(F.col("n_hits"), F.lit(0))
                            .cast("double") / float(k), 6).alias("recall")))
