"""DSIR-style importance resampling for training-data selection.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169, public method): score each raw-corpus document by the
log-likelihood ratio of its hashed n-gram features under a bag-of-ngrams
model of the TARGET domain vs the RAW corpus, then keep the highest-weight
documents.  The reference engine (chmp/framequery) has no analog — this is
part of the beyond-reference LLM-pipeline suite (SURVEY §2 extension).

Scale shape (the whole point):
- feature extraction is row-local (tokens -> uni+bigrams -> md5 bucket);
  one explode, no shuffle until the per-doc count;
- both bucket distributions are bounded aggregates (<= n_buckets rows,
  default 10k) — tiny regardless of corpus size;
- the log-ratio table joins onto the per-doc feature stream via an
  explicit BROADCAST join (it is <= n_buckets rows by construction), so
  scoring a 100 TB corpus is one map-side join + one groupBy(doc) sum —
  exactly two shuffles end to end (doc-feature count + doc sum).

Hashing is md5-prefix based (engine-exact in DuckDB/Spark) so selection is
fully oracle-checkable; weights are deterministic — the stochastic
Gumbel-top-k resampling of the paper reduces to deterministic top-k here,
the variant a reproducible pipeline wants anyway.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .contamination import _norm_tokens
from .dedup import _spread


def _grams_with_repeats(text: Column, n: int) -> Column:
    """Space-joined token n-grams WITH multiplicity (DSIR models counts;
    contamination.ngram_strings dedups, which is wrong here).

    The token array is LET-BOUND before the per-gram transform:
    interpreted HOFs re-evaluate non-variable subtrees once per element,
    so an inlined ``toks`` re-runs the regexp split O(tokens) times per
    row (measured: the un-bound form made the sf0.1 gram pass
    JIT-sensitive and 3-8x slower cold — the op_dsir_select bench
    instability of BENCH_r08)."""
    if n >= 2:
        # codegen'd single-regex gram pass (dedup.gram_extract keeps
        # duplicates — exactly the multiplicity DSIR needs); ~7× faster
        # than the interpreted transform/slice/join HOF chain it
        # replaces at identical output (r12)
        from .dedup import gram_extract

        return gram_extract(F.lower(text), n)
    # n == 1: the grams ARE the tokens (array_join of a 1-slice is the
    # identity), including the [""]-token empty-document edge
    return _norm_tokens(text)


def bucket_of(gram: Column, n_buckets: int) -> Column:
    """Engine-exact feature bucket: first 15 hex chars of md5 (60 bits,
    overflow-safe) mod n_buckets — reproducible in any engine with md5."""
    return (F.conv(F.substring(F.md5(gram), 1, 15), 16, 10)
            .cast("long") % n_buckets)


def doc_features(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_buckets: int = 10000,
                 ngram_sizes: Sequence[int] = (1, 2)) -> DataFrame:
    """(id, bucket, cnt): hashed n-gram counts per document.  One explode +
    one groupBy — the explode is row-local, the groupBy shuffles on
    (id, bucket) with map-side partial counts."""
    grams = F.concat(*[_grams_with_repeats(F.col(text_col), n)
                       for n in ngram_sizes])
    return (_spread(df).select(F.col(id_col),
                               F.explode(grams).alias("__gram"))
            .select(F.col(id_col),
                    bucket_of(F.col("__gram"), n_buckets).alias("bucket"))
            .groupBy(id_col, "bucket").agg(F.count(F.lit(1)).alias("cnt")))


def bucket_distribution(df: DataFrame, text_col: str = "text",
                        n_buckets: int = 10000,
                        ngram_sizes: Sequence[int] = (1, 2)) -> DataFrame:
    """(bucket, cnt): global hashed-n-gram counts — <= n_buckets rows, a
    bounded aggregate no matter the corpus size."""
    grams = F.concat(*[_grams_with_repeats(F.col(text_col), n)
                       for n in ngram_sizes])
    return (_spread(df).select(F.explode(grams).alias("__gram"))
            .select(bucket_of(F.col("__gram"), n_buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


def _log_ratio_from(t: DataFrame, r: DataFrame, n_buckets: int,
                    alpha: float) -> DataFrame:
    """(bucket, lr) from two (bucket, cnt) distributions with add-alpha
    smoothing; the totals ride along as a 1-row broadcast aggregate."""
    t = t.withColumnRenamed("cnt", "t_cnt")
    r = r.withColumnRenamed("cnt", "r_cnt")
    joined = t.join(r, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("t_cnt"), F.lit(0)).alias("t_cnt"),
        F.coalesce(F.col("r_cnt"), F.lit(0)).alias("r_cnt"))
    totals = joined.agg(F.sum("t_cnt").alias("t_tot"),
                        F.sum("r_cnt").alias("r_tot"))
    joined = joined.crossJoin(F.broadcast(totals))
    denom = float(alpha) * n_buckets
    lr = (F.log((F.col("t_cnt") + alpha) / (F.col("t_tot") + denom))
          - F.log((F.col("r_cnt") + alpha) / (F.col("r_tot") + denom)))
    return joined.select("bucket", lr.alias("lr"))


def _weights_with_feats(raw: DataFrame, target: DataFrame, text_col: str,
                        id_col: str, n_buckets: int,
                        ngram_sizes: Sequence[int], alpha: float):
    """(weights_df, persisted_feats_df) — the shared scoring pipeline.
    The raw-corpus distribution is DERIVED from the per-doc feature table
    (one gram pass over the big side, not two — the tracked persist makes
    the reuse real); the log-ratio table is broadcast (<= n_buckets rows),
    so scoring is map-side + one doc sum."""
    from .cache import persist_tracked

    feats = persist_tracked(
        doc_features(raw, text_col, id_col, n_buckets, ngram_sizes))
    r_dist = feats.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
    t_dist = bucket_distribution(target, text_col, n_buckets, ngram_sizes)
    lr = _log_ratio_from(t_dist, r_dist, n_buckets, alpha)
    w = (feats.join(F.broadcast(lr), "bucket")
         .groupBy(id_col)
         .agg(F.sum(F.col("cnt") * F.col("lr")).alias("dsir_weight")))
    return w, feats


def dsir_weights(raw: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 10000,
                 ngram_sizes: Sequence[int] = (1, 2),
                 alpha: float = 0.5) -> DataFrame:
    """(id, dsir_weight): importance log-weight per raw document —
    sum over its feature buckets of cnt * log-ratio."""
    w, _ = _weights_with_feats(raw, target, text_col, id_col, n_buckets,
                               ngram_sizes, alpha)
    return w


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 10000,
                ngram_sizes: Sequence[int] = (1, 2),
                alpha: float = 0.5,
                length_normalize: bool = False) -> DataFrame:
    """Top-k raw documents by DSIR importance weight (deterministic:
    ties break on id — the reproducible-pipeline variant of the paper's
    Gumbel resampling).  length_normalize divides by the feature count,
    scoring average per-gram affinity instead of total."""
    w, feats = _weights_with_feats(raw, target, text_col, id_col,
                                   n_buckets, ngram_sizes, alpha)
    if length_normalize:
        lens = feats.groupBy(id_col).agg(F.sum("cnt").alias("__n"))
        w = (w.join(lens, id_col)
             .select(id_col,
                     (F.col("dsir_weight") / F.col("__n"))
                     .alias("dsir_weight")))
    return (w.orderBy(F.round(F.col("dsir_weight"), 6).desc(),
                      F.col(id_col))
            .limit(k))
