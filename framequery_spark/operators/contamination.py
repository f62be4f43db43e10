"""Benchmark-contamination detection and cross-split leakage audits.

The two checks every LLM training-data pipeline runs before a training job:

1. **n-gram decontamination** (GPT-3 appendix C / PaLM style): flag any
   training document sharing an exact n-token span with an evaluation
   benchmark, then drop or redact the hits.
2. **Split-leakage audit**: after a train/val/test split, verify no two
   splits share (near-)identical documents — identical content in train and
   test silently inflates eval numbers.

Scale design (100 TB corpus, MB-scale benchmark):

- The benchmark side is always tiny relative to the corpus, so its distinct
  n-gram set is **broadcast**; the corpus-side gram stream is filtered
  map-side by the broadcast hash table and only *hits* ever reach a shuffle
  (the final per-doc count). The corpus is scanned exactly once, no
  corpus-side self-join, no global sort.
- Gram generation is pure JVM higher-order functions (`transform` over
  `sequence` + `slice` + `array_join`) — whole-stage-codegen'd, zero
  Python, zero shuffle, linear in token count.
- `array_distinct` runs *before* the explode so duplicate grams within a
  document never multiply the row count.
- The leakage audit joins on a fixed-width content fingerprint (md5 of
  whitespace-normalized text), not raw text: shuffle keys are 32 bytes
  regardless of document size, and the equi join is hash-partitioned on the
  fingerprint — near-perfectly balanced because md5 is uniform.

Everything here is byte-reproducible across engines (md5 + plain string
ops), which is what makes the DuckDB oracles in `__spark_entry__.py` exact.

Beyond-reference surface: the reference (chmp/framequery, see
docs/SQL_Support.md) has no corpus-hygiene operators at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _norm_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens — the standard decontamination
    normalization (case and spacing changes must not hide an overlap)."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def ngram_strings(text: Column, n: int) -> Column:
    """Array of the distinct space-joined token n-grams of ``text``.

    Row-local JVM expression. n >= 2 runs the codegen'd overlap-regex
    extractor (dedup.gram_extract — one regexp_extract_all pass; the
    interpreted transform/slice/join HOF chain it replaces measured ~7×
    slower at identical output, r12). Documents shorter than n tokens
    yield an empty array.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n >= 2:
        from .dedup import gram_extract

        return F.array_distinct(gram_extract(F.lower(text), n))
    toks = _norm_tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(empty)


def doc_ngrams(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """(id, gram) stream of distinct n-grams per document. Narrow except for
    the explode (which is row-local); no shuffle."""
    return (df
            .select(F.col(id_col),
                    F.explode(ngram_strings(F.col(text_col), n)).alias("gram")))


def contaminated_docs(train: DataFrame, benchmark: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 8) -> DataFrame:
    """Training documents sharing >= 1 exact n-token span with the benchmark.

    Returns (id_col, n_hits) where n_hits = number of *distinct* training-doc
    n-grams that appear anywhere in the benchmark. The benchmark gram set is
    broadcast (benchmarks are MBs; corpora are TBs), so the corpus-side
    stream is filtered map-side and only matching grams shuffle into the
    per-document count.
    """
    # join on xxhash64(gram), not the gram string: 8-byte fixed keys make
    # the broadcast table and the probe much smaller/faster, and a
    # collision needs ~2^32 distinct grams to appear once (birthday bound)
    # — same discipline as dedup.jaccard_pairs
    bench_grams = (doc_ngrams(benchmark, text_col, id_col, n)
                   .select(F.xxhash64("gram").alias("gh")).distinct())
    hits = (doc_ngrams(train, text_col, id_col, n)
            .select(F.col(id_col), F.xxhash64("gram").alias("gh"))
            .join(F.broadcast(bench_grams), "gh"))
    return (hits.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))


def decontaminate(train: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 8) -> DataFrame:
    """Drop every training document flagged by :func:`contaminated_docs`.

    Left-anti join on the id — the flag set is small (it's the contaminated
    subset), so Catalyst broadcasts it and the drop is map-side.
    """
    flagged = contaminated_docs(train, benchmark, text_col, id_col, n)
    return train.join(F.broadcast(flagged.select(id_col)), id_col, "left_anti")


def content_key(text: Column) -> Column:
    """md5 of whitespace-normalized lowercase text — the fixed-width exact
    dedup / leakage join key (engine-portable, uniform for partitioning)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")))


def split_leakage_pairs(df: DataFrame, split_col: str = "split",
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """All cross-split pairs of documents with identical normalized content.

    Returns (id_a, split_a, id_b, split_b) with id_a < id_b and
    split_a <> split_b. One equi self-join on the 32-byte content
    fingerprint — hash-partitioned, balanced, never all-pairs; rows with a
    unique fingerprint are dropped by the join itself.
    """
    keyed = df.select(
        F.col(id_col), F.col(split_col),
        content_key(F.col(text_col)).alias("ck"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (a.join(b, "ck")
            .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                   & (F.col(f"a.{split_col}") != F.col(f"b.{split_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"a.{split_col}").alias("split_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col(f"b.{split_col}").alias("split_b")))


def split_leakage_ngrams(df: DataFrame, split_col: str = "split",
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 8, min_shared: int = 1,
                         max_doc_freq: int = 1000) -> DataFrame:
    """Cross-split *near*-duplicate audit: pairs of documents in different
    splits sharing >= ``min_shared`` distinct n-grams.

    Exact-content equality (:func:`split_leakage_pairs`) misses the common
    real-world leak — the same article with a changed byline or added
    boilerplate. Shared long n-grams catch it.

    Shape (r13): the gram stream is pre-aggregated to per-gram sorted
    (id, split) lists — ONE shuffle of the gram stream, keyed by
    xxhash64(gram) (8-byte fixed keys; a collision needs ~2^32 distinct
    grams, birthday bound) — and cross-split pairs expand ROW-LOCALLY
    (never all-pairs: a gram shared by m docs expands to C(m,2) rows,
    exactly what the previous self-equi-join emitted), then a
    (id_a, id_b) count. The previous shape shuffled the persisted gram
    stream three times (doc-freq aggregate + both join sides); the
    doc-freq cap is now a size() filter on the grouped table — at n >= 8
    a gram in more than ``max_doc_freq`` docs is boilerplate, and it is
    exactly the group whose pair expansion would otherwise be quadratic
    in its document frequency.
    """
    grams = (df.select(F.col(id_col), F.col(split_col),
                       F.explode(ngram_strings(F.col(text_col), n))
                       .alias("gram"))
             .select(F.xxhash64("gram").alias("gram"),
                     F.struct(F.col(id_col).alias("id"),
                              F.col(split_col).alias("split")).alias("e")))
    if max_doc_freq is not None:
        from .cache import persist_tracked
        from .dedup import _drop_frequent_grams

        # boilerplate grams drop BEFORE the grouping exchange: the
        # doc-freq aggregate combines map-side (tiny shuffle of counts),
        # the frequent set broadcasts, the anti-join filters map-side —
        # dropped grams' occurrences never cross the wide shuffle.
        # Tracked persist (two consumers); released by the caller via
        # cache.release_cached() after materializing.
        grams = persist_tracked(grams)
        grams = _drop_frequent_grams(grams, max_doc_freq, key="gram")
    # ids are unique within a gram's list (ngram_strings dedupes per doc
    # and the split is a function of the id), so struct sort order == id
    # order and expanded pairs satisfy id_a < id_b like the old join
    # filter; sorted ascending, element i pairs with every later element
    groups = (grams.groupBy("gram")
              .agg(F.sort_array(F.collect_list("e")).alias("es"))
              .select("es"))
    pairs = (groups.where(F.size("es") >= 2)
             .select(F.posexplode("es").alias("__i", "a"), "es")
             .select("a", F.explode(F.slice("es", F.col("__i") + 2,
                                            F.size("es"))).alias("b"))
             .where((F.col("a.id") < F.col("b.id"))
                    & (F.col("a.split") != F.col("b.split")))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("a.split").alias("split_a"),
                      F.col("b.id").alias("id_b"),
                      F.col("b.split").alias("split_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    return pairs.where(F.col("n_shared") >= F.lit(min_shared))


def split_leakage_summary(df: DataFrame, split_col: str = "split",
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Leaked-pair count per (split_a, split_b) — the audit dashboard row.
    Empty result == clean split."""
    return (split_leakage_pairs(df, split_col, text_col, id_col)
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def semantic_decontaminate(train: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           vec_col: str = "embedding",
                           bench_vec_col: str | None = None) -> DataFrame:
    """Embedding-level benchmark decontamination: drop every training row
    whose embedding has cosine >= threshold against ANY benchmark row —
    the semantic complement of the n-gram :func:`decontaminate` (catches
    paraphrased/reformatted benchmark leakage that exact n-grams miss).

    Scale shape: benchmarks are small by nature, so the benchmark side is
    BROADCAST and the corpus streams once through a
    BroadcastNestedLoopJoin LeftAnti — the same corpus-never-shuffles
    contract as cosine_topk; clean rows never shuffle at all. The cosine
    is a row-local JVM fold. For a benchmark too large to broadcast,
    block both sides with the IVF/LSH generators first (the
    similarity-module path) — at that size the problem IS ANN search.
    """
    from ..functions.registry import _cosine

    bcol = bench_vec_col or vec_col
    bench = benchmark.select(F.col(bcol).alias("__bvec"))
    cond = _cosine([F.col(vec_col), F.col("__bvec")]) >= F.lit(threshold)
    return train.join(F.broadcast(bench), cond, "left_anti")
