"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the 100 TB contract):
  - exact dedup is a hash groupBy — one shuffle on the content key.
  - MinHash/LSH: signatures are computed row-local with JVM hash functions
    (xxhash64), candidates come from a band-bucket shuffle join (never an
    all-pairs cross join), then candidates are verified with exact Jaccard.
  - n-gram Jaccard join: explode distinct shingles, self-join on shingle with
    a document-frequency cap to drop stopword-shingles (the skew killer),
    group to count intersections.
  - SimHash: 64-bit signature; near-pairs via the band trick (k bands of
    64/k bits — any pair within Hamming distance k-1 shares a full band).
  - embedding near-dup: exact cosine over block pairs; the ANN path is in
    operators/similarity.py.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import _let
from ..functions.registry import _dot, _l2norm


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition an under-partitioned input up to the session default
    parallelism before expression-heavy stages. Small few-file sources
    (one parquet = one partition) would otherwise serialize shingle/hash
    computation onto one core; at cluster scale inputs already have enough
    files and this is a no-op.

    Width is probed via `inputFiles()` (a file listing — no job, no
    `df.rdd` materialization, which would force plan conversion and bypass
    AQE's own coalescing). Non-file inputs (createDataFrame, views over
    in-memory relations) report no files and are left untouched — they
    already default to session parallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - exotic sources without listings
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


# ------------------------------------------------------------------ exact


def exact_dup_groups(df: DataFrame, keys: List[str],
                     id_col: str = "doc_id") -> DataFrame:
    """Groups with >1 row for the given key columns:
    (key..., n_dups, keep_id) where keep_id is the smallest id."""
    return (df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


def exact_dedup(df: DataFrame, keys: List[str],
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (the min id) per key combination. Implemented as
    min-id groupBy + semi join so the choice is deterministic (dropDuplicates
    keeps an arbitrary row)."""
    keep = df.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=keys + [id_col], how="left_semi")


# --------------------------------------------------------------- shingles


def gram_extract(text: Column, k: int) -> Column:
    """All word-k-gram strings (single-space-joined, duplicates kept, in
    order) of whitespace-tokenized trimmed text, k >= 2 — ONE codegen'd
    regexp_extract_all pass with a lookbehind/lookahead overlap pattern
    instead of the interpreted transform/slice/join higher-order chain.
    HOFs are CodegenFallback (interpreted per element); r12 measured the
    HOF form at 4.2 s vs 0.6 s for this regex on the identical 235,704-
    gram output (order-invariant xxhash64 checksum equal), so this is
    the gram builder for every shingle/n-gram operator. Value-identical
    to `_grams(split(trim(text), '\\s+'), k)` for k >= 2: each match
    starts at a token boundary of the single-space-normalized text and
    captures exactly k tokens; documents with < k tokens yield an empty
    array (no match)."""
    if k < 2:
        raise ValueError("gram_extract: k must be >= 2 (k=1 is the raw "
                         "token stream — use split/term_table)")
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    pat = r"(?<=^|\s)(?=((\S+ ){%d}\S+))" % (k - 1)
    return F.regexp_extract_all(norm, F.lit(pat), 1)


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of whitespace-tokenized text (pure
    JVM expressions; no UDF). k >= 2 runs the codegen'd regex extractor
    (see gram_extract); k == 1 keeps the HOF form, whose empty-text
    behaviour ([""] token) the regex path does not reproduce."""
    if k >= 2:
        return F.array_distinct(gram_extract(text, k))

    def body(ws: Column) -> Column:
        return F.array_distinct(_grams(ws, k))

    return _let(F.split(F.trim(text), r"\s+"), body)


def _grams(ws: Column, k: int) -> Column:
    """Word k-grams of a token-array column (with duplicates). Guarded for
    short docs: sequence(1, 0) would run DESCENDING ([1, 0]) and element_at
    index 0 errors under ANSI — docs with < k words yield an empty array."""
    n = F.size(ws)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(k)]),
    )


def _shingle_table(df: DataFrame, id_col: str, text_col: str,
                   k: int) -> DataFrame:
    df = _spread(df)
    return (df.select(F.col(id_col).alias("__id"),
                      F.explode(shingles(F.col(text_col), k)).alias("__shingle")))


# ------------------------------------------------------- n-gram Jaccard join


def _blocked_set_jaccard_pairs(sh: DataFrame, threshold: float,
                               max_doc_freq: Optional[int],
                               out_col: str, digits: int,
                               denom: str = "union",
                               keep_sizes: bool = False) -> DataFrame:
    """The blocked set-Jaccard pair generation shared by jaccard_pairs
    (word shingles) and trgm_pairs (pg_trgm character trigrams): `sh` is
    the exploded (__id, __g) frame of each row's DISTINCT gram hashes.
    Grams are keyed by their 64-bit xxhash64, not the string: 8-byte
    fixed keys shuffle and compare far faster, and a collision needs
    ~2^32 distinct grams to appear once (birthday bound) — negligible
    against the oracle. `max_doc_freq` caps boilerplate grams (a gram
    shared by m docs contributes m² candidate pairs); similarity is then
    Jaccard of the CAPPED sets on both sides — an approximation the
    driver oracles restate identically."""
    return _finish_overlap_pairs(
        _pair_overlap_table(sh, max_doc_freq),
        threshold, out_col, digits, denom, keep_sizes)


def _gram_groups(sh: DataFrame, dedup_ids: bool = False) -> DataFrame:
    """(__ids,) — one row per gram holding the SORTED list of ids that
    carry it. ONE aggregation over the gram stream; the gram value itself
    is dropped after grouping (downstream only ever pairs ids within a
    group). sort_array uses the same ordering as the `<` comparison, so
    expanded (earlier, later) pairs satisfy id1 < id2 exactly like the
    self-join filter they replace. Callers pass streams whose (id, gram)
    rows are distinct (shingles()/ngram_strings() dedupe per row), which
    keeps pair multiplicities join-identical; `dedup_ids` collects a SET
    instead — for callers that previously ran an explicit .distinct()
    before the self-join, folding that whole exchange into this one
    aggregate."""
    ids = (F.collect_set("__id") if dedup_ids else F.collect_list("__id"))
    return (sh.groupBy("__g")
            .agg(F.sort_array(ids).alias("__ids"))
            .select("__ids"))


def _expand_sorted_pairs(groups: DataFrame) -> DataFrame:
    """(id1, id2) — one row per ordered element pair (i < j) of each
    __ids array: the row-local expansion that replaces the gram self
    equi-join. A group of m ids emits C(m,2) pairs — the same multiset
    of rows the join's  a.__g == b.__g AND id1 < id2  produced (ids are
    unique per gram at every call site; the trailing `<` filter keeps
    even pathological duplicate inputs join-identical). Both explodes
    are codegen'd Generate nodes — no interpreted HOFs."""
    return (groups
            .filter(F.size("__ids") >= 2)
            .select(F.posexplode("__ids").alias("__i", "id1"), "__ids")
            .select("id1",
                    F.explode(F.slice("__ids", F.col("__i") + 2,
                                      F.size("__ids"))).alias("id2"))
            .filter(F.col("id1") < F.col("id2")))


def _drop_frequent_grams(sh: DataFrame, max_doc_freq: int,
                         key: str = "__g") -> DataFrame:
    """Drop grams whose doc-frequency exceeds the cap BEFORE any wide
    shuffle: the doc-freq aggregate combines map-side (its exchange
    carries ~one row per distinct gram per map partition — counts, not
    occurrences), the FREQUENT set is tiny by construction (boilerplate:
    > cap occurrences each) and broadcasts, and the anti-join drops the
    quadratic groups map-side. Filtering AFTER the grouping aggregate
    instead was measured catastrophically worse on boilerplate-heavy
    corpora (r13 x100 probe: every dropped gram's occurrence list still
    crossed the grouping exchange). Caller persists `sh` (two consumers:
    this aggregate + the downstream grouping)."""
    frequent = (sh.groupBy(key)
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_doc_freq))
    # the USING-style join hoists the key column to the front — even for
    # anti joins — so reselect in the original column order: downstream
    # positional toDF renames would otherwise silently swap columns
    cols = sh.columns
    return sh.join(F.broadcast(frequent.select(key)), key,
                   "left_anti").select(*cols)


def _pair_overlap_table(sh: DataFrame,
                        max_doc_freq: Optional[int]) -> DataFrame:
    """(id1, id2, __common, __n1, __n2) for every pair sharing >= 1 gram —
    the self-join + counts half of _blocked_set_jaccard_pairs, factored
    out so different similarity measures over the SAME gram table (the
    jaccard truth + a containment config in near_dup_config_sweep) share
    one self-join instead of re-running it per measure. Output-sized.

    - persist: the gram table feeds three branches (both join sides +
      per-id counts); without it the gram expression recomputes 3x. At
      corpus scale prefer MEMORY_AND_DISK or checkpoint to parquet
      between stages.
    - `max_doc_freq` pre-filters boilerplate map-side
      (:func:`_drop_frequent_grams`) so quadratic groups never reach the
      join.
    - The pair generation stays a SELF-JOIN, deliberately NOT the grouped
      id-list expansion used by winnow_pairs/split_leakage_ngrams: this
      path's groups run up to the cap (or unbounded), and the r13 x10
      probe measured the expansion 2-3x SLOWER there (near_dup_sweep x10
      92-194 s grouped vs 45-81 s joined, same host, fresh JVMs
      alternated) — for large groups the join's hash probe emits the
      same C(m,2) rows far cheaper than the Generate+slice expansion,
      and the grouped form adds an array-heavy persisted intermediate.
      The winnow/split shapes keep the expansion because their group
      sizes are small/bounded and they shed a whole persist + distinct
      exchange by it (measured wins at sf0.1)."""
    from .cache import persist_tracked

    sh = persist_tracked(sh)
    if max_doc_freq is not None:
        sh = _drop_frequent_grams(sh, max_doc_freq)
    counts = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))

    a = sh.toDF("id1", "__g")
    b = sh.toDF("id2", "__g")
    common = (a.join(b, "__g")
              .filter(F.col("id1") < F.col("id2"))
              .groupBy("id1", "id2")
              .agg(F.count(F.lit(1)).alias("__common")))
    c1 = counts.toDF("id1", "__n1")
    c2 = counts.toDF("id2", "__n2")
    return common.join(c1, "id1").join(c2, "id2")


def _finish_overlap_pairs(overlap: DataFrame, threshold: float,
                          out_col: str, digits: int,
                          denom: str = "union",
                          keep_sizes: bool = False) -> DataFrame:
    """Apply one similarity measure + threshold to a _pair_overlap_table."""
    if denom == "union":
        d = F.col("__n1") + F.col("__n2") - F.col("__common")
    elif denom == "min":  # containment: catches A embedded in a larger B
        d = F.least(F.col("__n1"), F.col("__n2"))
    else:
        raise ValueError(f"unknown denominator: {denom!r}")
    sim = overlap.withColumn(out_col, F.col("__common").cast("double") / d)
    out_cols = ["id1", "id2"]
    if keep_sizes:
        out_cols += [F.col("__n1").alias("n1"), F.col("__n2").alias("n2")]
    return (sim.filter(F.col(out_col) >= threshold)
            .select(*out_cols, F.round(out_col, digits).alias(out_col)))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k: int = 3,
                  threshold: float = 0.7,
                  max_doc_freq: Optional[int] = None) -> DataFrame:
    """All pairs (id1 < id2) with word-k-gram Jaccard >= threshold.

    Candidate generation is the shingle self-join
    (:func:`_blocked_set_jaccard_pairs`); `max_doc_freq` drops shingles
    occurring in more than that many documents before the join — at
    corpus scale the frequent-shingle skew dominates the join, and a
    shingle shared by m docs contributes m^2 candidate rows.
    """
    # row-local distinct shingle hashes (array_distinct inside shingles() —
    # per-doc dedup without any exchange)
    sh = (_shingle_table(df, id_col, text_col, k)
          .select("__id", F.xxhash64("__shingle").alias("__g")))
    return _blocked_set_jaccard_pairs(sh, threshold, max_doc_freq,
                                      out_col="jaccard", digits=4)


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      threshold: float = 0.8,
                      max_doc_freq: Optional[int] = None) -> DataFrame:
    """All pairs (id1 < id2) with word-k-gram set CONTAINMENT >= threshold:

        containment = |S1 ∩ S2| / min(|S1|, |S2|)

    — the asymmetric near-dup measure (Broder 1997's containment, the
    min-denominator symmetrization) that catches a document EMBEDDED in a
    much larger one: Jaccard dilutes toward 0 as the size gap grows
    (|A∩B|/|A∪B| <= |A|/|B|), so quote-expansions, page-in-site and
    subset-concatenation dups are invisible to jaccard_pairs at any
    usable threshold. Returns (id1, id2, n1, n2, containment) with the
    distinct-shingle set sizes so callers can tell WHICH side is the
    contained one (the smaller set).

    Same blocked shape and `max_doc_freq` skew cap as jaccard_pairs —
    candidates come from the shingle equi self-join, never all-pairs.
    """
    sh = (_shingle_table(df, id_col, text_col, k)
          .select("__id", F.xxhash64("__shingle").alias("__g")))
    return _blocked_set_jaccard_pairs(sh, threshold, max_doc_freq,
                                      out_col="containment", digits=4,
                                      denom="min", keep_sizes=True)


def trgm_pairs(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", threshold: float = 0.5,
               max_doc_freq: Optional[int] = None) -> DataFrame:
    """All pairs (id1 < id2) with pg_trgm character-trigram similarity
    >= threshold — the set-join counterpart of the scalar
    `similarity(a, b)` / `%` operator (functions/trigram.py), i.e. a
    distributed `a.name % b.name` self-join over
    :func:`_blocked_set_jaccard_pairs` (short-string shape: names,
    titles, query strings). `max_doc_freq` is the skew/volume cap for
    the long-text shape; for multi-KB documents prefer
    minhash_lsh_pairs — this exists for the fuzzy-string-match shape
    pg_trgm serves.
    """
    from ..functions.trigram import trigram_array

    sh = (_spread(df)
          .select(F.col(id_col).alias("__id"),
                  F.explode(trigram_array(F.col(text_col))).alias("__g"))
          .select("__id", F.xxhash64("__g").alias("__g")))
    return _blocked_set_jaccard_pairs(sh, threshold, max_doc_freq,
                                      out_col="sim", digits=6)


# ------------------------------------------------------------ MinHash + LSH

# 31-bit Mersenne prime: (h31 * a31) < 2^62 never overflows a long, so the
# universal hash stays inside ANSI-safe JVM integer arithmetic
_MERSENNE = (1 << 31) - 1


def _minhash_params(num_perm: int, seed: int):
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
            for _ in range(num_perm)]


def _shingle_hashes_flat(df: DataFrame, id_col: str, text_col: str,
                         k: int, tag_col: Optional[str] = None) -> DataFrame:
    """(__id, __h64) — one row per word-k-gram OCCURRENCE (not distinct),
    computed entirely row-local (explode of a per-row gram array — no
    exchange). Downstream per-id hash aggregates see doc rows adjacent
    within each partition, so map-side partial aggregation collapses them
    before any shuffle: the exchange carries ~one row per document, not the
    gram stream. (A window-lead formulation was tried and rejected — it
    shuffles the full tokenized text.) Duplicates are kept: MIN/collect_set
    downstream are duplicate-insensitive, and skipping array_distinct saves
    an interpreted pass."""
    grams = (gram_extract(F.col(text_col), k) if k >= 2
             else _let(F.split(F.trim(F.col(text_col)), r"\s+"),
                       lambda ws: _grams(ws, k)))
    tag = [F.col(tag_col)] if tag_col else []
    return (_spread(df)
            .select(F.col(id_col).alias("__id"), *tag,
                    F.explode(grams).alias("__s"))
            .select("__id", *([tag_col] if tag_col else []),
                    F.xxhash64("__s").alias("__h64")))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       num_perm: int = 128, seed: int = 42) -> DataFrame:
    """(id, shingle array, array<long> signature). Each permutation i applies
    the universal hash h_i(x) = (a_i * h31(x) + b_i) mod p to every shingle
    and takes the min.

    Computed as flat shingle hashes + ONE hash aggregate carrying num_perm
    codegen'd MIN columns (map-side partial agg, one shuffle on the id). The
    array-fold formulation (array_min over transform, once per permutation)
    is an order of magnitude slower: higher-order functions are interpreted
    (CodegenFallback), so it pays num_perm interpreted array passes per
    document.
    """
    params = _minhash_params(num_perm, seed)
    base = (_spread(df)
            .select(F.col(id_col).alias("__id"),
                    shingles(F.col(text_col), k).alias("__sh")))
    # stage h31 as a real column: each of the num_perm MIN expressions then
    # codegens over a simple attribute instead of re-inlining the xxhash64
    # subtree, which keeps the generated aggregate class ~num_perm× smaller
    ex = _shingle_hashes_flat(df, id_col, text_col, k).withColumn(
        "__h31", F.col("__h64").bitwiseAND(F.lit(_MERSENNE)))
    h31 = F.col("__h31")
    mins = ex.groupBy("__id").agg(*[
        F.min((h31 * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ])
    sig = F.array(*[f"__m{i}" for i in range(num_perm)])
    # left join keeps zero-shingle docs (null signature), matching the old
    # array-fold semantics (array_min of empty = null)
    return base.join(mins.select("__id", sig.alias("__sig")), "__id", "left")


def _lsh_sigs(df: DataFrame, id_col: str, text_col: str, k: int,
              params, tag_col: Optional[str] = None) -> DataFrame:
    """(__id[, tag], __hs, __m0..__mN) — the distinct 64-bit shingle-hash
    set (for exact-Jaccard verification) plus the MinHash minima, built in
    ONE hash aggregate (map-side partial agg; the only exchange is on the
    group key). tag_col (e.g. a corpus-side marker) joins the group key so
    ids need only be unique per tag. Callers persist the result: it feeds
    band-join and verification sides."""
    ex = _shingle_hashes_flat(df, id_col, text_col, k, tag_col).withColumn(
        "__h31", F.col("__h64").bitwiseAND(F.lit(_MERSENNE)))
    h31 = F.col("__h31")
    keys = ["__id"] + ([tag_col] if tag_col else [])
    return ex.groupBy(*keys).agg(
        F.collect_set("__h64").alias("__hs"),
        *[F.min((h31 * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE))
          .alias(f"__m{i}") for i, (a, b) in enumerate(params)],
    )


def _band_cols(bands: int, rows: int) -> Column:
    """Array of per-band bucket hashes straight from the __m{i} min
    columns, no signature-array materialization."""
    return F.array(*[
        F.xxhash64(F.concat_ws(
            ",", *[F.col(f"__m{b * rows + r}").cast("string")
                   for r in range(rows)]), F.lit(b))
        for b in range(bands)
    ])


def _band_buckets(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(__id, __band, __bucket) — band key straight from the min columns."""
    return sigs.select("__id", F.posexplode(_band_cols(bands, rows))
                       .alias("__band", "__bucket"))


def _verified_jaccard(cands: DataFrame, sh1: DataFrame, sh2: DataFrame,
                      threshold: float) -> DataFrame:
    """Exact set-Jaccard over candidate (id1, id2) pairs ONLY — never the
    all-pairs recompute (that would defeat LSH at scale). sh1/sh2 are
    (id, __hs) shingle-hash-set tables for each side."""
    verified = (cands
                .join(sh1.toDF("id1", "__hs1"), "id1")
                .join(sh2.toDF("id2", "__hs2"), "id2"))
    inter = F.size(F.array_intersect("__hs1", "__hs2"))
    union = F.size("__hs1") + F.size("__hs2") - inter
    jac = inter / union
    return (verified.withColumn("jaccard", F.round(jac, 4))
            .filter(jac >= threshold)
            .select("id1", "id2", "jaccard"))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      num_perm: int = 128, bands: int = 64,
                      threshold: float = 0.7,
                      verify: bool = True, seed: int = 42) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    With num_perm=128, bands=64 (rows=2), a pair at Jaccard 0.7 is missed
    with probability (1-0.49)^64 ≈ 2e-19 — effectively exhaustive — while
    candidate volume stays ~linear. Candidates are then verified with exact
    Jaccard (verify=True) so false positives never escape.
    """
    rows = num_perm // bands
    from .cache import persist_tracked

    params = _minhash_params(num_perm, seed)
    # set Jaccard over xxhash64 values == string-shingle Jaccard up to a
    # ~2^-64-per-pair collision; persisted skinny (id, set, longs), tracked
    # for cache.release_cached()
    sigs = persist_tracked(_lsh_sigs(df, id_col, text_col, k, params))
    # band-bucket SELF-JOIN, deliberately NOT the grouped id-list
    # expansion used for gram pairs: bucket streams are singleton-
    # dominated (most (band, bucket) keys hold one doc), so a grouping
    # aggregate pays ObjectHashAggregate cost on every bucket while the
    # join only materializes collisions — measured r13 same-host x10/x100
    # probe: grouped 31.7/304.9 s vs join 23.9/179.2 s. The gram-pair
    # case is the opposite (multi-doc groups, stream consumed 3x by the
    # join shape) — see _pair_overlap_table.
    buckets = _band_buckets(sigs, bands, rows)
    a = buckets.toDF("id1", "__band", "__bucket")
    b = buckets.toDF("id2", "__band", "__bucket")
    cands = (a.join(b, ["__band", "__bucket"])
             .filter(F.col("id1") < F.col("id2"))
             .select("id1", "id2").distinct())
    if not verify:
        return cands
    sh = sigs.select("__id", "__hs")
    return _verified_jaccard(cands, sh, sh, threshold)


def minhash_pairs_against(new: DataFrame, corpus: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          k: int = 3, num_perm: int = 128, bands: int = 64,
                          threshold: float = 0.7, seed: int = 42) -> DataFrame:
    """Cross-corpus near-duplicate pairs: (new_id, corpus_id, jaccard) for
    every `new` document whose Jaccard against some `corpus` document
    reaches the threshold. Both sides hash with the SAME seeded permutations,
    so banding works across corpora; candidates come from the band-bucket
    equi join of the two bucket tables (work ≈ colliding bucket volume, never
    |new| × |corpus|) and are verified with exact set Jaccard.

    This is the incremental-ingest shape: `corpus` signatures depend only on
    `corpus`, so at scale they are computed once and persisted (parquet) by
    the caller while each new batch re-joins against them. When both sides
    arrive together (as here), signatures are computed in ONE shingle->agg
    pass over the tagged union — the expensive stage runs once, not twice —
    and the tag splits the result for the cross-side band join.
    """
    rows = num_perm // bands
    from .cache import persist_tracked

    params = _minhash_params(num_perm, seed)
    tagged = (new.select(F.col(id_col), F.col(text_col),
                         F.lit(True).alias("__is_new"))
              .unionByName(corpus.select(F.col(id_col), F.col(text_col),
                                         F.lit(False).alias("__is_new"))))
    # tag joins the group key, so ids need only be unique per side (a new
    # batch may legitimately reuse corpus ids); tracked persist — release
    # via cache.release_cached()
    sigs = persist_tracked(_lsh_sigs(tagged, id_col, text_col, k, params,
                                     tag_col="__is_new"))
    sig_new = sigs.filter(F.col("__is_new"))
    sig_old = sigs.filter(~F.col("__is_new"))
    # two-sided band-bucket join (not a grouped expansion — bucket keys
    # are singleton-dominated, see minhash_lsh_pairs)
    a = _band_buckets(sig_new, bands, rows).toDF("id1", "__band", "__bucket")
    b = _band_buckets(sig_old, bands, rows).toDF("id2", "__band", "__bucket")
    cands = a.join(b, ["__band", "__bucket"]).select("id1", "id2").distinct()
    out = _verified_jaccard(cands, sig_new.select("__id", "__hs"),
                            sig_old.select("__id", "__hs"), threshold)
    return out.toDF("new_id", "corpus_id", "jaccard")


def dedup_against(new: DataFrame, corpus: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  exact_keys: Optional[List[str]] = None,
                  threshold: Optional[float] = 0.7,
                  k: int = 3, num_perm: int = 128, bands: int = 64,
                  seed: int = 42) -> DataFrame:
    """Incremental dedup: the rows of `new` that survive against an existing
    `corpus` — dropping exact duplicates (left-anti join on `exact_keys`)
    and/or near duplicates (MinHash/LSH cross-corpus pairs at `threshold`;
    pass threshold=None to skip the fuzzy stage).

    Both stages are anti joins on hashed keys — the corpus is never
    broadcast-collected and nothing is quadratic; this is the shape of a
    daily training-data ingest against a 100 TB deduplicated store.
    """
    out = new
    if exact_keys:
        out = out.join(corpus.select(*exact_keys).distinct(),
                       on=exact_keys, how="left_anti")
    if threshold is not None:
        matched = minhash_pairs_against(
            out, corpus, id_col=id_col, text_col=text_col, k=k,
            num_perm=num_perm, bands=bands, threshold=threshold, seed=seed)
        out = out.join(matched.select(F.col("new_id").alias(id_col)).distinct(),
                       on=id_col, how="left_anti")
    return out


# ------------------------------------------------------------------ SimHash


def _simhash_from_hashes(hashes: Column, n: Column) -> Column:
    """64-bit SimHash from a pre-materialized array<long> of shingle hashes:
    per-bit majority vote, 64 fold expressions over the (column) array."""
    bit_exprs = []
    for bit in range(64):
        ones = F.aggregate(
            hashes, F.lit(0),
            lambda acc, h: acc + F.shiftrightunsigned(h, bit).bitwiseAND(F.lit(1)).cast("int"),
        )
        bit_value = (1 << bit) if bit < 63 else -(1 << 63)  # two's complement
        bit_exprs.append(
            F.when(ones * 2 >= n, F.lit(bit_value).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out.bitwiseOR(e)
    return out


def simhash64(text: Column, k: int = 3) -> Column:
    """64-bit SimHash of a text column. NOTE: when applying to a whole
    DataFrame prefer the staged path in simhash_near_pairs — inlining this
    expression recomputes the shingle array 64 times."""
    sh = shingles(text, k)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    return _simhash_from_hashes(hashes, F.size(sh))


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix. Slower than xxhash64 but
    reproducible in ANSI SQL / DuckDB (`('0x' || substr(md5(s),1,15))::
    BIGINT`), which makes the full SimHash pipeline cross-engine-verifiable
    — used by the exactness-mirror driver entry."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       max_hamming: int = 3, sig_bits: int = 64,
                       hash_fn=None) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming using the band
    trick: split the sig_bits-bit signature into (max_hamming+1) bands; any
    pair within the distance agrees exactly on >= 1 band, so candidates come
    from band-equality joins (shuffle on the band bucket, never all-pairs).
    When sig_bits isn't a multiple of the band count the top remainder bits
    are band-uncovered — recall still holds by pigeonhole over the covered
    bits, and the exact Hamming filter runs afterwards regardless.

    hash_fn/sig_bits default to xxhash64/64 (fastest, JVM-side). Pass
    hash_fn=md5_hash60, sig_bits=60 for the SQL-reproducible variant the
    DuckDB differential oracle can mirror bit-for-bit."""
    if not 1 <= sig_bits <= 64:
        raise ValueError("sig_bits must be in [1, 64]")
    n_bands = max_hamming + 1
    width = sig_bits // n_bands
    if width < 1:
        raise ValueError("max_hamming too large for sig_bits signature")
    mask = (1 << width) - 1 if width < 64 else -1  # -1 = all 64 bits set
    hash_fn = hash_fn or (lambda c: F.xxhash64(c))
    # row-local distinct shingles (array_distinct, no exchange) + ONE hash
    # aggregate of codegen'd bit-count SUM columns; the array-fold
    # formulation (64 F.aggregate passes) is interpreted (CodegenFallback)
    # and an order of magnitude slower.
    # r13: the per-bit counters are LANE-PACKED two to a long (bit b in the
    # low 32 bits, bit b+half shifted to the high 32), halving the aggregate
    # width (60 -> 30 / 64 -> 32 SUM expressions) and with it the generated
    # aggregate class — the width was the JIT-warm-up cost the bench's
    # still-warming guard kept tripping on. Overflow-safe by construction:
    # each row adds at most 1 per lane and a document yields < 2^31 shingle
    # rows (Spark strings are < 2^31 bytes), so the low lane never carries
    # into the high lane (< 2^32) and the packed sum stays < 2^63. The
    # per-bit counts extracted below are integer-identical to the unpacked
    # form, so signatures and pairs are unchanged.
    ex = (_spread(df)
          .select(F.col(id_col).alias("__id"),
                  F.explode(shingles(F.col(text_col), k)).alias("__s"))
          .select("__id", hash_fn(F.col("__s")).alias("__h64")))
    half = (sig_bits + 1) // 2

    def _lane(bit: int) -> Column:
        return F.shiftrightunsigned("__h64", bit).bitwiseAND(F.lit(1))

    votes = ex.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(_lane(p) + F.shiftleft(_lane(p + half), 32)
                if p + half < sig_bits else _lane(p)).alias(f"__p{p}")
          for p in range(half)])

    def _ones(bit: int) -> Column:
        s = F.col(f"__p{bit if bit < half else bit - half}")
        return (s.bitwiseAND(F.lit(0xFFFFFFFF)) if bit < half
                else F.shiftrightunsigned(s, 32))

    sim = None
    for bit in range(sig_bits):
        bit_value = (1 << bit) if bit < 63 else -(1 << 63)  # two's complement
        e = F.when(_ones(bit) * 2 >= F.col("__n"),
                   F.lit(bit_value).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = e if sim is None else sim.bitwiseOR(e)
    from .cache import persist_tracked

    # signatures feed both band-join sides — persist to compute the 64-bit
    # majority votes once per document; tracked for cache.release_cached()
    sig_df = persist_tracked(votes.select("__id", sim.alias("__sim")))
    bands = F.array(*[
        F.shiftrightunsigned(F.col("__sim"), i * width)
        .bitwiseAND(F.lit(mask))
        for i in range(n_bands)
    ])
    # band-bucket self-join (not a grouped expansion — bucket keys are
    # mostly singletons at production band widths, see minhash_lsh_pairs)
    buckets = sig_df.select("__id", "__sim",
                            F.posexplode(bands).alias("__band", "__bucket"))
    a = buckets.toDF("id1", "sim1", "__band", "__bucket")
    b = buckets.toDF("id2", "sim2", "__band", "__bucket")
    # Hamming filter BEFORE the distinct: with narrow bands (width 64/(h+1))
    # bucket collisions are common, and the join can emit orders of magnitude
    # more candidate rows than true pairs — filtering map-side means the
    # distinct shuffle only carries rows that already passed the distance
    # test, not the collision volume.
    ham = F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2")))
    return (a.join(b, ["__band", "__bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id1", "id2", "hamming").distinct())


# ------------------------------------------------- embedding cosine near-dup


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9,
                             block_col: Optional[str] = None,
                             n_blocks: Optional[int] = None,
                             rows_per_block: int = 2000) -> DataFrame:
    """Exact cosine near-dup pairs (id1 < id2, cosine >= threshold).

    block_col limits comparisons to equal-block pairs (e.g. an IVF/LSH
    bucket or a metadata partition); without it ALL pairs are compared via
    a blocked matrix multiply: rows are hashed into n_blocks row-blocks and
    each of the n_blocks*(n_blocks+1)/2 block pairs becomes one
    applyInPandas group computing a dense normalized A @ B.T (numpy GEMM,
    Arrow-batched) and emitting only above-threshold pairs. Each row ships
    to n_blocks groups, so shuffle volume is n_blocks x |data| while the
    quadratic dot-product work parallelizes over the block-pair grid — at
    cluster scale pick n_blocks ~ sqrt(cores) so per-group matrices stay
    (|data|/n_blocks)^2. A per-pair JVM fold was tried first and is ~10x
    slower: higher-order functions are interpreted, and BLAS beats
    expression eval on dense float math regardless.
    """
    if block_col is not None:
        norm = _l2norm([F.col(vec_col)])
        staged = _spread(df).select(F.col(id_col).alias("__id"),
                                    F.col(vec_col).alias("__v"),
                                    norm.alias("__norm"),
                                    F.col(block_col).alias("__blk"))
        a = staged.toDF("id1", "__v1", "__n1", "__blk")
        b = staged.toDF("id2", "__v2", "__n2", "__blk")
        joined = a.join(b, on="__blk").filter(F.col("id1") < F.col("id2"))
        sim = _dot([F.col("__v1"), F.col("__v2")]) \
            / (F.col("__n1") * F.col("__n2"))
        return (joined.withColumn("cosine", sim)
                .filter(F.col("cosine") >= threshold)
                .select("id1", "id2", F.round("cosine", 4).alias("cosine")))

    import numpy as np
    import pandas as pd

    if n_blocks is None:
        # adaptive: ~rows_per_block rows per block, so per-group GEMMs stay
        # dense-cache-sized while the block-pair grid covers the cluster.
        # The count() is a cheap metadata action on columnar sources; tiny
        # inputs collapse to one group (no point shipping each row 16x).
        # cap at 64: shuffle volume is n_blocks x |data|, so past the cap we
        # grow per-group GEMM size instead of replication
        n_rows = df.count()
        if n_rows > 1_000_000:
            import warnings

            warnings.warn(
                f"embedding_near_dup_pairs without block_col is an EXACT "
                f"all-pairs comparison — O(n^2) dot products over "
                f"{n_rows} rows. The block-pair grid parallelizes the "
                f"work but cannot shrink it; at this size use "
                f"lsh_topk/minhash near-dup for candidate generation or "
                f"pass block_col (an LSH/IVF bucket) to restrict "
                f"comparisons.", RuntimeWarning, stacklevel=2)
        n_blocks = min(64, max(1, -(-n_rows // rows_per_block)))

    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
        .alias("__blk"))
    # replicate each row to every block pair it participates in: row in
    # block b joins group (min(b,g), max(b,g)) for g in 0..n_blocks-1 —
    # each unordered block pair is covered exactly once per member row
    rep = (base
           .select("__id", "__v", "__blk",
                   F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
                   .alias("__g"))
           .select("__id", "__v", "__blk",
                   F.least("__blk", "__g").alias("__ga"),
                   F.greatest("__blk", "__g").alias("__gb")))

    thr = float(threshold)

    def gemm(key, pdf):
        ga, gb = int(key[0]), int(key[1])
        empty = pd.DataFrame({"id1": pd.Series(dtype="int64"),
                              "id2": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        a = pdf[pdf["__blk"] == ga]
        b = a if ga == gb else pdf[pdf["__blk"] == gb]
        if len(a) == 0 or len(b) == 0:
            return empty
        ma = np.stack(a["__v"].to_numpy()).astype(np.float64)
        mb = ma if ga == gb else np.stack(b["__v"].to_numpy()).astype(np.float64)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = na if ga == gb else np.sqrt((mb * mb).sum(axis=1))
        sims = (ma @ mb.T) / np.outer(na, nb)
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        ii, jj = np.nonzero(sims >= thr)
        if len(ii) == 0:
            return empty
        ia, ib = ids_a[ii], ids_b[jj]
        vals = sims[ii, jj]
        if ga == gb:  # both orientations present: keep the id1 < id2 one
            keep = ia < ib
            ia, ib, vals = ia[keep], ib[keep], vals[keep]
        else:  # each cross-block pair appears once: orient it
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        # round half-up (matches SQL round(); np.round is banker's)
        return pd.DataFrame({"id1": ia, "id2": ib,
                             "cosine": np.floor(vals * 1e4 + 0.5) / 1e4})

    return (rep.groupBy("__ga", "__gb")
            .applyInPandas(gemm, "id1 long, id2 long, cosine double"))


# ------------------------------------------------------------- edit distance


def levenshtein_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_distance: int = 8,
                      prefix: int = 64, band: int = 16) -> DataFrame:
    """Near-duplicate pairs by edit distance on the first `prefix` chars,
    with a length-band blocker: only pairs whose full-text lengths differ
    by <= band are compared (a pair further apart than the band cannot be
    within `band` edits of each other anyway when band >= max_distance).

    Scale shape: blocking buckets = floor(length / band); one side keeps
    its bucket, the other explodes into {b-1, b, b+1}, so the candidate
    join is an equi shuffle join on the bucket id — never an all-pairs
    cross join — and levenshtein (JVM built-in) runs only on candidates.
    Returns (id_a, id_b, distance) with id_a < id_b.

    Soundness: two texts within `max_distance` edits can differ in length
    by up to `max_distance`, so a band narrower than that would silently
    drop valid pairs — the band is clamped up to max_distance.
    """
    band = max(band, max_distance)
    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.substring(F.col(text_col), 1, prefix).alias("__t"),
        F.length(F.col(text_col)).alias("__n"))
    a = base.select(F.col("__id").alias("id_a"), F.col("__t").alias("__ta"),
                    F.col("__n").alias("__na"),
                    F.floor(F.col("__n") / band).alias("__bucket"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__t").alias("__tb"),
                    F.col("__n").alias("__nb"),
                    F.explode(F.array(
                        F.floor(F.col("__n") / band) - 1,
                        F.floor(F.col("__n") / band),
                        F.floor(F.col("__n") / band) + 1)).alias("__bucket"))
    cands = (a.join(b, "__bucket")
             .filter((F.col("id_a") < F.col("id_b"))
                     & (F.abs(F.col("__na") - F.col("__nb")) <= band)))
    out = (cands
           .withColumn("distance", F.levenshtein("__ta", "__tb"))
           .filter(F.col("distance") <= max_distance)
           .select("id_a", "id_b", "distance"))
    return out


# --------------------------------------------- repeated-span removal


def remove_repeated_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 8,
                          min_copies: int = 2) -> DataFrame:
    """Exact substring dedup in the style of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): find every word ``k``-gram whose exact text occurs
    at least ``min_copies`` times corpus-wide (across documents or within
    one), and REWRITE each document with every covered token span removed.
    This is the span-surgery complement to :func:`chunk_dedup` /
    :func:`exact_dedup`, which drop whole chunks/documents: boilerplate
    (headers, license blocks, navigation chrome) is cut out of otherwise
    unique documents instead of the documents being lost.

    Every occurrence of a duplicated span is removed (the symmetric policy
    of the released deduplicate-text-datasets tool): keep-one would need a
    global argmin tie-break join per duplicate cluster, and Lee et al.
    report the choice does not measurably change model quality.

    Returns (id_col, clean_text, n_removed_tokens) — one row per input
    document, including untouched ones (n_removed_tokens = 0). NULL text
    is normalized to '' up front (like :func:`take_token_budget` guards
    NULL score/tokens): the row survives with clean_text = '' and
    n_removed_tokens = 0, never a negative count from NULL-array size
    semantics.

    Scale shape (the suffix array of the paper is a single-machine
    construction; this is the distributed equivalent for fixed k):
      - gram positions are generated row-local with JVM higher-order
        functions (no UDF, no driver work);
      - the occurrence count is one groupBy on ``md5(gram)`` — a
        fixed-width uniform key with map-side partial aggregation, so
        100 TB of text reduces to |distinct grams| keys and no Zipfian
        unigram skew (word k-grams for k >= 4 are near-unique);
      - duplicated positions come back through one equi join on the same
        md5 key (AQE turns it into a broadcast join when the duplicated
        set is small, the common case) and one doc-keyed groupBy whose
        collect_set is bounded by the document's own token count;
      - the span-union rewrite is per-row array work bounded by document
        length — nothing cross-document ever leaves an equi join.
    128-bit md5 keys keep cross-corpus collision probability negligible
    at 10^13+ grams (xxhash64 would birthday-collide and cut wrong spans).
    """
    if k < 1:
        raise ValueError("remove_repeated_spans: k must be >= 1")
    if min_copies < 2:
        raise ValueError("remove_repeated_spans: min_copies must be >= 2")
    base = _spread(df).select(
        F.col(id_col),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
         .alias("__toks"))
    pos_tbl = (base.select(
        id_col,
        F.posexplode(_let(F.col("__toks"), lambda ws: _grams(ws, k)))
         .alias("__pos", "__gram"))
        .select(id_col, "__pos", F.md5("__gram").alias("__gh")))
    dup = (pos_tbl.groupBy("__gh")
           .agg(F.count(F.lit(1)).alias("__n"))
           .where(F.col("__n") >= int(min_copies))
           .select("__gh"))
    dup_pos = (pos_tbl.join(dup, "__gh")
               .groupBy(id_col)
               .agg(F.sort_array(F.collect_set("__pos")).alias("__dups")))
    out = base.join(dup_pos, id_col, "left")
    dups = F.coalesce(F.col("__dups"), F.array().cast("array<int>"))
    # span union as set algebra, not a per-token membership scan: expand
    # each duplicated start to its k covered positions (O(|dups|*k)),
    # then array_except — a hash-set difference, O(n + covered) — keeps
    # the surviving positions in order. A fully-duplicated 10k-token
    # document costs ~k*n work, where the naive exists()-per-token
    # formulation would cost n*|dups| ~ n^2.
    covered = F.array_distinct(F.flatten(
        F.transform(dups, lambda d: F.sequence(d, d + F.lit(k - 1)))))
    all_pos = F.when(F.size("__toks") > 0,
                     F.sequence(F.lit(0), F.size("__toks") - 1)) \
               .otherwise(F.array().cast("array<int>"))  # seq(0,-1) DESCENDS
    keep_pos = F.array_except(all_pos, covered)
    kept = F.transform(keep_pos,
                       lambda p: F.element_at(F.col("__toks"), p + 1))
    return out.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.size("__toks") - F.size(kept)).cast("long")
        .alias("n_removed_tokens"))


# ---------------------------------------------------------------- winnowing


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): hash every word k-gram, slide a window of
    `window` consecutive hashes, and select each window's MINIMUM hash
    (rightmost position on ties, the robust-winnowing preference); the
    distinct selected (position, hash) pairs are the document's
    fingerprints. Guarantees a shared fingerprint for any common substring
    of at least window + k - 1 words while storing only ~2/(window+1) of
    the gram hashes — position-robust local sampling, unlike MinHash
    (whole-document) or simhash (global bit vector).

    Deviation for utility: a document with 1..window-1 grams still gets
    one fingerprint (the minimum over all its grams); strict winnowing
    would emit nothing for such short documents.

    Returns (id_col, pos, fp): pos is the 0-based word position where the
    selected k-gram starts; fp is the first 16 hex chars of md5(gram) —
    lexicographic order on the fixed-width lowercase hex equals numeric
    order, and md5 is restatable in the DuckDB oracle (xxhash64 is not).

    Scale shape: everything is ROW-LOCAL JVM higher-order functions over
    the token array (O(grams x window) comparisons per row, no UDF, no
    shuffle); the output explodes to ~2n/(window+1) rows per n-gram doc.
    """
    if k < 1:
        raise ValueError("winnow_fingerprints: k must be >= 1")
    if window < 1:
        raise ValueError("winnow_fingerprints: window must be >= 1")
    w = window

    def wins_of(grams: Column) -> Column:
        n_g = F.size(grams)
        # window starts (1-based): standard sliding windows, plus the
        # single clamped window for docs with 1..w-1 grams
        starts = F.when(n_g >= w, F.sequence(F.lit(1), n_g - (w - 1))) \
                  .when(n_g >= 1, F.array(F.lit(1))) \
                  .otherwise(F.array().cast("array<int>"))

        def select_in(s: Column) -> Column:
            win = F.slice(grams, s, w)
            mn = F.array_min(win)
            last = F.least(s + F.lit(w - 1), n_g)
            pos = F.array_max(F.filter(
                F.sequence(s, last),
                lambda p: F.element_at(grams, p) == mn))
            return F.struct((pos - 1).alias("pos"), mn.alias("fp"))

        return F.array_distinct(F.transform(starts, select_in))

    if k >= 2:
        # gram source via the codegen'd regex extractor (identical gram
        # sequence — r12); only the window-select HOF stays interpreted.
        # _let binds the hashed gram array so md5 runs once per gram, not
        # once per window element.
        sel = _let(F.transform(gram_extract(F.col(text_col), k),
                               lambda g: F.substring(F.md5(g), 1, 16)),
                   wins_of)
    else:
        def fps_of(ws: Column) -> Column:
            return _let(F.transform(
                _grams(ws, k), lambda g: F.substring(F.md5(g), 1, 16)),
                wins_of)

        sel = _let(F.split(F.trim(F.col(text_col)), r"\s+"), fps_of)

    out = _spread(df).select(F.col(id_col), F.explode(sel).alias("__sel"))
    return out.select(id_col, F.col("__sel.pos").alias("pos"),
                      F.col("__sel.fp").alias("fp"))


def _winnow_fp_set(df: DataFrame, id_col: str, text_col: str,
                   k: int, window: int) -> DataFrame:
    """(id, fp) DISTINCT selected-fingerprint rows — winnow_fingerprints
    minus the positions. The selected fingerprint VALUE of a window is
    its minimum regardless of which (rightmost) position carries it, so
    the distinct fp set is exactly `array_distinct` of the per-window
    minima: the position bookkeeping (filter + element_at + array_max
    per window — the dominant interpreted-HOF cost of the full
    fingerprint pass, ~2x the min scan) is dropped entirely. Used by
    winnow_pairs, whose join keys are (id, fp) only; callers that need
    positions (span alignment) use winnow_fingerprints."""
    if k < 1:
        raise ValueError("winnow_fingerprints: k must be >= 1")
    if window < 1:
        raise ValueError("winnow_fingerprints: window must be >= 1")
    w = window

    def wins_of(grams: Column) -> Column:
        n_g = F.size(grams)
        starts = F.when(n_g >= w, F.sequence(F.lit(1), n_g - (w - 1))) \
                  .when(n_g >= 1, F.array(F.lit(1))) \
                  .otherwise(F.array().cast("array<int>"))
        return F.array_distinct(F.transform(
            starts, lambda s: F.array_min(F.slice(grams, s, w))))

    if k >= 2:
        sel = _let(F.transform(gram_extract(F.col(text_col), k),
                               lambda g: F.substring(F.md5(g), 1, 16)),
                   wins_of)
    else:
        def fps_of(ws: Column) -> Column:
            return _let(F.transform(
                _grams(ws, k), lambda g: F.substring(F.md5(g), 1, 16)),
                wins_of)

        sel = _let(F.split(F.trim(F.col(text_col)), r"\s+"), fps_of)

    return (_spread(df).select(F.col(id_col), F.explode(sel).alias("fp"))
            .select(id_col, "fp"))


def winnow_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3, window: int = 4,
                 min_shared: int = 2,
                 max_doc_freq: Optional[int] = None) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints: all
    (id1 < id2) sharing >= min_shared distinct fingerprint hashes, with
    the shared count — the MOSS match-detection step as one equi join.

    `max_doc_freq` drops fingerprints present in more than that many
    documents before the self-join (same boilerplate/skew cap as
    jaccard_pairs: a fingerprint shared by m docs contributes m^2
    candidate rows, and ubiquitous boilerplate grams carry no near-dup
    signal).

    Scale shape (r13): fingerprinting is row-local (winnow_fingerprints);
    pair generation pre-aggregates to per-fingerprint sorted id lists
    (ONE shuffle of the fingerprint stream) and expands pairs row-locally
    — never all-pairs, no self-join, no persist (the stream now has a
    single consumer; the previous persist + frequent-set anti-join +
    two-sided equi join shuffled the fingerprint table three times).
    The doc-freq cap is a size() filter on the grouped table — value-
    identical to the anti-join it replaces.
    """
    if min_shared < 1:
        raise ValueError("winnow_pairs: min_shared must be >= 1")
    fps = (_winnow_fp_set(df, id_col, text_col, k, window)
           .select(F.col(id_col).alias("__id"), F.col("fp").alias("__g")))
    if max_doc_freq is not None:
        from .cache import persist_tracked

        # pre-filter boilerplate fingerprints map-side (tiny combined
        # count shuffle + broadcast anti-join) so dropped fingerprints'
        # occurrences never cross the grouping exchange; rows are unique
        # per (id, fp) by construction (_winnow_fp_set dedupes per doc),
        # so the row counts equal the doc frequencies
        fps = persist_tracked(fps)
        fps = _drop_frequent_grams(fps, max_doc_freq)
    # dedup_ids folds the previous explicit .distinct() (its own exchange)
    # into the grouping aggregate: set-collect per fingerprint
    g = _gram_groups(fps, dedup_ids=True)
    return (_expand_sorted_pairs(g)
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


# ------------------------------------------------- unified near-dup façade

# method -> (pair function, native score column). Every member emits
# (id1 < id2) pair rows; the façade renames the native measure to `score`
# so configs are interchangeable in sweeps (jaccard / containment / trgm /
# minhash: similarity in [0, 1]; winnow: shared-fingerprint count;
# simhash: Hamming DISTANCE — lower is nearer).
_NEAR_DUP_METHODS = {
    "jaccard": (jaccard_pairs, "jaccard"),
    "containment": (containment_pairs, "containment"),
    "trgm": (trgm_pairs, "sim"),
    "minhash": (minhash_lsh_pairs, "jaccard"),
    "winnow": (winnow_pairs, "n_shared"),
    "simhash": (simhash_near_pairs, "hamming"),
}


def near_dup_pairs(df: DataFrame, method: str = "jaccard",
                   id_col: str = "doc_id", text_col: str = "text",
                   **knobs) -> DataFrame:
    """One entry point for the candidate→verify near-dup family — the
    knobs differ per method (bands/rows for minhash, min_shared/window
    for winnow, max_doc_freq for the gram joins, max_hamming for
    simhash) but the contract is uniform: (id1, id2, score) with
    id1 < id2, so any config drops into the same acceptance gate
    (:func:`dedup_pair_quality`) or sweep (:func:`near_dup_config_sweep`).

    `score` is the method's native measure (see _NEAR_DUP_METHODS);
    callers comparing across methods should treat it as opaque evidence
    and gate on the pair SET, which is what dedup_pair_quality does.
    Every method keeps its own scale shape (banded LSH / blocked gram
    join / fingerprint equi join — never all-pairs on a default path).
    """
    if method not in _NEAR_DUP_METHODS:
        raise ValueError(
            f"unknown near-dup method {method!r}; "
            f"one of {sorted(_NEAR_DUP_METHODS)}")
    fn, native = _NEAR_DUP_METHODS[method]
    out = fn(df, id_col=id_col, text_col=text_col, **knobs)
    return out.select("id1", "id2",
                      F.col(native).cast("double").alias("score"))


def near_dup_config_sweep(df: DataFrame, configs: dict,
                          exact: Optional[DataFrame] = None,
                          exact_threshold: float = 0.7, exact_k: int = 3,
                          exact_max_doc_freq: Optional[int] = None,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Evaluate several near-dup configs against ONE exact ground truth:
    `configs` maps a label to a (method, knobs) pair, e.g.::

        near_dup_config_sweep(docs, {
            "winnow_w4": ("winnow", {"window": 4, "min_shared": 3}),
            "containment_08": ("containment", {"threshold": 0.8}),
        })

    Ground truth defaults to exact blocked word-`exact_k`-gram Jaccard
    >= `exact_threshold` (:func:`jaccard_pairs` — itself blocked, never
    all-pairs); pass `exact` to supply a different truth table. Returns
    one :func:`dedup_pair_quality` row per config, tagged `config`, so a
    parameter sweep is one call and one output table.

    Scale shape: the exact truth is computed ONCE; each config adds its
    own candidate join plus an output-sized quality join — the corpus is
    scanned once per config, never per pair. On heavily-duplicated
    corpora the UNCAPPED truth join dominates (a gram shared by m docs
    contributes m² candidates — measured: x16-replicated sf0.1 docs take
    222 s uncapped vs 27 s with the truth capped): set
    `exact_max_doc_freq` to bound it, accepting that pairs held together
    ONLY by ubiquitous grams fall out of the truth set.
    """
    if not configs:
        raise ValueError("near_dup_config_sweep: configs is empty")
    from .cache import persist_tracked

    # Shared gram scan: the default truth and any jaccard/containment
    # config consume the SAME exploded (id, xxhash64(shingle)) table for
    # a given k — compute it once per k and persist (re-persisting the
    # same handle inside _pair_overlap_table is a same-level no-op), so
    # a sweep scans the corpus once per DISTINCT gram width, not once
    # per pipeline.
    shared_sh: dict = {}
    # one persisted (id1, id2, common, n1, n2) overlap table per
    # (k, max_doc_freq): the truth and every jaccard/containment config
    # over the same gram width share ONE grouped pair expansion — the
    # sweep's dominant stage — instead of re-running it per measure;
    # each (k, cap) pre-filters its boilerplate from the cached gram
    # stream map-side (see _drop_frequent_grams) before grouping.
    shared_overlap: dict = {}

    def _gram_table(k: int) -> DataFrame:
        if k not in shared_sh:
            sh = (_shingle_table(df, id_col, text_col, k)
                  .select("__id", F.xxhash64("__shingle").alias("__g")))
            shared_sh[k] = persist_tracked(sh)
        return shared_sh[k]

    def _overlap(k: int, cap) -> DataFrame:
        if (k, cap) not in shared_overlap:
            shared_overlap[(k, cap)] = persist_tracked(
                _pair_overlap_table(_gram_table(k), cap))
        return shared_overlap[(k, cap)]

    if exact is None:
        exact = _finish_overlap_pairs(
            _overlap(exact_k, exact_max_doc_freq), exact_threshold,
            out_col="jaccard", digits=4)
    # the truth table feeds every config's quality join — persist once
    exact = persist_tracked(exact.select("id1", "id2").distinct())
    out = None
    for label, (method, knobs) in configs.items():
        if method in ("jaccard", "containment"):
            kn = dict(knobs)
            k = kn.pop("k", 3)
            thr = kn.pop("threshold", 0.7 if method == "jaccard" else 0.8)
            cap = kn.pop("max_doc_freq", None)
            if kn:
                raise ValueError(
                    f"unknown {method} knobs: {sorted(kn)}")
            score = "jaccard" if method == "jaccard" else "containment"
            raw = _finish_overlap_pairs(
                _overlap(k, cap), thr, out_col=score, digits=4,
                denom="union" if method == "jaccard" else "min")
            approx = raw.select("id1", "id2",
                                F.col(score).cast("double").alias("score"))
        else:
            approx = near_dup_pairs(df, method=method, id_col=id_col,
                                    text_col=text_col, **knobs)
        row = (dedup_pair_quality(approx, exact)
               .select(F.lit(label).alias("config"), "*"))
        out = row if out is None else out.unionByName(row)
    return out


def dedup_pair_quality(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Precision/recall/F1 of an approximate near-dup PAIR set against
    exact ground truth — the acceptance gate a MinHash / SimHash /
    winnowing configuration is tuned against (the dedup counterpart of
    similarity.retrieval_recall: recall = dup pairs the config keeps,
    precision = how much of what it flags is real).

    Both inputs are (id1, id2) pair tables (id1 < id2 convention; extra
    columns ignored; duplicates collapse). Returns ONE row:
    (n_approx, n_exact, n_hit, precision, recall, f1), ratios rounded to
    1e-6 and NULL on zero denominators (no flagged pairs / no true pairs).

    Scale shape: pair tables are output-sized (already far smaller than
    the corpus); the eval is ONE full-outer equi join + ONE 1-row
    aggregate — each input pipeline is consumed exactly once. (The
    previous three-aggregate + crossJoin form consumed each side twice
    — count + hit join — which re-ran the whole candidate/truth
    pipeline per consumer: Catalyst does not de-duplicate the repeated
    subtrees, r12 measured op_dedup_quality plans with 85 Exchange
    nodes and ~20 concurrent 1-2 s jobs for what is one join's worth
    of work.)
    """
    a = (approx.select("id1", "id2").distinct()
         .withColumn("__in_a", F.lit(1)))
    e = (exact.select("id1", "id2").distinct()
         .withColumn("__in_e", F.lit(1)))
    j = a.join(e, ["id1", "id2"], "full_outer")
    out = j.agg(
        F.count("__in_a").alias("n_approx"),
        F.count("__in_e").alias("n_exact"),
        F.count(F.when(F.col("__in_a").isNotNull()
                       & F.col("__in_e").isNotNull(), 1)).alias("n_hit"))
    prec = F.when(F.col("n_approx") > 0,
                  F.round(F.col("n_hit") / F.col("n_approx"), 6))
    rec = F.when(F.col("n_exact") > 0,
                 F.round(F.col("n_hit") / F.col("n_exact"), 6))
    f1 = F.when((F.col("n_approx") > 0) & (F.col("n_exact") > 0)
                & (F.col("n_approx") + F.col("n_exact") > 0),
                F.round(2.0 * F.col("n_hit")
                        / (F.col("n_approx") + F.col("n_exact")), 6))
    return out.select("n_approx", "n_exact", "n_hit",
                      prec.alias("precision"), rec.alias("recall"),
                      f1.alias("f1"))
