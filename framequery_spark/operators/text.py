"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions over built-in JVM functions —
no Python UDFs (one documented exception: compression_ratio wraps stdlib
zlib in an Arrow-batched pandas_udf, the sanctioned slow path) — so they
whole-stage-codegen and scale linearly with partitions. Designed for a `documents(doc_id, text, lang, source, n_chars)`
shaped table but parameterized by column.

Beyond-reference surface (BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting.
"""

from __future__ import annotations

from typing import Dict, List

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small per-language stopword seed lists for the n-gram/stopword heuristic
LANG_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + ["a", "in", "it", "on", "for"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (BPE-ish regex splitting is regex-swappable)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer pieces (Radford et al. 2019 / tiktoken), minus
# the trailing-whitespace lookahead (RE2 — the DuckDB oracle's engine — has
# no lookahead; dropping it only changes how runs of trailing spaces group,
# deterministically in both engines): contraction suffixes, optionally
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Pre-tokenizer piece count under the GPT-2 split regex — the standard
    fast proxy for BPE token counts in data-pipeline budgeting (actual BPE
    merges only split pieces further, never across pieces). One JVM
    regexp_count pass, row-local."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_PATTERN))


def char_count(text: Column) -> Column:
    return F.length(text)


def word_occurrences(text: Column, word: str) -> Column:
    """Count whole-word occurrences via length-delta (portable to any SQL
    oracle: no regexp_count needed)."""
    stripped = F.regexp_replace(text, rf"\b{word}\b", "")
    return (F.length(text) - F.length(stripped)) / len(word)


def punct_count(text: Column) -> Column:
    return F.length(text) - F.length(
        F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))


def stopword_count(text: Column, stopwords: List[str] = None) -> Column:
    sw = stopwords or STOPWORDS_EN
    c = F.lit(0.0)
    for w in sw:
        c = c + word_occurrences(text, w)
    return c.cast("double")


def stopword_count_fused(text: Column, stopwords: List[str] = None) -> Column:
    """Same value as stopword_count, one regex pass: whole-word alternation
    counted with regexp_count. \\b-delimited alternatives are disjoint (a
    token matches at most one stopword), so the single-pass count equals the
    per-word sum — at ~1/len(stopwords) the scan cost, and regexp_count
    avoids regexp_replace's rewritten-string allocation entirely."""
    sw = stopwords or STOPWORDS_EN
    pat = r"\b(" + "|".join(sw) + r")\b"
    return F.regexp_count(text, F.lit(pat)).cast("double")


def stopword_ratio(text: Column, stopwords: List[str] = None) -> Column:
    # fused single-pass count: value-identical to the per-word sum (the
    # \b-delimited alternatives are disjoint) at ~1/len(stopwords) the
    # scan cost — the per-word form paid len(stopwords) regexp_replace
    # passes per row (r12: quality_score was the whole cost of the
    # auc/calibration/confusion evals)
    return stopword_count_fused(text, stopwords) / token_count(text)


def avg_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def _quality_from(n_tok: Column, sw_ratio: Column, n_punct: Column,
                  n_chars: Column) -> Column:
    len_score = F.when(n_tok.between(10, 10000), F.lit(1.0)).otherwise(
        F.when(n_tok < 10, n_tok.cast("double") / 10.0).otherwise(F.lit(0.5)))
    sw_score = F.least(sw_ratio * 5.0, F.lit(1.0))
    p_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    return F.round(0.5 * len_score + 0.3 * sw_score + 0.2 * (1.0 - p_ratio), 6)


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + stopword presence − punct
    noise. Mirrors the shape of public quality filters (C4-style)."""
    return _quality_from(token_count(text), stopword_ratio(text),
                         punct_count(text), char_count(text))


def _argmax_lang(scores: Dict[str, Column]) -> Column:
    """Argmax over per-language score columns; 'und' if all 0. First-listed
    language wins ties (deterministic)."""
    langs = list(scores)
    expr = None
    for i, lang in enumerate(langs):
        cond = scores[lang] > 0
        for j, other in enumerate(langs):
            if j < i:
                cond = cond & (scores[lang] > scores[other])
            elif j > i:
                cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def content_fingerprint(text: Column) -> Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase
    text. (The rolling-hash shingle fingerprint lives in dedup.simhash64 /
    dedup.minhash_signatures.)"""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(normalized)


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """One row per document with the standard text-analysis columns.

    Two-stage projection: the regex-heavy counts (one fused alternation
    regexp_count per language) are staged as columns first, then ratios /
    quality / argmax-language are cheap scalar expressions over them.
    Inlining everything into one select repeats each regex in every
    when-branch (conditional branches defeat subexpression elimination) —
    ~4x the regex work per row."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        char_count(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        bpe_token_count(t).alias("n_bpe_tokens"),
        punct_count(t).alias("n_punct"),
        stopword_count_fused(t).alias("__sw"),
        avg_token_length(t).alias("__avg_tok"),
        content_fingerprint(t).alias("fingerprint"),
        *[stopword_count_fused(t, words).alias(f"__s_{lang}")
          for lang, words in LANG_STOPWORDS.items()],
    )
    sw_ratio = F.col("__sw") / F.col("n_tokens")
    return staged.select(
        F.col(id_col),
        "n_chars", "n_tokens", "n_bpe_tokens", "n_punct",
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(F.col("__avg_tok"), 6).alias("avg_token_len"),
        _quality_from(F.col("n_tokens"), sw_ratio, F.col("n_punct"),
                      F.col("n_chars")).alias("quality"),
        _argmax_lang({lang: F.col(f"__s_{lang}")
                      for lang in LANG_STOPWORDS}).alias("lang_guess"),
        "fingerprint",
    )


def doc_chunks(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               size: int = 512, overlap: int = 64) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the standard pre-tokenization step of a training-data pipeline.

    Chunk i covers [i*stride, i*stride + size) with stride = size - overlap;
    the last chunk starts at the final stride boundary < len(text). Empty
    and NULL texts produce no chunks. Fully row-local (sequence + transform
    + posexplode, all JVM-side): no shuffle, scales linearly and keeps
    whole-stage codegen intact. Beyond-reference operator (chmp/framequery
    has no text processing; cf. /root/reference/docs/SQL_Support.md).
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    stride = size - overlap
    t = F.col(text_col)
    n = F.length(t)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.substring(t, s + 1, size))
    exploded = (df.filter(n > 0)
                .select(F.col(id_col),
                        F.posexplode(chunks).alias("chunk_id", "chunk")))
    return exploded.withColumn("chunk_len", F.length("chunk"))


# entity map kept to the handful that dominate web text; applied after tag
# removal so the replacements stay a short chained-regexp pipeline
_HTML_ENTITIES = (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                  ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"))


def strip_html(text: Column) -> Column:
    """Boilerplate removal for web-crawl text: drop script/style blocks
    (with their contents), strip remaining tags, decode the common
    entities, collapse whitespace. Chained JVM regexp_replace — row-local,
    zero UDF, zero shuffle; the patterns avoid lookarounds so the same
    chain runs verbatim on RE2 engines (the DuckDB oracle)."""
    # two patterns, not one with a </\1> backreference: RE2 (the oracle's
    # engine) has no backreferences
    out = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text(df: DataFrame, text_col: str = "text",
                 out_col: str = "clean_text") -> DataFrame:
    """Apply :func:`strip_html` as a column — the ingest-time cleanup step
    of a crawl pipeline."""
    return df.withColumn(out_col, strip_html(F.col(text_col)))


def chunk_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", size: int = 512,
                overlap: int = 0) -> DataFrame:
    """Passage-level exact dedup (RefinedWeb/C4-style): chunk every document
    with :func:`doc_chunks`, then keep ONE canonical copy of each distinct
    chunk content — the lexicographically smallest (doc, chunk_id) — with
    its corpus-wide copy count.

    Returns (id_col, chunk_id, n_copies), one row per distinct content.

    Scale shape: the only shuffle is a groupBy on ``md5(chunk)`` — a
    fixed-width 32-byte key regardless of chunk size, uniform by
    construction, with map-side partial aggregation (min + count). The
    chunk text itself never shuffles and nothing is all-pairs; 100 TB of
    text reduces to |distinct chunks| keys.
    """
    chunks = doc_chunks(df, text_col, id_col, size=size, overlap=overlap)
    keyed = chunks.select(
        F.md5(F.col("chunk")).alias("ck"),
        F.struct(F.col(id_col), F.col("chunk_id")).alias("pos"),
    )
    return (keyed.groupBy("ck")
            .agg(F.min("pos").alias("keeper"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select(F.col(f"keeper.{id_col}").alias(id_col),
                    F.col("keeper.chunk_id").alias("chunk_id"),
                    "n_copies"))


def term_table(df: DataFrame, text_col: str = "text",
               id_col: str | None = "doc_id") -> DataFrame:
    """Explode documents into one row per (doc, token): lowercase,
    whitespace-split, empties dropped. Row-local explode — no shuffle;
    downstream groupBys partial-aggregate map-side."""
    term = F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    cols = [F.col(id_col), term] if id_col else [term]
    return df.select(*cols).filter(F.col("term") != "")


def vocab_topk(df: DataFrame, text_col: str = "text", n: int = 100) -> DataFrame:
    """Corpus vocabulary: top-n tokens by frequency (term asc tiebreak so
    the cut is deterministic). groupBy(term) partial-aggregates map-side;
    the top-n runs as TakeOrderedAndProject — no global sort."""
    counts = (term_table(df, text_col, id_col=None)
              .groupBy("term").agg(F.count(F.lit(1)).alias("term_count")))
    return counts.orderBy(F.desc("term_count"), F.asc("term")).limit(n)


def pmi_bigrams(df: DataFrame, text_col: str = "text",
                min_count: int = 5, top_k: int = 100) -> DataFrame:
    """Collocation extraction: top-k adjacent-token bigrams by pointwise
    mutual information, PMI(x,y) = ln( p(x,y) / (p(x)p(y)) ) — the
    standard corpus-linguistics signal for multi-word expressions
    ("new york"), and the phrase-merging criterion of word2vec's phrase
    pass (Mikolov et al. 2013). ``min_count`` drops the classic PMI
    failure mode (hapax pairs score highest).

    Plan shape: bigram and unigram counts are both map-side-combining
    groupBys bounded by vocabulary (pair-vocabulary) size, never row
    count; corpus totals are broadcast 1-row aggregates; the two
    count joins are equi joins on the token; top-k runs as
    TakeOrderedAndProject (no global sort). Ties order by the ROUNDED
    pmi then (w1, w2), so the cut is deterministic and engine-portable.

    Returns (w1, w2, c_xy, c_x, c_y, pmi), pmi rounded to 1e-6.
    """
    if min_count < 1:
        raise ValueError("pmi_bigrams: min_count must be >= 1")
    from .dedup import _spread, gram_extract

    df = _spread(df)
    # bigram strings via the codegen'd regex extractor (r12 — replaces
    # the interpreted struct-pair HOF); tokens contain no spaces, so
    # splitting the 2-token gram on its single space is exact
    g = F.explode(gram_extract(F.lower(F.col(text_col)), 2)).alias("g")
    bg = df.select(g).select(
        F.substring_index("g", " ", 1).alias("w1"),
        F.substring_index("g", " ", -1).alias("w2"))
    # totals come from the BOUNDED count tables, not a second pass over
    # the exploded stream — re-aggregating bg for n_big would re-run the
    # corpus explode inside the same lazy plan
    big_all = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    big = big_all.filter(F.col("c_xy") >= int(min_count))
    uni = (term_table(df, text_col, id_col=None)
           .groupBy("term").agg(F.count(F.lit(1)).alias("c")))
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    n_big = big_all.agg(F.sum("c_xy").alias("n_big"))
    joined = (big
              .join(uni.select(F.col("term").alias("w1"),
                               F.col("c").alias("c_x")), "w1")
              .join(uni.select(F.col("term").alias("w2"),
                               F.col("c").alias("c_y")), "w2")
              .crossJoin(F.broadcast(n_uni))
              .crossJoin(F.broadcast(n_big)))
    pmi = F.round(F.log(
        (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_big").cast("double") * F.col("c_x") * F.col("c_y"))), 6)
    return (joined.select("w1", "w2", "c_xy", "c_x", "c_y",
                          pmi.alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2").limit(int(top_k)))


def tf_idf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
           min_df: int = 1) -> DataFrame:
    """Per-(doc, term) TF-IDF: tf = in-doc term count, idf = ln(N / df_t)
    with N = corpus size, df_t = #docs containing the term.

    Plan shape: one explode (narrow) → tf groupBy (shuffle on (doc, term))
    → df_t groupBy (map-side combine over tf, shuffle on term) → tf ⋈ df_t
    on term. N comes from a 1-row aggregate cross-joined in (broadcast —
    no driver round-trip, stays one lazy plan)."""
    from .cache import persist_tracked

    terms = term_table(df, text_col, id_col)
    # tf feeds two consumers (df_t aggregate + the scoring join); persist
    # it (tracked) so the tokenize+explode and the (doc, term) aggregate
    # run once — Catalyst does not dedupe the repeated subtree
    tf = persist_tracked(
        terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dft = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
           .filter(F.col("df_t") >= min_df))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    out = (tf.join(dft, "term")
           .crossJoin(F.broadcast(n_docs)))
    return out.select(
        id_col, "term", "tf", "df_t",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6)
        .alias("tfidf"))


def unigram_nll(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """CCNet-style LM quality score with a corpus-trained unigram model:
    per-document average negative log-likelihood (and perplexity) of the
    document's tokens under the corpus' own MLE unigram distribution.
    High avg_nll = rare-token-heavy text (gibberish, boilerplate hashes,
    wrong-language fragments) — the cheap stand-in for the KenLM
    perplexity filter, with the same filtering semantics.

    Plan shape: one vocab groupBy (map-side combine, shuffle ≈ vocab size),
    corpus total as a broadcast 1-row aggregate (no driver round-trip),
    one equi join token-stream ⋈ vocab, one per-doc groupBy. Every token's
    nll is cast to DECIMAL(28,12) BEFORE the per-doc sum, so the sum is
    exact and order-independent — bit-identical across engines and
    partition layouts (a double sum would drift with aggregation order).
    """
    terms = term_table(df, text_col, id_col)
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("term_n"))
    # corpus total = sum of the per-term counts: derived from the vocab
    # aggregate rather than a third tokenize pass over the corpus (the
    # identical vocab subtree lets ReuseExchange share one shuffle, so
    # the corpus is scanned twice — stream + vocab — not three times;
    # sum(term_n) == count of all token rows exactly)
    total = vocab.agg(F.sum("term_n").alias("corpus_n"))
    nll = (terms.join(vocab, "term")
           .crossJoin(F.broadcast(total))
           .select(F.col(id_col),
                   (-F.log(F.col("term_n") / F.col("corpus_n")))
                   .cast("decimal(28,12)").alias("nll")))
    n_tok = F.count(F.lit(1))
    avg_nll = F.round(F.sum("nll").cast("double") / n_tok, 6)
    return (nll.groupBy(id_col)
            .agg(n_tok.alias("n_tokens"),
                 avg_nll.alias("avg_nll"),
                 F.round(F.exp(F.sum("nll").cast("double") / n_tok), 4)
                 .alias("ppl")))


def bigram_lm_nll(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", lam: float = 0.8,
                  broadcast_vocab_max: int = 2_000_000,
                  salt: int = 16,
                  vocab_broadcast: bool | None = None) -> DataFrame:
    """Interpolated-bigram LM quality score (the next rung above
    :func:`unigram_nll` toward CCNet's KenLM filter):

        P(w | prev) = lam * c(prev,w)/c(prev,.) + (1-lam) * c(w)/N

    trained on the corpus itself (MLE counts), scored per document as the
    average negative log-likelihood over its bigrams, plus perplexity.
    Catches locally-incoherent text (shuffled words, keyword stuffing)
    that unigram frequency cannot.

    Plan shape: the bigram-count table is built with one groupBy over the
    corpus bigram stream and joined back on the (prev, w) key — a
    hash-partitioned equi join that scales with corpus size (it is NOT
    broadcast; observed-bigram count grows with the corpus). The context
    and unigram tables are VOCAB-bounded aggregates whose join keys
    (`prev`, `w`) are Zipfian — a plain shuffle join sends every "the"/"of"
    bigram to one reducer, the classic hot-key straggler at corpus scale —
    so they broadcast when the vocabulary is at most `broadcast_vocab_max`
    terms (counted from the persisted aggregate; ~2M terms is tens of MB)
    and fall back to :func:`~framequery_spark.operators.skew.salted_join`
    with `salt` buckets above it. The corpus total is a broadcast 1-row
    aggregate. Per-bigram nll is quantized to DECIMAL(28,12) before the
    per-doc sum — exact, order-independent, engine-reproducible (same
    discipline as unigram_nll)."""
    from .cache import persist_tracked
    from .dedup import _spread, gram_extract

    df = _spread(df)
    # the bigram stream feeds three consumers (pair counts, context counts,
    # the scoring join) — tracked persist so tokenization runs once.
    # bigram strings via the codegen'd regex extractor (r12 — replaces
    # the interpreted struct-pair HOF); tokens contain no spaces, so
    # splitting the gram on its single space is exact
    g = F.explode(gram_extract(F.lower(F.col(text_col)), 2)).alias("g")
    stream = persist_tracked(
        df.select(F.col(id_col), g)
        .select(id_col, F.substring_index("g", " ", 1).alias("prev"),
                F.substring_index("g", " ", -1).alias("w")))
    big = stream.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c_pw"))
    ctx = persist_tracked(
        stream.groupBy("prev").agg(F.count(F.lit(1)).alias("c_p")))
    terms = persist_tracked(term_table(df, text_col, id_col))
    uni = persist_tracked(
        terms.groupBy("term").agg(F.count(F.lit(1)).alias("c_w"))
        .withColumnRenamed("term", "w"))
    # corpus total from the (persisted, vocab-sized) unigram counts —
    # sum(c_w) == count of all token rows exactly; aggregating the tiny
    # vocab beats re-scanning the cached token stream
    total = uni.agg(F.sum("c_w").alias("corpus_n"))
    p = (F.lit(lam) * F.col("c_pw") / F.col("c_p")
         + F.lit(1.0 - lam) * F.col("c_w") / F.col("corpus_n"))
    scored = stream.join(big, ["prev", "w"])
    # broadcast-vs-salted decision: the probe is an eager extra job that
    # costs ~35% of the whole entry at test scale (r12 phase profile:
    # 0.7-1.0 s of a 2 s run) though it amortizes to noise at corpus
    # scale. Callers that know their vocab bound pass vocab_broadcast
    # explicitly and skip it; the default probes once, LIMIT-capped so
    # the count never pays more than the aggregate itself.
    if vocab_broadcast is None:
        vocab_broadcast = (uni.limit(broadcast_vocab_max + 1).count()
                           <= broadcast_vocab_max)
    if vocab_broadcast:
        scored = (scored.join(F.broadcast(ctx), "prev")
                  .join(F.broadcast(uni), "w"))
    else:
        from .skew import salted_join

        scored = salted_join(scored, ctx, ["prev"], salt=salt)
        scored = salted_join(scored, uni, ["w"], salt=salt)
    nll = (scored
           .crossJoin(F.broadcast(total))
           .select(F.col(id_col),
                   (-F.log(p)).cast("decimal(28,12)").alias("nll")))
    n_bg = F.count(F.lit(1))
    return (nll.groupBy(id_col)
            .agg(n_bg.alias("n_bigrams"),
                 F.round(F.sum("nll").cast("double") / n_bg, 6)
                 .alias("avg_nll"),
                 F.round(F.exp(F.sum("nll").cast("double") / n_bg), 4)
                 .alias("ppl")))


def ngram_counts(df: DataFrame, text_col: str = "text", n: int = 2,
                 k: int = 100) -> DataFrame:
    """Top-k word n-grams by corpus frequency (n-gram asc tiebreak).

    Gram construction is dedup.gram_extract's single codegen'd
    regexp_extract_all pass (value-identical to the old let-bound HOF
    `_grams` chain, ~7× faster — r12); the only shuffle is the count
    groupBy (map-side partial agg), and the top-k is
    TakeOrderedAndProject."""
    from ..functions import _let
    from .dedup import _grams, gram_extract

    gram = (gram_extract(F.lower(F.col(text_col)), n) if n >= 2
            else _let(tokens(F.lower(F.col(text_col))),
                      lambda ws: _grams(ws, n)))
    return (df.select(F.explode(gram).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("ngram_count"))
            .orderBy(F.desc("ngram_count"), F.asc("ngram")).limit(k))


# ------------------------------------------------------------ PII scrubbing

# Conservative, fixed-shape patterns valid in both Java regex (Spark JVM)
# and RE2 (DuckDB oracle) so the scrub is engine-exact. Order matters:
# email before phone so the phone pattern cannot eat digits of an address.
PII_PATTERNS: Dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          min_tokens: int = 50, max_tokens: int = 100000,
                          min_avg_token_len: float = 3.0,
                          max_avg_token_len: float = 10.0,
                          max_dup_token_ratio: float = 0.3,
                          max_top_token_ratio: float = 0.2,
                          min_stopword_ratio: float = 0.0) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021, adapted):
    per-document rule flags plus the final keep decision, ALL computed in
    one row-local codegen'd select — zero shuffle, zero Python, scales as
    the scan. Thresholds are explicit parameters; every rule's verdict is
    emitted so a pipeline can audit WHY documents dropped.

      ok_length:        min_tokens <= n_tokens <= max_tokens
      ok_avg_token_len: mean token length within [min, max]
      ok_dup_tokens:    1 - distinct/total tokens <= max_dup_token_ratio
      ok_top_token:     most-frequent-token share <= max_top_token_ratio
      ok_stopwords:     stopword share >= min_stopword_ratio
      keep:             AND of all flags
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    avg_len = (F.length(F.regexp_replace(F.trim(t), r"\s+", ""))
               / n_tok).cast("double")
    # stage the token array ONCE: the flags reference it five times, and
    # without the binding projection each reference re-runs the regex
    # split per row (HOF/collection expressions are CodegenFallback, so
    # no common-subexpression elimination reaches them). Catalyst keeps
    # the staging: CollapseProject refuses to inline a non-cheap alias
    # referenced more than once. Measured (sf0.1 noop, 7 reps): 0.73 s
    # median -> 0.57 s with far fewer multi-second GC/JIT stall reps.
    staged = df.select(
        F.col(id_col), t.alias("__t"),
        tokens(F.lower(F.trim(t))).alias("__lt"))
    # second stage: reduce the array to the three scalars the flags need
    # (size, distinct size, max equal run) so the wide flag projection
    # carries ints, not arrays
    lt = F.col("__lt")
    staged = staged.select(
        F.col(id_col), F.col("__t"),
        F.size(lt).alias("__n"),
        F.size(F.array_distinct(lt)).alias("__nd"),
        _max_equal_run(lt).alias("__mr"))
    t = F.col("__t")
    n_tok = token_count(t)
    avg_len = (F.length(F.regexp_replace(F.trim(t), r"\s+", ""))
               / n_tok).cast("double")
    n_lt = F.col("__n")
    dup_tok = F.when(
        n_lt > 0,
        1.0 - F.col("__nd") / n_lt
    ).otherwise(0.0)
    top_tok = F.when(n_lt > 0,
                     F.col("__mr") / n_lt
                     ).otherwise(0.0)
    sw_ratio = stopword_count_fused(t) / n_tok
    ok_length = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    ok_avg = (avg_len >= min_avg_token_len) & (avg_len <= max_avg_token_len)
    ok_dup = dup_tok <= max_dup_token_ratio
    ok_top = top_tok <= max_top_token_ratio
    ok_sw = sw_ratio >= min_stopword_ratio
    return staged.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        ok_length.alias("ok_length"),
        ok_avg.alias("ok_avg_token_len"),
        ok_dup.alias("ok_dup_tokens"),
        ok_top.alias("ok_top_token"),
        ok_sw.alias("ok_stopwords"),
        (ok_length & ok_avg & ok_dup & ok_top & ok_sw).alias("keep"))


def scrub_pii(text: Column, kinds: List[str] = None) -> Column:
    """Replace PII spans with `<kind>` placeholders. Pure chained JVM
    regexp_replace — codegen'd, zero shuffle, linear scan per row."""
    out = text
    for kind in kinds or list(PII_PATTERNS):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind}>")
    return out


def pii_scrub(df: DataFrame, text_col: str = "text",
              out_col: str = "clean_text",
              kinds: List[str] = None) -> DataFrame:
    """Dataset-level PII scrub: adds `out_col` plus a `pii_found` flag
    (whether anything was redacted) for downstream filtering/metrics."""
    clean = scrub_pii(F.col(text_col), kinds)
    return (df.withColumn(out_col, clean)
            .withColumn("pii_found", F.col(text_col) != F.col(out_col)))


# ----------------------------------------------------- repetition / quality

def _max_equal_run(toks: Column) -> Column:
    """Longest equal run over the sorted tokens == max token frequency —
    row-local HOF fold, no per-row map state."""
    return F.aggregate(
        F.sort_array(toks),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document, all row-local JVM
    expressions (one codegen stage, zero shuffle):

      - dup_line_ratio:  1 - distinct_lines / lines
      - dup_token_ratio: 1 - distinct_tokens / tokens
      - top_token_ratio: occurrences of the most frequent token / tokens

    High values flag boilerplate/spam for quality filtering. top_token_ratio
    uses a sorted-token trick (aggregate over the sorted array counting the
    longest equal run) so no per-row map state is needed."""
    # bind the token/line arrays once, then reduce them to scalars before
    # the ratio projection — same staging rationale as
    # gopher_quality_filter (CodegenFallback collection expressions get no
    # CSE; the unstaged form re-split text per reference)
    staged = df.select(
        F.col(id_col),
        tokens(F.lower(F.col(text_col))).alias("__tk"),
        F.filter(F.split(F.col(text_col), "\n"),
                 lambda x: F.length(F.trim(x)) > 0).alias("__ln"))
    tk, ln = F.col("__tk"), F.col("__ln")
    staged = staged.select(
        F.col(id_col),
        F.size(tk).alias("__n_tok"),
        F.size(F.array_distinct(tk)).alias("__nd_tok"),
        _max_equal_run(tk).alias("__mr"),
        F.size(ln).alias("__n_ln"),
        F.size(F.array_distinct(ln)).alias("__nd_ln"))
    n_tok = F.col("__n_tok")
    n_lines = F.col("__n_ln")
    dup_line = F.when(n_lines > 0,
                      1.0 - F.col("__nd_ln") / n_lines
                      ).otherwise(0.0)
    dup_tok = F.when(n_tok > 0,
                     1.0 - F.col("__nd_tok") / n_tok
                     ).otherwise(0.0)
    top_tok = F.when(n_tok > 0, F.col("__mr") / n_tok).otherwise(0.0)
    return staged.select(
        F.col(id_col),
        F.round(dup_line, 4).alias("dup_line_ratio"),
        F.round(dup_tok, 4).alias("dup_token_ratio"),
        F.round(top_tok, 4).alias("top_token_ratio"))


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the
    information-theoretic quality signal that flags binary junk,
    base64/hex blobs, and single-character floods, complementing the
    token-level gopher rules: natural English sits near 4-4.5 bits,
    degenerate text collapses toward 0, encoded blobs push toward
    log2(alphabet).

    Pure row-local JVM HOFs, zero shuffle: characters sort, run starts
    locate each distinct character's count (the to_tsvector run-length
    construction), and -sum(p*log2 p) folds over the runs. Each term is
    quantized to DECIMAL(28,12) before the fold so the sum is exact and
    order-independent — bit-identical to a SQL oracle whose per-group
    summation order is unspecified. Empty/NULL text yields entropy 0.
    Returns (id_col, n_chars_counted, entropy)."""
    from ..functions import _let

    def build(srt: Column) -> Column:
        n = F.size(srt)
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
               .otherwise(F.array().cast("array<int>"))
        start_idx = F.filter(
            idx, lambda i: (i == 0)
            | (F.get(srt, i) != F.get(srt, i - 1)))

        def fold(starts: Column) -> Column:
            counts = F.transform(
                starts,
                lambda st, j: (F.coalesce(F.get(starts, j + 1), n) - st)
                .cast("double"))
            nd = n.cast("double")
            # decimal + decimal widens to DECIMAL(29,12); the fold's
            # merge must return the accumulator type exactly, so cast
            # the sum back down each step (values are bounded by
            # log2(n) <= 64 bits — far inside 16 integer digits)
            h = F.aggregate(
                counts,
                F.lit(0).cast("decimal(28,12)"),
                lambda acc, c: (acc + F.round(
                    -(c / nd) * F.log2(c / nd), 12)
                    .cast("decimal(28,12)")).cast("decimal(28,12)"))
            return F.struct(n.alias("n"), h.alias("h"))

        return _let(start_idx, fold)

    chars = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
        lambda c: c != "")
    res = _let(F.array_sort(chars), build)
    return (df.withColumn("__e", res)
            .select(F.col(id_col),
                    F.col("__e")["n"].alias("n_chars_counted"),
                    F.round(F.coalesce(F.col("__e")["h"].cast("double"),
                                       F.lit(0.0)) + F.lit(0.0000001), 6)
                     .alias("entropy")))


# ------------------------------------------------- corpus-level diagnostics

def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty against the whole corpus — the
    dedup-adjacent diagnostic for template/boilerplate floods: of a
    document's distinct word n-grams, how many FIRST appear in this
    document (first = smallest id over all documents containing the gram),
    and the novelty ratio. Low novelty = the document is mostly assembled
    from n-grams other (earlier) documents already carry.

    Plan shape: row-local gram explode → distinct (gram, id) pairs (one
    shuffle) → min(id) per gram (map-side combine, shuffle on gram) →
    pairs ⋈ firsts on gram (hash equi join; fan-out per gram = #docs
    containing it, never all-pairs) → per-doc groupBy. Documents with no
    n-gram (< n tokens) are absent from the result."""
    from ..functions import _let
    from .dedup import _grams, gram_extract

    if n >= 2:
        # codegen'd regex gram pass (dedup.gram_extract) — the empty-token
        # filter below only ever mattered for empty documents, which the
        # regex path already yields [] for
        gram = gram_extract(F.lower(F.col(text_col)), n)
    else:
        toks = F.filter(tokens(F.lower(F.col(text_col))), lambda t: t != "")
        gram = _let(toks, lambda ws: _grams(ws, n))
    pairs = (df.select(F.col(id_col), F.explode(gram).alias("ngram"))
             .distinct())
    firsts = pairs.groupBy("ngram").agg(F.min(id_col).alias("first_id"))
    return (pairs.join(firsts, "ngram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum((F.col("first_id") == F.col(id_col)).cast("long"))
                 .alias("n_novel"))
            .select(id_col, "n_grams", "n_novel",
                    F.round(F.col("n_novel") / F.col("n_grams"), 6)
                    .alias("novelty")))


def zipf_slope(df: DataFrame, text_col: str = "text",
               group_col: str = "source") -> DataFrame:
    """Zipf's-law fit per group: the least-squares slope of ln(freq) on
    ln(rank) over the group's term-frequency distribution (rank 1 = most
    frequent; ties broken by term so the ranking is total). Natural text
    sits near -1; strong deviation flags synthetic/templated sources.

    The slope is computed from DECIMAL(28,12)-quantized sums (n, Σx, Σy,
    Σxy, Σxx), so the aggregation is exact and order-independent —
    bit-identical across engines and partition layouts — then finished in
    double precision. Plan shape: explode → per-(group, term) count
    (map-side combine) → per-group rank window (one shuffle on group) →
    per-group aggregate. Scales with vocabulary size, not corpus size."""
    from pyspark.sql import Window

    counts = (df.select(F.col(group_col),
                        F.explode(tokens(F.lower(F.col(text_col))))
                        .alias("term"))
              .filter(F.col("term") != "")
              .groupBy(group_col, "term")
              .agg(F.count(F.lit(1)).alias("freq")))
    w = Window.partitionBy(group_col).orderBy(F.desc("freq"), F.asc("term"))
    x = F.log(F.row_number().over(w).cast("double"))
    y = F.log(F.col("freq").cast("double"))
    dec = "decimal(28,12)"
    ranked = counts.select(F.col(group_col), x.cast(dec).alias("x"),
                           y.cast(dec).alias("y"),
                           (x * y).cast(dec).alias("xy"),
                           (x * x).cast(dec).alias("xx"))
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum("xy").cast("double")
    sxx = F.sum("xx").cast("double")
    return (ranked.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                 .alias("zipf_slope")))


def source_overlap(df: DataFrame, text_col: str = "text",
                   group_col: str = "source") -> DataFrame:
    """Pairwise vocabulary Jaccard between groups (sources/languages/
    shards): |V_a ∩ V_b| / |V_a ∪ V_b| over distinct lowercase tokens.
    The mixture-design diagnostic: near-duplicate sources show up as
    high-overlap pairs before any document-level dedup runs.

    Plan shape: distinct (group, term) vocab (one shuffle) → self equi
    join on term with g1 < g2 → per-pair count → broadcast join of the
    group-bounded size table. Per-term join fan-out is at most
    (#groups choose 2) — bounded by the group count squared, NOT by corpus
    size — so the join never goes quadratic in documents."""
    vocab = (df.select(F.col(group_col).alias("g"),
                       F.explode(tokens(F.lower(F.col(text_col))))
                       .alias("term"))
             .filter(F.col("term") != "").distinct())
    from .cache import persist_tracked

    vocab = persist_tracked(vocab)
    sizes = vocab.groupBy("g").agg(F.count(F.lit(1)).alias("v"))
    a = vocab.select(F.col("g").alias("g1"), "term")
    b = vocab.select(F.col("g").alias("g2"), "term")
    inter = (a.join(b, "term").filter(F.col("g1") < F.col("g2"))
             .groupBy("g1", "g2").agg(F.count(F.lit(1)).alias("n_common")))
    out = (inter
           .join(F.broadcast(sizes.select(F.col("g").alias("g1"),
                                          F.col("v").alias("v1"))), "g1")
           .join(F.broadcast(sizes.select(F.col("g").alias("g2"),
                                          F.col("v").alias("v2"))), "g2")
           .select("g1", "g2", "n_common", "v1", "v2",
                   F.round(F.col("n_common")
                           / (F.col("v1") + F.col("v2") - F.col("n_common")),
                           6).alias("jaccard")))
    return out


def source_divergence(df: DataFrame, text_col: str = "text",
                      group_col: str = "source",
                      vocab_size: int = 1000) -> DataFrame:
    """Jensen–Shannon divergence of each group's unigram distribution from
    the corpus distribution, over the corpus's top-`vocab_size` tokens —
    the mixture-design companion of :func:`source_overlap`: overlap sees
    shared vocabulary, JS sees how differently it is *used*. An outlier
    source (templated, synthetic, off-domain) shows a high JS before any
    quality filter runs.

    Both distributions are renormalized over the shared vocab, so JS is in
    [0, ln 2] and comparable across groups. Per-token contributions are
    computed in double then DECIMAL(28,12)-quantized before summing
    (the zipf_slope trick), so the aggregate is order-independent and
    engine-reproducible.

    Plan shape: explode → (group, term) counts (map-side combine) →
    term totals (vocab-bounded) → top-N via orderBy+limit
    (TakeOrderedAndProject: per-partition top-N, merged — no global
    sort) → broadcast vocab grid joined against the group counts →
    per-group exact sum. Every stage is corpus-vocab-bounded or
    group-bounded; nothing scales with document count after the first
    aggregation."""
    counts = (df.select(F.col(group_col).alias("g"),
                        F.explode(tokens(F.lower(F.col(text_col))))
                        .alias("term"))
              .filter(F.col("term") != "")
              .groupBy("g", "term")
              .agg(F.count(F.lit(1)).alias("freq")))
    from .cache import persist_tracked

    counts = persist_tracked(counts)
    vocab = (counts.groupBy("term").agg(F.sum("freq").alias("cf"))
             .orderBy(F.desc("cf"), F.asc("term"))
             .limit(vocab_size))
    corpus_total = vocab.agg(F.sum("cf").alias("__ct"))
    vocab = F.broadcast(vocab.crossJoin(F.broadcast(corpus_total)))

    totals = (counts.join(vocab.select("term"), "term")
              .groupBy("g").agg(F.sum("freq").alias("__gt")))
    grid = totals.crossJoin(vocab)
    cells = grid.join(counts, ["g", "term"], "left") \
                .withColumn("freq", F.coalesce(F.col("freq"), F.lit(0)))

    p = F.col("freq").cast("double") / F.col("__gt").cast("double")
    q = F.col("cf").cast("double") / F.col("__ct").cast("double")
    m = (p + q) / F.lit(2.0)
    term_js = (F.when(F.col("freq") > 0, p * F.log(p / m) / F.lit(2.0))
               .otherwise(F.lit(0.0))
               + q * F.log(q / m) / F.lit(2.0))
    dec = "decimal(28,12)"
    return (cells.select("g", F.col("__gt"),
                         term_js.cast(dec).alias("__js"))
            .groupBy("g")
            .agg(F.first("__gt").alias("n_tokens"),
                 F.round(F.sum("__js").cast("double"), 6).alias("js"))
            .select(F.col("g").alias(group_col), "n_tokens", "js"))


def perplexity_buckets(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", lang_col: str = "lang",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus-trained unigram LM (:func:`unigram_nll`) and
    split each language into `n_buckets` quality tiers by ntile over
    ascending perplexity (bucket 1 = most fluent = CCNet's "head").
    The ntile ordering is made total with an id tiebreak, so bucket
    assignment is deterministic and engine-reproducible.

    Plan shape: unigram_nll's bounded-aggregate pipeline, one equi join
    back to (id, lang), one per-language window (shuffle keyed on the
    language — bounded cardinality, but each language partition only
    sorts its own documents)."""
    from pyspark.sql import Window

    scored = unigram_nll(df, text_col, id_col)
    joined = df.select(F.col(id_col), F.col(lang_col)).join(scored, id_col)
    w = Window.partitionBy(lang_col).orderBy(F.asc("avg_nll"), F.asc(id_col))
    return joined.select(
        id_col, lang_col, "n_tokens", "avg_nll", "ppl",
        F.ntile(n_buckets).over(w).alias("bucket"))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio (compressed/raw bytes) — the
    redundancy-based quality heuristic of Gopher/FineWeb-style filters:
    boilerplate floods and repeated spans compress far below natural
    text (~0.3-0.6), encoded/random blobs sit near 1.0.

    This is the sanctioned Arrow slow path: zlib is stdlib Python, so
    the ratio comes from a pandas_udf (built fresh per call — reused
    wrappers break UDF extraction on later queries; measured, see
    functions/snowball.py) over utf-8 bytes. Row-local, no shuffle;
    NULL/empty text yields ratio 1.0 (nothing to compress). Prefer
    :func:`char_entropy` (pure JVM) when an information-theoretic
    signal suffices; the zlib ratio additionally catches LONG-RANGE
    repetition entropy misses. Returns
    (id_col, n_bytes, n_compressed, ratio)."""
    def measure(col: pd.Series) -> pd.DataFrame:
        import zlib

        ns, cs = [], []
        for t in col:
            if t is None or t == "":
                ns.append(0)
                cs.append(0)
            else:
                raw = t.encode("utf-8")
                ns.append(len(raw))
                cs.append(len(zlib.compress(raw, level)))
        return pd.DataFrame({"n": ns, "c": cs})

    udf = F.pandas_udf(measure, "struct<n:long,c:long>")
    out = df.select(F.col(id_col), udf(F.col(text_col)).alias("__z"))
    n = F.col("__z")["n"]
    c = F.col("__z")["c"]
    return out.select(
        id_col, n.alias("n_bytes"), c.alias("n_compressed"),
        F.round(F.when(n > 0, c.cast("double") / n)
                 .otherwise(F.lit(1.0)), 6).alias("ratio"))


def oov_rate(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             vocab: DataFrame | None = None,
             vocab_size: int = 1000) -> DataFrame:
    """Per-document out-of-vocabulary rate against a tokenizer/corpus
    vocabulary — the coverage check run before committing to a tokenizer
    or mixing in a new source (high OOV = wrong language, encoding
    damage, or domain mismatch).

    ``vocab`` is any one-column ('term') DataFrame (a real tokenizer
    vocab at production scale); by default the corpus' own top
    ``vocab_size`` tokens (:func:`vocab_topk` — deterministic count/term
    ordering, so the cut restates exactly). Returns (id, n_tokens,
    n_oov, oov_rate) for every input document; empty/NULL text scores
    0 tokens and oov_rate NULL.

    Plan shape: one explode + one LEFT equi join against the vocab
    (bounded — broadcast) + one per-doc groupBy; the default vocab adds
    one map-side-combining term count. Nothing beyond vocab size ever
    broadcasts.
    """
    if vocab is None:
        vocab = vocab_topk(df, text_col, vocab_size).select("term")
    terms = term_table(df, text_col, id_col)
    hit = terms.join(F.broadcast(vocab.withColumn("__in", F.lit(1))),
                     "term", "left")
    per_doc = (hit.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                    .alias("n_oov")))
    out = df.select(id_col).join(per_doc, id_col, "left")
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0))
    n_oov = F.coalesce(F.col("n_oov"), F.lit(0))
    return out.select(
        id_col, n_tok.alias("n_tokens"), n_oov.alias("n_oov"),
        F.when(n_tok > 0, F.round(n_oov.cast("double") / n_tok, 6))
        .alias("oov_rate"))
