"""Table-valued functions in FROM (+ LATERAL variants).

Reference surface: copy_from, json_each, json_array_elements
(src/framequery/executor/_pandas.py:58-62, src/framequery/util/_funcs.py:117-167)
plus generate_series (defined but unregistered in the reference — we register
it, SURVEY §2.9) and unnest.

Like the reference, which evaluates a table function with one rule in FROM
or under LATERAL, every FROM-clause table function and JSON_TABLE compiles
through one entry, `compile_from_function(qc, left, rel)`; `left` is None
for a standalone call. The functions split in two families:

- relation family (standalone only): functions of literal arguments that
  return a whole relation. An all-integer-literal generate_series stays a
  distributed `spark.range`; then read_parquet/csv/json, copy_from, user
  `add_table_function` functions and the pipeline operators. `AS u(...)`
  renames their output columns.
- explode family: every other generate_series, unnest, json_each and
  json_array_elements (with their pg spellings), string_to_table,
  regexp_split_to_table, JSON_TABLE and user lateral functions. Each is one
  staged lateral explode over the left rows, or over a one-row frame when
  the call stands alone, so both forms share every naming, ordinality and
  typing rule. They compile to native `explode` plans instead of the
  reference's per-row iterrows loop (src/framequery/executor/_pandas.py:
  307-317 — the anti-pattern at scale).
"""

from __future__ import annotations

import uuid
from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..parser import ast
from ..compiler.expressions import CompileError
# canonical pg split and sequence semantics live in functions.registry, so
# the scalar and select-list forms can never diverge from the table functions
from ..functions.registry import pg_sequence_column, pg_split_column


def _literal_args(args) -> List[object]:
    out = []
    for a in args:
        if isinstance(a, ast.Literal):
            out.append(a.value)
        elif isinstance(a, ast.Unary) and a.op == "-" and isinstance(a.operand, ast.Literal):
            out.append(-a.operand.value)
        else:
            raise CompileError("table function arguments must be literals here "
                               "(use LATERAL for per-row invocation)")
    return out


# pg spells several explode-based functions in json/jsonb/text variants;
# values here are JSON text already, so they share one implementation
_TVF_ALIASES = {
    "jsonb_each": "json_each", "json_each_text": "json_each",
    "jsonb_each_text": "json_each",
    "jsonb_array_elements": "json_array_elements",
    "json_array_elements_text": "json_array_elements",
    "jsonb_array_elements_text": "json_array_elements",
}

# the explode family's built-ins: each numbers its input order, so each
# supports WITH ORDINALITY
_EXPLODE_FUNCTIONS = ("generate_series", "unnest", "json_each",
                      "json_array_elements", "string_to_table",
                      "regexp_split_to_table")

_FILE_FUNCTIONS = ("read_parquet", "read_csv", "read_json", "copy_from")


def compile_from_function(qc, left, rel) -> DataFrame:
    """Compile a FROM-clause table function or JSON_TABLE. `left` is the
    relation it applies to row by row (explicit or implicit LATERAL), None
    for a standalone call, which runs the same explode over a one-row
    frame."""
    if isinstance(rel, ast.JsonTable):
        name, alias, arg_nodes = "json_table", rel.alias or "json_table", \
            (rel.context,)
    else:
        name = _TVF_ALIASES.get(rel.name, rel.name)
        alias, arg_nodes = rel.alias or rel.name, rel.args
        if rel.ordinality and name not in _EXPLODE_FUNCTIONS:
            raise CompileError(
                "WITH ORDINALITY is supported for unnest / json_each / "
                "json_array_elements / string_to_table / "
                "regexp_split_to_table / generate_series (functions with a "
                "defined input order)")
        if left is None and _is_relation_function(qc, rel, name):
            return _relation_function(qc, rel, name)
        if name not in _EXPLODE_FUNCTIONS \
                and name not in qc.session.lateral_functions:
            raise CompileError(f"unknown table function: {name}")
    hidden = []
    if left is None:
        hidden.append("__one_" + uuid.uuid4().hex[:8])
        left = qc.session.spark.range(1).toDF(hidden[0])
    ec = qc._expr_compiler()
    args = [ec.compile(a) for a in arg_nodes]
    # scalar-subquery arguments attach to the base like any projection's;
    # their helper columns leave with the base's hidden ones
    base, helpers = qc._attach_pending(left, ec)
    hidden.extend(helpers)
    if name == "json_table":
        out = _json_table(base, rel, args[0], alias)
    elif name in _EXPLODE_FUNCTIONS:
        out = _explode_builtin(base, rel, name, args, alias)
    else:
        # user lateral functions run as Arrow-batched UDTFs on the
        # executors (never a driver-side loop)
        from .lateral_udtf import apply_lateral_udtf

        func, schema = qc.session.lateral_functions[name]
        out = apply_lateral_udtf(base, func, schema, args, alias)
    return out.drop(*hidden) if hidden else out


def _is_relation_function(qc, tf: ast.TableFunction, name: str) -> bool:
    """A standalone call that returns a whole relation. generate_series
    over integer literals stays a distributed spark.range: a one-row
    explode would build the whole series in one row on one task."""
    if name == "generate_series":
        return all(isinstance(a, ast.Literal) and a.kind == "int"
                   for a in tf.args)
    return name not in _EXPLODE_FUNCTIONS and (
        name in _FILE_FUNCTIONS or name in qc.session.table_functions
        or name in _OPERATOR_TFS)


def _relation_function(qc, tf: ast.TableFunction, name: str) -> DataFrame:
    if name == "generate_series":
        values = [a.value for a in tf.args]
        start, stop = values[0], values[1]
        step = values[2] if len(values) > 2 else 1
        # inclusive stop (pg semantics; reference util/_funcs.py:161-167)
        end = stop + (1 if step > 0 else -1)
        cname = _single_col_name(tf)
        df = qc.session.spark.range(start, end, step).toDF(cname)
        if tf.ordinality:
            # the ordinal is arithmetic on the value — stays distributed
            df = df.withColumn(
                "ordinality",
                ((F.col(cname) - start) / step + 1).cast("long"))
    else:
        args = _literal_args(tf.args)
        if name in _FILE_FUNCTIONS:
            # DuckDB-style file table functions, scans that stay fully
            # declarative (Catalyst pushdown/pruning applies):
            #   SELECT * FROM read_parquet('path'), read_csv('f.csv','delimiter',';')
            # and the reference's copy_from('<file>', 'delimiter', ';', ...)
            # (executor/_pandas.py:222-230)
            from .copy import read_csv

            options = dict(zip(args[1::2], args[2::2]))
            if name != "copy_from":
                options["format"] = name.split("_", 1)[1]
            df = read_csv(qc.session, args[0], options)
        elif name in qc.session.table_functions:
            df = qc.session._ensure_df(qc.session.table_functions[name](*args))
        else:
            df = _OPERATOR_TFS[name](qc, args)
    if tf.column_names:
        df = df.toDF(*_alias_names(tf, df.columns))
    return df.alias(tf.alias or tf.name)


def _alias_names(tf: ast.TableFunction, produced: List[str]) -> List[str]:
    """pg `AS u(x[, ...])`: the names rename the produced columns in order
    and the unnamed tail keeps its defaults; pg errors on more names than
    columns, and so does this."""
    names = list(tf.column_names)
    if len(names) > len(produced):
        raise CompileError(
            f"table function {tf.name} returns {len(produced)} columns, "
            f"alias names {len(names)}")
    return names + list(produced[len(names):])


# --------------------------------------------- pipeline operators in SQL
# SURVEY §7 milestone 6: every LLM-pipeline operator is exposed both as a
# DataFrame op (operators/) and as a table function in the SQL dialect.
# The first argument is the scope table's name (CTEs included); remaining
# literal arguments are the operator's tuning knobs.
#
#   SELECT * FROM minhash_pairs('documents', 0.7) WHERE jaccard > 0.9
#   SELECT lang, count(*) FROM text_stats('documents') GROUP BY lang


def _op_table(qc, table_name) -> "DataFrame":
    return qc.session.resolve_table(qc.scope, str(table_name))


def _register_operator_tfs() -> dict:
    from ..operators import dedup, packing, sampling, similarity, text

    def text_stats(qc, a):
        return text.text_stats(_op_table(qc, a[0]))

    def doc_chunks(qc, a):
        kw = {"size": int(a[1])} if len(a) > 1 else {}
        return text.doc_chunks(_op_table(qc, a[0]), **kw)

    def exact_dups(qc, a):
        return dedup.exact_dup_groups(_op_table(qc, a[0]),
                                      [str(k) for k in a[1:]])

    def minhash_pairs(qc, a):
        kw = {"threshold": float(a[1])} if len(a) > 1 else {}
        return dedup.minhash_lsh_pairs(_op_table(qc, a[0]),
                                       num_perm=32, bands=16, **kw)

    def simhash_pairs(qc, a):
        kw = {"max_hamming": int(a[1])} if len(a) > 1 else {}
        return dedup.simhash_near_pairs(_op_table(qc, a[0]), **kw)

    def jaccard_pairs(qc, a):
        kw = {"threshold": float(a[1])} if len(a) > 1 else {}
        return dedup.jaccard_pairs(_op_table(qc, a[0]), **kw)

    def levenshtein_pairs(qc, a):
        kw = {"max_distance": int(a[1])} if len(a) > 1 else {}
        return dedup.levenshtein_pairs(_op_table(qc, a[0]), **kw)

    def embedding_near_dups(qc, a):
        kw = {"threshold": float(a[1])} if len(a) > 1 else {}
        return dedup.embedding_near_dup_pairs(_op_table(qc, a[0]), **kw)

    def cosine_topk(qc, a):
        corpus = _op_table(qc, a[0])
        queries = _op_table(qc, a[1])
        k = int(a[2]) if len(a) > 2 else 5
        return similarity.cosine_topk(corpus, queries, k=k)

    def ivf_topk(qc, a):
        corpus = _op_table(qc, a[0])
        queries = _op_table(qc, a[1])
        k = int(a[2]) if len(a) > 2 else 5
        return similarity.ivf_topk(corpus, queries, k=k)

    def pq_topk(qc, a):
        from ..operators import pq
        corpus = _op_table(qc, a[0])
        queries = _op_table(qc, a[1])
        k = int(a[2]) if len(a) > 2 else 5
        return pq.pq_topk(corpus, queries, k=k)

    def hash_split(qc, a):
        # hash_split('orders', 'o_orderkey') -> rows + split column
        return sampling.hash_split(_op_table(qc, a[0]), str(a[1]))

    def sample_by_key(qc, a):
        return sampling.deterministic_sample(_op_table(qc, a[0]), str(a[1]),
                                             float(a[2]))

    def vocab_topk(qc, a):
        kw = {"n": int(a[1])} if len(a) > 1 else {}
        return text.vocab_topk(_op_table(qc, a[0]), **kw)

    def tf_idf(qc, a):
        return text.tf_idf(_op_table(qc, a[0]))

    def char_entropy(qc, a):
        return text.char_entropy(_op_table(qc, a[0]))

    def compression_ratio(qc, a):
        kw = {"level": int(a[1])} if len(a) > 1 else {}
        return text.compression_ratio(_op_table(qc, a[0]), **kw)

    def concat_chunks(qc, a):
        kw = {}
        if len(a) > 2:
            kw["block_size"] = int(a[2])
        return packing.concat_chunks(
            _op_table(qc, a[0]).selectExpr(
                "doc_id", f"CAST({a[1]} AS LONG) AS n_tokens"), **kw)

    def pack_bins(qc, a):
        # pack_bins('documents', token_col, budget[, shard_col])
        kw = {"shard_col": str(a[3])} if len(a) > 3 else {}
        return packing.pack_bins(_op_table(qc, a[0]), str(a[1]), int(a[2]),
                                 **kw)

    def shuffled(qc, a):
        return packing.deterministic_shuffle(_op_table(qc, a[0]), str(a[1]))

    def dup_clusters(qc, a):
        # dup_clusters('pairs_table'[, id1, id2]) -> (doc_id, cluster_id)
        from ..operators import graph
        kw = {}
        if len(a) > 1:
            kw["id1"] = str(a[1])
        if len(a) > 2:
            kw["id2"] = str(a[2])
        return graph.dup_clusters(_op_table(qc, a[0]), **kw)

    def minhash_clusters(qc, a):
        # minhash_clusters('documents'[, threshold])
        from ..operators import graph
        kw = {"threshold": float(a[1])} if len(a) > 1 else {}
        return graph.minhash_dup_clusters(_op_table(qc, a[0]), **kw)

    def quantize_embeddings(qc, a):
        # quantize_embeddings('embeddings'[, vec_col])
        from ..operators import quantize
        kw = {"vec_col": str(a[1])} if len(a) > 1 else {}
        return quantize.quantize_embeddings(_op_table(qc, a[0]), **kw)

    def dedup_against(qc, a):
        # dedup_against('new_docs', 'corpus'[, threshold])
        kw = {"threshold": float(a[2])} if len(a) > 2 else {}
        return dedup.dedup_against(_op_table(qc, a[0]), _op_table(qc, a[1]),
                                   **kw)

    def contaminated_docs(qc, a):
        # contaminated_docs('train', 'benchmark'[, n])
        from ..operators import contamination
        kw = {"n": int(a[2])} if len(a) > 2 else {}
        return contamination.contaminated_docs(
            _op_table(qc, a[0]), _op_table(qc, a[1]), **kw)

    def decontaminate(qc, a):
        # decontaminate('train', 'benchmark'[, n])
        from ..operators import contamination
        kw = {"n": int(a[2])} if len(a) > 2 else {}
        return contamination.decontaminate(
            _op_table(qc, a[0]), _op_table(qc, a[1]), **kw)

    def semantic_decontaminate(qc, a):
        # semantic_decontaminate('train_emb', 'bench_emb'[, threshold])
        from ..operators import contamination
        kw = {"threshold": float(a[2])} if len(a) > 2 else {}
        return contamination.semantic_decontaminate(
            _op_table(qc, a[0]), _op_table(qc, a[1]), **kw)

    def split_leakage(qc, a):
        # split_leakage('tagged_docs'[, n[, min_shared]]) over a table
        # that already has a 'split' column (e.g. FROM hash_split(...))
        from ..operators import contamination
        kw = {}
        if len(a) > 1:
            kw["n"] = int(a[1])
        if len(a) > 2:
            kw["min_shared"] = int(a[2])
        return contamination.split_leakage_ngrams(_op_table(qc, a[0]), **kw)

    def chunk_dedup(qc, a):
        # chunk_dedup('documents'[, size])
        kw = {"size": int(a[1])} if len(a) > 1 else {}
        return text.chunk_dedup(_op_table(qc, a[0]), **kw)

    def html_to_text(qc, a):
        # html_to_text('documents') -> rows + clean_text
        return text.html_to_text(_op_table(qc, a[0]))

    def gopher_filter(qc, a):
        # gopher_filter('documents'[, min_tokens]) -> rule verdicts + keep
        kw = {"min_tokens": int(a[1])} if len(a) > 1 else {}
        return text.gopher_quality_filter(_op_table(qc, a[0]), **kw)

    def unigram_nll(qc, a):
        # unigram_nll('documents') -> per-doc LM quality score
        return text.unigram_nll(_op_table(qc, a[0]))

    def gapfill(qc, a):
        # gapfill('events'[, bucket[, agg]]) -> dense grid + locf/interp
        from ..operators import asof
        kw = {}
        if len(a) > 1:
            kw["bucket"] = str(a[1])
        if len(a) > 2:
            kw["agg"] = str(a[2])
        return asof.time_bucket_gapfill(_op_table(qc, a[0]), **kw)

    def assign_shards(qc, a):
        # assign_shards('documents', 'doc_id', 8) -> rows + shard
        return packing.assign_shards(_op_table(qc, a[0]), str(a[1]),
                                     int(a[2]))

    def bm25_topk(qc, a):
        # bm25_topk('documents', 'queries'[, k]) — queries(query_id, query)
        from ..operators import retrieval
        k = int(a[2]) if len(a) > 2 else 10
        return retrieval.bm25_topk(_op_table(qc, a[0]),
                                   _op_table(qc, a[1]), k=k)

    def semdedup(qc, a):
        # semdedup('embeddings'[, threshold[, n_clusters]]) -> survivors
        kw = {}
        if len(a) > 1:
            kw["threshold"] = float(a[1])
        if len(a) > 2:
            kw["n_clusters"] = int(a[2])
        return similarity.semdedup(_op_table(qc, a[0]), **kw)

    def mixture_sample(qc, a):
        # mixture_sample('documents', 'source', 'doc_id',
        #                'src1', 0.5, 'src2', 0.25[, default_rate])
        # trailing source/rate pairs; an odd leftover literal = default_rate
        pairs = a[3:]
        rates = {str(pairs[i]): float(pairs[i + 1])
                 for i in range(0, len(pairs) - len(pairs) % 2, 2)}
        default = float(pairs[-1]) if len(pairs) % 2 else 0.0
        return sampling.mixture_sample(_op_table(qc, a[0]), str(a[1]),
                                       rates, key_col=str(a[2]),
                                       default_rate=default)

    def bigram_nll(qc, a):
        # bigram_nll('documents') -> (doc_id, n_bigrams, avg_nll, ppl)
        return text.bigram_lm_nll(_op_table(qc, a[0]))

    def ngram_novelty(qc, a):
        # ngram_novelty('documents'[, n]) -> per-doc first-seen gram stats
        kw = {"n": int(a[1])} if len(a) > 1 else {}
        return text.ngram_novelty(_op_table(qc, a[0]), **kw)

    def zipf_slope(qc, a):
        # zipf_slope('documents'[, group_col]) -> per-group Zipf fit
        kw = {"group_col": str(a[1])} if len(a) > 1 else {}
        return text.zipf_slope(_op_table(qc, a[0]), **kw)

    def source_overlap(qc, a):
        # source_overlap('documents'[, group_col]) -> pairwise vocab Jaccard
        kw = {"group_col": str(a[1])} if len(a) > 1 else {}
        return text.source_overlap(_op_table(qc, a[0]), **kw)

    def perplexity_buckets(qc, a):
        # perplexity_buckets('documents'[, n_buckets]) -> CCNet-style tiers
        kw = {"n_buckets": int(a[1])} if len(a) > 1 else {}
        return text.perplexity_buckets(_op_table(qc, a[0]), **kw)

    def dsir_select(qc, a):
        # dsir_select('raw_table', 'target_table', k[, n_buckets])
        # DSIR importance selection: top-k raw docs by hashed-ngram
        # log-likelihood ratio against the target table
        from ..operators import dsir

        kw = {"n_buckets": int(a[3])} if len(a) > 3 else {}
        return dsir.dsir_select(_op_table(qc, a[0]), _op_table(qc, a[1]),
                                k=int(a[2]), **kw)

    def dedup_keep_best(qc, a):
        # dedup_keep_best('docs_table', 'score_col'[, threshold])
        # fuzzy dedup keeping the highest-scored doc per near-dup cluster
        from ..operators import graph

        kw = {"threshold": float(a[2])} if len(a) > 2 else {}
        return graph.dedup_keep_best(_op_table(qc, a[0]), str(a[1]), **kw)

    def take_token_budget(qc, a):
        # take_token_budget('docs_table', 'score_col', 'token_col', budget)
        # greedy top-score selection until the global token budget is hit
        return packing.take_token_budget(
            _op_table(qc, a[0]), int(a[3]),
            score_col=str(a[1]), token_col=str(a[2]))

    def remove_repeated_spans(qc, a):
        # remove_repeated_spans('docs_table'[, k[, min_copies]])
        # Lee-et-al-style exact substring dedup: rewrite every document
        # with corpus-duplicated word k-gram spans cut out
        kw = {}
        if len(a) > 1:
            kw["k"] = int(a[1])
        if len(a) > 2:
            kw["min_copies"] = int(a[2])
        return dedup.remove_repeated_spans(_op_table(qc, a[0]), **kw)

    def quality_scores(qc, a):
        # quality_scores('docs_table', 'label_col'[, n_buckets[, iters]])
        # fastText-style hashed-ngram LR: train on the label column,
        # score every row (margin + prob)
        from ..operators import classifier

        kw = {}
        if len(a) > 2:
            kw["n_buckets"] = int(a[2])
        if len(a) > 3:
            kw["iters"] = int(a[3])
        return classifier.quality_classifier_scores(
            _op_table(qc, a[0]), str(a[1]), **kw)

    def ts_stat(qc, a):
        """pg ts_stat(sqlquery): run the inner query (its single column
        must be a tsvector), explode entries, aggregate per lexeme ->
        (word, ndoc, nentry). ndoc = documents containing the lexeme,
        nentry = total occurrences (position count; 1 for stripped
        entries, like pg). Scale shape: one explode + one groupBy with
        map-side combine — the aggregate state is vocabulary-sized, not
        corpus-sized (reference: pg has ts_stat as a statistics target;
        no reference-engine analog)."""
        from pyspark.sql import functions as F

        inner = qc.session.execute(str(a[0]))
        col = inner.columns[0]
        entries = inner.select(
            F.explode(F.col(f"`{col}`")).alias("__e"))
        return (entries.groupBy(F.col("__e")["lexeme"].alias("word"))
                .agg(F.count(F.lit(1)).cast("int").alias("ndoc"),
                     F.sum(F.greatest(
                         F.size(F.col("__e")["positions"]), F.lit(1)))
                     .cast("int").alias("nentry")))

    def alpha_mixture_weights(qc, a):
        kw = {}
        if len(a) > 1:
            kw["source_col"] = str(a[1])
        if len(a) > 2:
            kw["alpha"] = float(a[2])
        return sampling.alpha_mixture_weights(_op_table(qc, a[0]), **kw)

    def hard_negatives(qc, a):
        kw = {"k": int(a[2])} if len(a) > 2 else {}
        return similarity.hard_negatives(_op_table(qc, a[0]),
                                         _op_table(qc, a[1]), **kw)

    def funnel(qc, a):
        # funnel('events', 'view', 'click', 'purchase'[, within_seconds])
        # trailing NUMERIC literal = completion window in seconds from
        # stage 1 — discriminated by the literal's parsed type, so an
        # all-digits STRING stage name ('2024') stays a stage
        from ..operators import events

        args = list(a[1:])
        kw = {}
        if args and isinstance(args[-1], (int, float)) \
                and not isinstance(args[-1], bool):
            kw["within_seconds"] = int(args.pop())
        return events.funnel_counts(_op_table(qc, a[0]),
                                    [str(s) for s in args], **kw)

    def retention_cohorts(qc, a):
        # retention_cohorts('events'[, granularity]) -> cohort matrix
        from ..operators import events

        kw = {"granularity": str(a[1])} if len(a) > 1 else {}
        return events.retention_cohorts(_op_table(qc, a[0]), **kw)

    def event_transitions(qc, a):
        # event_transitions('events'[, top_k]) -> Markov transition matrix
        from ..operators import events

        kw = {"top_k": int(a[1])} if len(a) > 1 else {}
        return events.event_transitions(_op_table(qc, a[0]), **kw)

    def event_anomaly(qc, a):
        # event_anomaly('events'[, bucket[, z_threshold]])
        from ..operators import events

        kw = {}
        if len(a) > 1:
            kw["bucket"] = str(a[1])
        if len(a) > 2:
            kw["z_threshold"] = float(a[2])
        return events.event_rate_anomaly(_op_table(qc, a[0]), **kw)

    def trgm_pairs(qc, a):
        # trgm_pairs('documents'[, threshold[, max_doc_freq]]) — the
        # distributed `a % b` pg_trgm fuzzy self-join
        kw = {}
        if len(a) > 1:
            kw["threshold"] = float(a[1])
        if len(a) > 2:
            kw["max_doc_freq"] = int(a[2])
        return dedup.trgm_pairs(_op_table(qc, a[0]), **kw)

    def group_sample(qc, a):
        # group_sample('documents', 'source', 'doc_id', k) — deterministic
        # per-group k-sample by md5 order
        return sampling.group_sample_k(_op_table(qc, a[0]), str(a[1]),
                                       str(a[2]), int(a[3]))

    def weighted_sample(qc, a):
        # weighted_sample('documents', 'n_chars', 'doc_id', k[, group_col])
        # Efraimidis-Spirakis deterministic weighted sampling
        kw = {"group_col": str(a[4])} if len(a) > 4 else {}
        return sampling.weighted_sample_k(_op_table(qc, a[0]), str(a[1]),
                                          str(a[2]), int(a[3]), **kw)

    def source_divergence(qc, a):
        # source_divergence('documents'[, vocab_size]) -> per-source JS
        kw = {"vocab_size": int(a[1])} if len(a) > 1 else {}
        return text.source_divergence(_op_table(qc, a[0]), **kw)

    def stratified_split(qc, a):
        # stratified_split('documents', 'lang', 'source', ..., 'doc_id')
        # — strata columns then the key column (last arg); exact-quota
        # 0.8/0.1/0.1 split per stratum
        return sampling.stratified_split(_op_table(qc, a[0]),
                                         [str(c) for c in a[1:-1]],
                                         str(a[-1]))

    def rfm_segments(qc, a):
        # rfm_segments('events') -> per-user RFM scores + segment
        from ..operators import events

        return events.rfm_segments(_op_table(qc, a[0]))

    def ks_drift(qc, a):
        # ks_drift('events', 'event_type', 'purchase', 'click'[, value_col])
        from ..operators import events

        kw = {"value_col": str(a[4])} if len(a) > 4 else {}
        return events.ks_drift(_op_table(qc, a[0]), str(a[1]), str(a[2]),
                               str(a[3]), **kw)

    def changepoint(qc, a):
        # changepoint('events'[, granularity[, top_k]])
        from ..operators import events

        kw = {}
        if len(a) > 1:
            kw["granularity"] = str(a[1])
        if len(a) > 2:
            kw["top_k"] = int(a[2])
        return events.changepoint_mean_shift(_op_table(qc, a[0]), **kw)

    def pmi_bigrams(qc, a):
        # pmi_bigrams('documents'[, min_count[, top_k]])
        kw = {}
        if len(a) > 1:
            kw["min_count"] = int(a[1])
        if len(a) > 2:
            kw["top_k"] = int(a[2])
        return text.pmi_bigrams(_op_table(qc, a[0]), **kw)

    def textrank_keywords(qc, a):
        # textrank_keywords('documents'[, top_k[, iterations]])
        from ..operators import graph

        kw = {}
        if len(a) > 1:
            kw["top_k"] = int(a[1])
        if len(a) > 2:
            kw["iterations"] = int(a[2])
        return graph.textrank_keywords(_op_table(qc, a[0]), **kw)

    def profile_numeric(qc, a):
        # profile_numeric('lineitem', 'l_quantity', ...) -> per-col stats
        from ..operators import profile

        return profile.profile_numeric(_op_table(qc, a[0]),
                                       [str(c) for c in a[1:]])

    def oov_rate(qc, a):
        # oov_rate('documents'[, vocab_size]) -> per-doc OOV fraction
        kw = {"vocab_size": int(a[1])} if len(a) > 1 else {}
        return text.oov_rate(_op_table(qc, a[0]), **kw)

    def auc_score(qc, a):
        # auc_score('scored_table', 'label_col', 'score_col')
        from ..operators import classifier

        return classifier.auc_score(_op_table(qc, a[0]), str(a[1]),
                                    str(a[2]))

    def confusion_stats(qc, a):
        # confusion_stats('scored', 'label', 'score'[, threshold])
        from ..operators import classifier

        kw = {"threshold": float(a[3])} if len(a) > 3 else {}
        return classifier.confusion_stats(_op_table(qc, a[0]), str(a[1]),
                                          str(a[2]), **kw)

    def calibration_bins(qc, a):
        # calibration_bins('scored', 'label', 'score'[, bins])
        from ..operators import classifier

        kw = {"bins": int(a[3])} if len(a) > 3 else {}
        return classifier.calibration_bins(_op_table(qc, a[0]), str(a[1]),
                                           str(a[2]), **kw)

    def snapshot_diff(qc, a):
        # snapshot_diff('old_table', 'new_table'[, id_col[, text_col]])
        from ..operators import profile

        kw = {}
        if len(a) > 2:
            kw["id_col"] = str(a[2])
        if len(a) > 3:
            kw["text_col"] = str(a[3])
        return profile.snapshot_diff(_op_table(qc, a[0]),
                                     _op_table(qc, a[1]), **kw)

    def retrieval_recall(qc, a):
        # retrieval_recall('approx_results', 'exact_results', k)
        return similarity.retrieval_recall(_op_table(qc, a[0]),
                                           _op_table(qc, a[1]), int(a[2]))

    def dedup_pair_quality(qc, a):
        # dedup_pair_quality('approx_pairs', 'exact_pairs')
        return dedup.dedup_pair_quality(_op_table(qc, a[0]),
                                        _op_table(qc, a[1]))

    def kmeans_fit(qc, a):
        # kmeans_fit('embeddings'[, n_clusters[, iters[, seed]]])
        kw = {}
        if len(a) > 2:
            kw["iters"] = int(a[2])
        if len(a) > 3:
            kw["seed"] = int(a[3])
        n = int(a[1]) if len(a) > 1 else 8
        return similarity.kmeans_fit(_op_table(qc, a[0]), n, **kw)

    def winnow_pairs(qc, a):
        # winnow_pairs('documents'[, k[, window[, min_shared[, cap]]]])
        kw = {}
        if len(a) > 1:
            kw["k"] = int(a[1])
        if len(a) > 2:
            kw["window"] = int(a[2])
        if len(a) > 3:
            kw["min_shared"] = int(a[3])
        if len(a) > 4:
            kw["max_doc_freq"] = int(a[4])
        return dedup.winnow_pairs(_op_table(qc, a[0]), **kw)

    def containment_pairs(qc, a):
        # containment_pairs('documents'[, threshold[, k[, cap]]])
        kw = {}
        if len(a) > 1:
            kw["threshold"] = float(a[1])
        if len(a) > 2:
            kw["k"] = int(a[2])
        if len(a) > 3:
            kw["max_doc_freq"] = int(a[3])
        return dedup.containment_pairs(_op_table(qc, a[0]), **kw)

    def rrf_fuse(qc, a):
        # rrf_fuse('ranking1', 'ranking2'[, ...][, k[, topk]]) — trailing
        # numeric literals are knobs; every leading string is a ranking
        from ..operators import retrieval
        tables = [x for x in a if isinstance(x, str)]
        nums = [x for x in a if not isinstance(x, str)]
        kw = {}
        if len(nums) > 0:
            kw["k"] = int(nums[0])
        if len(nums) > 1:
            kw["topk"] = int(nums[1])
        return retrieval.rrf_fuse([_op_table(qc, t) for t in tables], **kw)

    def ndcg_at_k(qc, a):
        # ndcg_at_k('results', 'qrels', k)
        from ..operators import retrieval
        return retrieval.ndcg_at_k(_op_table(qc, a[0]),
                                   _op_table(qc, a[1]), int(a[2]))

    def mmr_rerank(qc, a):
        # mmr_rerank('embeddings', 'queries'[, k[, pool[, lambda]]])
        kw = {}
        if len(a) > 2:
            kw["k"] = int(a[2])
        if len(a) > 3:
            kw["pool"] = int(a[3])
        if len(a) > 4:
            kw["mmr_lambda"] = float(a[4])
        return similarity.mmr_rerank(_op_table(qc, a[0]),
                                     _op_table(qc, a[1]), **kw)

    def audio_chunks(qc, a):
        from ..operators import multimodal

        kw = {}
        if len(a) > 1:
            kw["sample_rate"] = int(a[1])
        if len(a) > 2:
            kw["sample_width"] = int(a[2])
        if len(a) > 3:
            kw["chunk_seconds"] = float(a[3])
        return multimodal.audio_chunks(
            multimodal.attach_blob(_op_table(qc, a[0])), **kw)

    return {f.__name__: f for f in (
        stratified_split, rfm_segments, ks_drift, changepoint,
        pmi_bigrams, textrank_keywords, profile_numeric, oov_rate,
        mmr_rerank, auc_score, confusion_stats, calibration_bins,
        snapshot_diff, retrieval_recall, rrf_fuse, ndcg_at_k,
        winnow_pairs, containment_pairs, kmeans_fit, dedup_pair_quality,
        event_transitions,
        ts_stat, alpha_mixture_weights, hard_negatives, audio_chunks,
        funnel, retention_cohorts, trgm_pairs, group_sample,
        source_divergence, weighted_sample, event_anomaly,
        concat_chunks, char_entropy, compression_ratio,
        text_stats, doc_chunks, exact_dups, minhash_pairs, simhash_pairs,
        jaccard_pairs, levenshtein_pairs, embedding_near_dups, cosine_topk,
        ivf_topk, pq_topk, hash_split, sample_by_key, vocab_topk, tf_idf,
        pack_bins, shuffled, dup_clusters, minhash_clusters, dedup_against,
        quantize_embeddings, contaminated_docs, decontaminate, split_leakage,
        chunk_dedup, html_to_text, gopher_filter, unigram_nll,
        semantic_decontaminate,
        assign_shards, gapfill, bm25_topk, semdedup, mixture_sample,
        dsir_select, bigram_nll, ngram_novelty, zipf_slope, source_overlap,
        perplexity_buckets, quality_scores, dedup_keep_best,
        remove_repeated_spans, take_token_budget)}


_OPERATOR_TFS = _register_operator_tfs()


def _jt_cast(c, type_name: str):
    """JSON_TABLE column cast: json text -> the declared SQL type (the
    type ladder lives in _jt_spark_type so NESTED-path NULL placeholders
    can never diverge from the real columns; json/jsonb keep the text)."""
    t = type_name.lower()
    if t in ("json", "jsonb"):
        return c
    return c.cast(_jt_spark_type(t))


def _jt_spark_type(tname: str) -> str:
    """Spark DDL type string for a declared JSON_TABLE column type (the
    NULL-placeholder twin of _jt_cast)."""
    from ..compiler.expressions import CAST_MAP

    t = tname.lower()
    if t in ("json", "jsonb"):
        return "string"
    base = t.split("(")[0]
    if t in CAST_MAP:
        return CAST_MAP[t]
    if base in ("decimal", "numeric"):
        inner = t[t.index("("):] if "(" in t else "(38,18)"
        return "decimal" + inner
    if base in CAST_MAP:
        return CAST_MAP[base]
    raise CompileError(f"JSON_TABLE: unsupported column type {tname!r}")


def _jt_fields(columns) -> list:
    """Ordered (name, spark_type) of the whole COLUMNS subtree."""
    out = []
    for entry in columns:
        cname, second, third = entry
        if cname is None:
            out.extend(_jt_fields(third))
        elif second is None:  # FOR ORDINALITY
            out.append((cname, "long"))
        else:
            out.append((cname, _jt_spark_type(second)))
    return out


def _jt_elem_array(el, path: str):
    """array<string> of JSON-text elements at `path` under element text
    `el` ([*] iterates; a plain path yields a 0/1-element array).
    NULL-coalesced so missing members contribute zero child rows."""
    if path.endswith("[*]"):
        base = path[:-3]
        arr_text = el if base in ("$", "") else F.get_json_object(el, base)
        arr = F.from_json(arr_text, "array<string>")
    else:
        e = el if path == "$" else F.get_json_object(el, path)
        arr = F.when(e.isNotNull(), F.array(e))
    return F.coalesce(arr, F.array().cast("array<string>"))


def _jt_rows(el, pos, columns):
    """array<struct> of fully-flattened output rows for ONE row-path
    element (pg 17 default plan semantics: parent-child is OUTER — an
    empty nested array still yields one parent row with NULL child
    columns; sibling NESTED paths are UNION — each sibling's rows carry
    NULLs for the other siblings' columns). Pure array HOFs; the whole
    JSON_TABLE stays one Generate."""
    plain = {}
    nested = []
    for entry in columns:
        cname, second, third = entry
        if cname is None:
            nested.append((second, third))
        elif second is None:
            plain[cname] = (pos + 1).cast("long")
        else:
            path = third if third is not None else f"$.{cname}"
            raw = el if path == "$" else F.get_json_object(el, path)
            plain[cname] = _jt_cast(raw, second)

    def full_struct(owner: int, r):
        out = []
        for i, entry in enumerate(columns):
            cname, second, third = entry
            if cname is not None:
                out.append(plain[cname].alias(cname))
                continue
            for name, styp in _jt_fields(third):
                val = r[name] if (r is not None and i == owner) \
                    else F.lit(None).cast(styp)
                out.append(val.alias(name))
        return F.struct(*out)

    if not nested:
        return F.array(full_struct(-1, None))

    # factories, not default-arg lambdas: pyspark derives the HOF lambda
    # arity from the Python signature, so extra closure params would be
    # fed index Columns
    def child_rows(npath, subcols):
        return F.flatten(F.transform(
            _jt_elem_array(el, npath),
            lambda cel, ci: _jt_rows(cel, ci, subcols)))

    def sibling_part(i, npath, subcols):
        return F.transform(child_rows(npath, subcols),
                           lambda r: full_struct(i, r))

    parts = []
    for i, entry in enumerate(columns):
        if entry[0] is not None:
            continue
        parts.append(sibling_part(i, entry[1], entry[2]))
    allr = parts[0] if len(parts) == 1 else F.concat(*parts)
    return F.when(F.size(allr) > 0, allr) \
        .otherwise(F.array(full_struct(-1, None)))


def _json_table(base: DataFrame, jt: ast.JsonTable, ctx,
                alias: str) -> DataFrame:
    """pg 17 JSON_TABLE: one row per element of the row-path array (or one
    row for a non-array path), columns extracted per element and cast to
    their declared types.

    The row source is from_json(..., array<string>) of the row-path array,
    each element staying JSON text; per-column extraction is
    get_json_object on the element. FOR ORDINALITY columns ride
    posexplode's position. NESTED PATH expands recursively IN-ROW via
    _jt_rows (still one Generate): OUTER parent-child, UNION siblings —
    pg's default plan."""
    arr = _jt_elem_array(ctx.cast("string"), jt.path)
    names = [n for n, _ in _jt_fields(jt.columns)]
    if len(set(n.lower() for n in names)) != len(names):
        raise CompileError(
            "JSON_TABLE column names must be unique across the whole "
            "COLUMNS tree (including NESTED paths)")
    el = F.col("col")
    if any(e[0] is None for e in jt.columns):
        arr = F.flatten(F.transform(
            arr, lambda row_el, pi: _jt_rows(row_el, pi, jt.columns)))
        cols = [el[n].alias(n) for n in names]
    else:
        cols = []
        for cname, tname, cpath in jt.columns:
            if tname is None:  # FOR ORDINALITY
                cols.append((F.col("pos") + 1).cast("long").alias(cname))
                continue
            path = cpath if cpath is not None else f"$.{cname}"
            raw = el if path == "$" else F.get_json_object(el, path)
            cols.append(_jt_cast(raw, tname).alias(cname))
    return _lateral_explode(base, arr, alias, cols, ordinality=True)


_DATETIME_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)
_INTERVAL_TYPES = (T.DayTimeIntervalType, T.YearMonthIntervalType,
                   T.CalendarIntervalType)


def _series_array(base: DataFrame, start, stop, step=None):
    """generate_series as one array, pg's empty-set semantics included.
    pg has no date form: a date/timestamp series promotes to timestamp and
    needs an INTERVAL step. The argument types come from a schema-only
    probe over the base (analysis, no job)."""
    types = [f.dataType for f in base.select(
        start, *([] if step is None else [step])).schema]
    if isinstance(types[0], _DATETIME_TYPES):
        if step is None or not isinstance(types[1], _INTERVAL_TYPES):
            raise CompileError(
                "generate_series over dates needs an INTERVAL step")
        start, stop = start.cast("timestamp"), stop.cast("timestamp")
    return pg_sequence_column(start, stop, step)


def _explode_builtin(base: DataFrame, tf: ast.TableFunction, name: str,
                     args, alias: str) -> DataFrame:
    """An explode-family built-in: the array it explodes over `base`, the
    value columns of one element, and their pg names."""
    el = F.col("col")
    to_array = None
    if name == "json_each":
        arr = args[0].cast("string")
        to_array = lambda ref: F.map_entries(
            F.from_json(ref, "map<string,string>"))
        values, defaults = [el["key"], el["value"]], ["key", "value"]
    elif name == "unnest" and len(args) > 1:
        # pg multi-array unnest: zip to the longest length (arrays_zip
        # NULL-pads) and explode once
        arr = F.arrays_zip(*[a.alias(f"z{i}") for i, a in enumerate(args)])
        values = [el[f"z{i}"] for i in range(len(args))]
        defaults = [f"unnest_{i + 1}" for i in range(len(args))]
    else:
        if name == "generate_series":
            arr = _series_array(base, *args)
        elif name == "string_to_table":
            arr = pg_split_column(args[0], args[1])
        elif name == "regexp_split_to_table":
            arr = F.split(args[0], args[1])
        elif name == "json_array_elements":
            arr = args[0].cast("string")
            to_array = lambda ref: F.from_json(ref, "array<string>")
        else:  # unnest: a native array
            arr = args[0]
        values, defaults = [el], [_single_col_name(tf)]
    if tf.ordinality:
        # posexplode's pos + 1 — exact pg semantics, since the ordinal
        # numbers the INPUT order, which an explode preserves row-locally
        values.append(F.col("pos") + 1)
        defaults.append("ordinality")
    cols = [c.alias(n) for c, n in zip(values, _alias_names(tf, defaults))]
    return _lateral_explode(base, arr, alias, cols, tf.ordinality, to_array)


def _lateral_explode(base: DataFrame, arr, alias: str, cols,
                     ordinality: bool = False, to_array=None) -> DataFrame:
    """The one staged lateral explode. `arr`, any expression over `base`,
    is staged as a hidden column first, because `.outer()` marks a single
    attribute; the right side (pos)explodes it, through `to_array` when
    the staged value is JSON text, and projects `cols`, which read the
    generator's `col` (element) and `pos` (0-based position).

    The right side is an aliased relation, and the `AS u(x, ...)` names are
    applied inside it, so the produced columns resolve both bare (`key`)
    and alias-qualified (`b.key`), matching the reference's `alias/@/col`
    prefixing of lateral children (executor/_pandas.py:292-319).
    Physically this stays a Generate over the base rows, no join
    shuffle."""
    spark = base.sparkSession
    tmp = "__lat_" + uuid.uuid4().hex[:8]
    ref = F.col(tmp).outer()
    gen = spark.tvf.posexplode if ordinality else spark.tvf.explode
    right = gen(to_array(ref) if to_array else ref).select(*cols)
    return base.withColumn(tmp, arr).lateralJoin(right.alias(alias)) \
        .drop(tmp)


def _single_col_name(tf: ast.TableFunction) -> str:
    """pg naming rule for a single-column table function's value column:
    an alias renames the COLUMN (`unnest(a) AS u` -> column u, selectable
    bare), unless WITH ORDINALITY makes the result two-column and the
    alias stays a table alias. Otherwise generate_series and
    regexp_split_to_table name it after the function, as pg does; the
    others keep the repo default "value". `AS u(x)` renames it after."""
    if tf.alias and not tf.ordinality:
        return tf.alias
    if tf.name in ("generate_series", "regexp_split_to_table"):
        return tf.name
    return "value"
