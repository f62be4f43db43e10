"""PostgreSQL full-text search subset: tsvector / tsquery / ``@@``.

Beyond-reference pg surface (the reference engine has no FTS). A tsvector
is an ``array<struct<lexeme:string, positions:array<int>, weight:string>>``
sorted by lexeme — pg's canonical form (distinct lexemes, ordered position
lists). Everything is pure JVM Column expressions (split + array HOFs);
tsquery parsing happens at COMPILE time (query texts are literals in the
overwhelming majority of pg usage), so matching is a plain boolean
expression tree over the vector — no UDFs, row-local, codegen-friendly.

Supported:
- ``to_tsvector([config,] text)`` — configs ``simple`` (lowercase
  alphanumeric word parser) and ``english`` (same parser + stopword
  removal + Snowball/Porter2 stemming, positions still count stopwords,
  like pg). The stemmer is a pure-JVM Porter2 Column-expression cascade
  (functions/snowball.py:stem_expr, differential-tested against the
  reference Python implementation); query-side terms stem driver-side
  via the Python twin. Stopword terms inside a tsquery collapse the way
  pg drops them ('the & fat' -> 'fat', 'fat <-> the <-> cat' ->
  'fat <2> cat').
- ``plainto_tsquery`` (AND of lexemes), ``phraseto_tsquery`` (<-> chain),
  ``to_tsquery`` (full syntax: ``& | ! ( ) <-> <N>``; ``:*`` prefix match),
  ``websearch_to_tsquery`` (web syntax: quoted phrases, OR, -negation;
  never raises).
- ``tsv @@ tsq`` with phrase-distance semantics over position lists.
- ``setweight(tsv, 'A')``, ``tsv || tsv`` (lexeme-merging concat),
  ``strip(tsv)``, ``length``, ``tsvector_to_array`` / ``array_to_tsvector``,
  ``ts_delete``, ``ts_filter``, ``numnode``, ``querytree``.
- ``ts_headline`` (StartSel/StopSel/MaxWords/MinWords/HighlightAll +
  MaxFragments/FragmentDelimiter fragment mode; first-cover window with
  left extension and anchor-at-match fragments — documented
  approximations of pg's best-cover search; no ShortWord heuristic) and
  the ``ts_stat(sqlquery)`` table function
  (sources/table_functions.py: explode + vocab-sized groupBy).
- ``ts_rank([weights,] tsv, tsq)`` — follows pg tsrank.c calc_rank:
  OR/single-term queries rank by per-entry harmonic position frequency
  (calc_rank_or, w*sum 1/j^2 / (pi^2/6) per matched ENTRY, divided by
  the UNIQUE value-operand count per SortAndUniqItems; values match
  pg's published outputs,
  e.g. single D-weight term at one position = 0.0607927); AND/phrase
  roots with >= 2 terms rank by pairwise positional proximity
  (calc_rank_and, res = 1 - prod(1-curw),
  curw = sqrt(w_i*w_k*word_distance(dist))). The ONE documented
  uncertainty: word_distance's decay constants are reconstructed from
  memory of the public pg source and unverifiable offline, so AND-path
  VALUES may deviate from pg while proximity orderings agree. Exact
  lexical scoring lives in operators/retrieval.py (BM25).
- ``ts_rank_cd([weights,] tsv, tsq [, normalization])`` — pg's
  cover-density ranking (tsrank.c calc_rank_cd + Cover): minimal
  covers enumerated in one row-local F.aggregate pass, each adding
  |cover| / sum(1/w) / (1 + noise-words); stripped lexemes ignored
  (rank 0 when nothing has positions), normalization 0 and 32
  supported. Values like single-D-term = 0.1 and adjacent 'a & b' =
  0.1 follow the published algorithm exactly (no decay constants
  involved, unlike ts_rank's AND path).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _let

TSVECTOR_DDL = ("array<struct<lexeme:string,positions:array<int>,"
                "weight:string>>")

# pg's english stopword list (ts core subset — the high-frequency closed
# class; kept deliberately small and documented)
ENGLISH_STOPWORDS = frozenset("""
i me my myself we our ours ourselves you your yours yourself yourselves
he him his himself she her hers herself it its itself they them their
theirs themselves what which who whom this that these those am is are was
were be been being have has had having do does did doing a an the and but
if or because as until while of at by for with about against between into
through during before after above below to from up down in out on off
over under again further then once here there when where why how all any
both each few more most other some such no nor not only own same so than
too very s t can will just don should now
""".split())

_WEIGHT_SCORES = {"D": 0.1, "C": 0.2, "B": 0.4, "A": 1.0}


class TsQueryError(ValueError):
    pass


def _tokens_with_pos(text: Column) -> Column:
    """array<struct<t:string, p:int>> — lowercase alphanumeric word
    parse with 1-based positions (pg 'simple' parser shape)."""
    raw = F.split(F.lower(text), "[^a-z0-9]+")
    indexed = F.transform(
        raw, lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p")))
    # leading separator yields an empty first token — filter, then
    # renumber so positions count WORDS (pg numbers words, not splits)
    words = F.filter(indexed, lambda s: s["t"] != "")
    return F.transform(
        words, lambda s, i: F.struct(s["t"].alias("t"),
                                     (i + 1).cast("int").alias("p")))


def prepared_tokens(text: Column, config: str) -> Column:
    """Token-struct array (t, p) after config processing — for
    ``english``: stopword filter on the RAW lowercase word, then Snowball
    stem, in pg's dictionary order. The stemmer is the pure-JVM Porter2
    expression chain (functions/snowball.py:stem_expr) — a Python-UDF
    form was tried first and is fundamentally incomposable: Spark cannot
    evaluate Python UDFs nested inside HOF lambdas, and CollapseProject
    re-nests staged UDF pre-columns back under the HOFs (both measured;
    see snowball.py). Everything here stays a Column expression, so the
    result composes freely under @@ / ts_rank / further HOFs."""
    if config not in ("simple", "english"):
        raise TsQueryError(
            f"text search configuration {config!r} is not supported "
            "(simple / english)")
    from .snowball import stem_expr

    toks = _tokens_with_pos(text)
    if config == "english":
        # bind the 120-literal stopword array — it sits inside the filter
        # lambda and would otherwise be rebuilt per token
        stops = F.array(*[F.lit(s) for s in sorted(ENGLISH_STOPWORDS)])
        parse = toks
        filtered = _let(stops, lambda st: F.filter(
            parse, lambda s: ~F.array_contains(st, s["t"])))
        return F.transform(
            filtered,
            lambda s: F.struct(stem_expr(s["t"]).alias("t"),
                               s["p"].alias("p")))
    return toks


def vector_from_tokens(toks: Column) -> Column:
    """Canonical tsvector from a token-struct array: distinct lexemes
    sorted, each with its ordered position list, default weight D. Pure
    JVM row-local HOFs.

    One pass over the tokens: every multiply-referenced subexpression
    (the sorted array, the group-start index list) is let-bound as a HOF
    lambda variable — interpreted HOFs re-evaluate non-variable subtrees
    once per element, so the previous per-distinct-lexeme
    ``F.filter(toks, …)`` construction re-ran the full regex parse
    O(lexemes) times per row (quadratic on long documents).
    Construction: sort tokens by (lexeme, position) — struct comparison
    is field-ordered — find the index where each lexeme's run starts,
    and slice each run's positions out once: one O(n log n) sort plus
    O(n) slicing per row."""

    def build(srt: Column) -> Column:
        n = F.size(srt)
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
               .otherwise(F.array().cast("array<int>"))
        # 0-based indices where a new lexeme run begins; F.get returns
        # NULL (never an ANSI index error) for i-1 == -1 at i == 0
        start_idx = F.filter(
            idx, lambda i: (i == 0)
            | (F.get(srt, i)["t"] != F.get(srt, i - 1)["t"]))

        def entries(starts: Column) -> Column:
            def entry(s: Column, j: Column) -> Column:
                nxt = F.coalesce(F.get(starts, j + 1), n)
                pos = F.transform(F.slice(srt, s + 1, nxt - s),
                                  lambda x: x["p"])
                return F.struct(F.get(srt, s)["t"].alias("lexeme"),
                                pos.alias("positions"),
                                F.lit("D").alias("weight"))

            return F.transform(starts, entry)

        return _let(start_idx, entries)

    return _let(F.array_sort(toks), build)


def to_tsvector(text: Column, config: str = "simple") -> Column:
    """Canonical tsvector of a text column — pure JVM for every config,
    composable anywhere a Column is."""
    return vector_from_tokens(prepared_tokens(text, config))


def setweight(tsv: Column, weight: str) -> Column:
    w = weight.upper()
    if w not in "ABCD" or len(w) != 1:
        raise TsQueryError(f"unrecognized weight: {weight!r}")
    return F.transform(
        tsv, lambda e: F.struct(e["lexeme"].alias("lexeme"),
                                e["positions"].alias("positions"),
                                F.lit(w).alias("weight")))


def strip_positions(tsv: Column) -> Column:
    """pg strip(): drop positions and weights."""
    return F.transform(
        tsv, lambda e: F.struct(
            e["lexeme"].alias("lexeme"),
            F.array().cast("array<int>").alias("positions"),
            F.lit("D").alias("weight")))


def tsvector_to_array(tsv: Column) -> Column:
    """pg tsvector_to_array: the lexemes, already sorted."""
    return F.transform(tsv, lambda e: e["lexeme"])


def array_to_tsvector(arr: Column) -> Column:
    """pg array_to_tsvector: distinct sorted lexemes, no positions,
    default weight."""
    return F.transform(
        F.array_sort(F.array_distinct(arr)),
        lambda lex: F.struct(lex.alias("lexeme"),
                             F.array().cast("array<int>")
                             .alias("positions"),
                             F.lit("D").alias("weight")))


def ts_delete(tsv: Column, lexemes) -> Column:
    """pg ts_delete(tsvector, text | text[]): drop the given lexemes."""
    if isinstance(lexemes, str):
        lexemes = [lexemes]
    arr = F.array(*[F.lit(x) for x in lexemes])
    return F.filter(tsv, lambda e: ~F.array_contains(arr, e["lexeme"]))


def ts_filter(tsv: Column, weights) -> Column:
    """pg ts_filter(tsvector, "char"[]): keep entries whose weight is in
    the list."""
    ws = [w.upper() for w in weights]
    for w in ws:
        if w not in "ABCD" or len(w) != 1:
            raise TsQueryError(f"unrecognized weight: {w!r}")
    arr = F.array(*[F.lit(w) for w in ws])
    return F.filter(tsv, lambda e: F.array_contains(arr, e["weight"]))


def numnode(node) -> int:
    """pg numnode(tsquery): lexemes + operators in the parse tree."""
    kind = node[0]
    if kind == "term":
        return 0 if node[1] is None else 1
    if kind == "not":
        return 1 + numnode(node[1])
    return 1 + numnode(node[1]) + numnode(node[2])


def _nary_children(node, kind):
    """Left-to-right children of a same-op (and/or) chain — pg's
    QTNTernary flattening."""
    if node[0] != kind:
        return [node]
    return _nary_children(node[1], kind) + _nary_children(node[2], kind)


def _ts_canon(node):
    """Canonical (flattened, operand-sorted) form for tsquery tree
    equality — commutative/associative matching inside & and | groups,
    like pg's QTNSort + QTNSameTree."""
    kind = node[0]
    if kind in ("and", "or"):
        kids = sorted((_ts_canon(k) for k in _nary_children(node, kind)),
                      key=repr)
        return (kind, tuple(kids))
    if kind == "not":
        return ("not", _ts_canon(node[1]))
    if kind == "phrase":
        return ("phrase", _ts_canon(node[1]), _ts_canon(node[2]), node[3])
    return node


def _ts_sort_tree(node):
    """pg ts_rewrite output order: inside & / | groups, plain values
    move (stably) before operator subtrees, original order otherwise
    preserved — the order pg's ts_rewrite docs example renders
    ('b' & ( 'foo' | 'bar' ), substitute last with its own operand
    order intact)."""
    kind = node[0]
    if kind in ("and", "or"):
        kids = [_ts_sort_tree(k) for k in _nary_children(node, kind)]
        kids.sort(key=lambda n: n[0] != "term")
        tree = kids[0]
        for k in kids[1:]:
            tree = (kind, tree, k)
        return tree
    if kind == "not":
        return ("not", _ts_sort_tree(node[1]))
    if kind == "phrase":
        return ("phrase", _ts_sort_tree(node[1]), _ts_sort_tree(node[2]),
                node[3])
    return node


def ts_rewrite_tree(query, target, substitute):
    """pg ts_rewrite(query, target, substitute) on parsed trees: ONE
    bottom-up pass replacing (a) any subtree whose canonical form equals
    the target's and (b) inside an & / | group, any sub-multiset of
    operands matching a same-operator target group (pg's findeq subset
    semantics: 'a & c' rewrites inside 'a & b & c', leaving 'b'), the
    substitute appended in the matched group's place. The result renders
    in pg's QTNSort canonical order (values before operator subtrees),
    matching the pg-docs example output. The target must be non-empty.
    """
    if target == ("term", None, False):
        raise TsQueryError("ts_rewrite: target query must not be empty")
    tc = _ts_canon(target)

    def rw(node):
        if _ts_canon(node) == tc:
            return substitute
        kind = node[0]
        if kind in ("and", "or"):
            out = [rw(k) for k in _nary_children(node, kind)]
            if target[0] == kind:
                need = sorted((_ts_canon(k) for k in
                               _nary_children(target, kind)), key=repr)
                pool = [_ts_canon(k) for k in out]
                trial = list(pool)
                ok = True
                for t in need:
                    if t in trial:
                        trial.remove(t)
                    else:
                        ok = False
                        break
                if ok and len(need) < len(out):
                    remaining, pending = [], list(need)
                    for k, ck in zip(out, pool):
                        if ck in pending:
                            pending.remove(ck)
                        else:
                            remaining.append(k)
                    out = remaining + [substitute]
            tree = out[0]
            for k in out[1:]:
                tree = (kind, tree, k)
            return tree
        if kind == "not":
            return ("not", rw(node[1]))
        if kind == "phrase":
            return ("phrase", rw(node[1]), rw(node[2]), node[3])
        return node

    return _ts_sort_tree(rw(query))


def querytree(node) -> str:
    """pg querytree(tsquery): the part of the query usable for index
    matching — NOT branches drop; 'T' when nothing matchable remains."""
    pruned = _strip_not(node)
    if pruned is None:
        return "T"
    s = render_tsquery(pruned)
    return s if s else "T"


def _strip_not(node):
    kind = node[0]
    if kind == "term":
        return None if node[1] is None else node
    if kind == "not":
        return None
    l = _strip_not(node[1])
    r = _strip_not(node[2])
    if kind == "or":
        # an OR with an unmatchable side is wholly unmatchable by index
        return None if l is None or r is None else ("or", l, r)
    if l is None:
        return r
    if r is None:
        return l
    return (kind, l, r) if kind == "and" else (kind, l, r, node[3])


def parse_headline_options(options: str) -> dict:
    """pg ts_headline options string: 'Key=Value, Key=Value' (keys
    case-insensitive). Supported: StartSel, StopSel, MaxWords, MinWords,
    HighlightAll, MaxFragments, FragmentDelimiter, ShortWord (r12:
    boundary trim of non-highlighted words <= this length; DEFAULTS TO 0
    here where pg defaults to 3 — the existing literal-oracle rows pin
    the untrimmed window, so pg's trim is opt-in via ShortWord=3 —
    documented deviation). Unsupported keys raise. Commas inside a
    quoted FragmentDelimiter are not supported (pass a delimiter
    without commas)."""
    out = {"startsel": "<b>", "stopsel": "</b>", "maxwords": 35,
           "minwords": 15, "highlightall": False, "maxfragments": 0,
           "fragmentdelimiter": " ... ", "shortword": 0}
    for part in (options or "").split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise TsQueryError(
                f"ts_headline option {part!r} is not key=value")
        key, _, val = part.partition("=")
        key = key.strip().lower()
        val = val.strip().strip('"')
        if key in ("startsel", "stopsel", "fragmentdelimiter"):
            out[key] = val
        elif key in ("maxwords", "minwords", "maxfragments", "shortword"):
            try:
                out[key] = int(val)
            except ValueError:
                raise TsQueryError(
                    f"ts_headline option {key} requires an integer "
                    f"value, got {val!r}")
        elif key == "highlightall":
            out[key] = val.lower() in ("true", "t", "1", "on", "yes")
        else:
            raise TsQueryError(
                f"ts_headline option {key!r} is not supported "
                "(StartSel / StopSel / MaxWords / MinWords / "
                "HighlightAll / MaxFragments / FragmentDelimiter)")
    # pg prsd_headline rejects pathological window parameters (they would
    # otherwise feed negative arithmetic into the slice windows);
    # HighlightAll skips window selection entirely, like pg
    if out["maxfragments"] < 0:
        raise TsQueryError("MaxFragments should be >= 0")
    if out["shortword"] < 0:
        raise TsQueryError("ShortWord should be >= 0")
    if not out["highlightall"]:
        if out["minwords"] <= 0:
            raise TsQueryError("MinWords should be positive")
        if out["minwords"] >= out["maxwords"]:
            raise TsQueryError("MinWords should be less than MaxWords")
    return out


def ts_headline(text: Column, node, config: str = "simple",
                options: str = "") -> Column:
    """pg ts_headline: the document fragment containing the query terms,
    with every matched word wrapped in StartSel/StopSel.

    Documented approximations vs pg's exact hlCover algorithm:
    - the excerpt window starts at the FIRST matched word and extends to
      the last match within MaxWords (then right-pads to MinWords),
      where pg searches for the best-scoring cover;
    - inter-word whitespace normalizes to single spaces;
    - fragment mode (MaxFragments > 0) anchors each fragment AT a match
      (greedy non-overlapping, see below) where pg centers fragments on
      whole covers; ShortWord applies to the window mode only (r12) and
      defaults to 0 where pg defaults to 3 (opt-in, see
      parse_headline_options).
    Matching uses the config's normalization (english: Snowball stem),
    so 'rats' highlights for query 'rat' like pg. Pure JVM HOFs."""
    from .snowball import stem_expr

    opts = parse_headline_options(options)
    terms: List[Tuple[str, bool]] = []
    _collect_terms(node, terms)

    def norm(w: Column) -> Column:
        base = F.regexp_replace(F.lower(w), "[^a-z0-9]", "")
        return stem_expr(base) if config == "english" else base

    def is_match(lex: Column) -> Column:
        cond = F.lit(False)
        for lexeme, prefix in terms:
            cond = cond | (lex.startswith(lexeme) if prefix
                           else (lex == lexeme))
        return cond

    def mark(w: Column, hit: Column) -> Column:
        return F.when(hit, F.concat(F.lit(opts["startsel"]), w,
                                    F.lit(opts["stopsel"]))) \
                .otherwise(w)

    def build(words: Column) -> Column:
        n = F.size(words)

        def with_flags(flags: Column) -> Column:
            if opts["highlightall"]:
                return F.concat_ws(" ", F.zip_with(words, flags, mark))
            # (flags below are plain booleans — the normalized lexeme is
            # let-bound at flag time so the stem cascade runs once per
            # word, not once per query term)
            idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
                   .otherwise(F.array().cast("array<int>"))
            matches = F.filter(idx, lambda i: F.get(flags, i))

            if opts["maxfragments"] > 0:
                # fragment mode: greedy non-overlapping anchors — the
                # first match, then each next match at least MaxWords
                # past the previous anchor, up to MaxFragments; each
                # fragment shows MaxWords words from its anchor, joined
                # by FragmentDelimiter (pg centers fragments on covers;
                # anchor-at-match is the documented approximation)
                def fragmode(m: Column) -> Column:
                    anchors_expr = F.aggregate(
                        m, F.array().cast("array<int>"),
                        lambda acc, i: F.when(
                            (F.size(acc) < opts["maxfragments"])
                            & (F.coalesce(F.get(acc, F.size(acc) - 1),
                                          F.lit(-opts["maxwords"] - 1))
                               + opts["maxwords"] <= i),
                            F.concat(acc, F.array(i))).otherwise(acc))

                    def with_anchors(anchors: Column) -> Column:
                        def frag(a: Column) -> Column:
                            end = F.least(a + opts["maxwords"] - 1,
                                          n - 1)
                            span = F.slice(words, a + 1, end - a + 1)
                            return F.concat_ws(" ", F.transform(
                                span, lambda w, j: mark(
                                    w, F.get(flags, a + j))))

                        out = F.array_join(
                            F.transform(anchors, frag),
                            opts["fragmentdelimiter"])
                        head = F.concat_ws(" ", F.slice(
                            words, 1,
                            F.least(F.lit(opts["minwords"]), n)))
                        return F.when(F.size(anchors) > 0, out) \
                                .otherwise(head)

                    return _let(anchors_expr, with_anchors)

                return _let(matches, fragmode)

            def window(m: Column) -> Column:
                first = F.coalesce(F.get(m, 0), F.lit(0))
                last_in_reach = F.coalesce(
                    F.array_max(F.filter(
                        m, lambda i: i < first + opts["maxwords"])),
                    first)
                end = F.least(
                    F.greatest(last_in_reach,
                               first + opts["minwords"] - 1),
                    first + opts["maxwords"] - 1, n - 1)
                # extend LEFT when the right side ran out of words, so a
                # match near the document end still gets MinWords of
                # context (like pg)
                start = F.greatest(
                    F.lit(0),
                    F.least(first, end - opts["minwords"] + 1))
                if opts["shortword"] > 0:
                    # pg ShortWord: non-highlighted words of this length
                    # or less are dropped at the headline BOUNDARIES
                    # (interior short words stay) — shrink to the first/
                    # last index that is a match or a long-enough word
                    rng = F.sequence(start, end)
                    good = F.filter(rng, lambda i: F.get(flags, i) | (
                        F.length(F.get(words, i)) > opts["shortword"]))
                    start = F.coalesce(F.get(good, 0), start)
                    end = F.coalesce(
                        F.get(good, F.size(good) - 1), end)
                span = F.slice(words, start + 1, end - start + 1)
                return F.concat_ws(" ", F.transform(
                    span, lambda w, j: mark(
                        w, F.get(flags, start + j))))

            return _let(matches, window)

        return _let(F.transform(words,
                                lambda w: _let(norm(w), is_match)),
                    with_flags)

    return _let(
        F.filter(F.split(F.trim(text), r"\s+"), lambda w: w != ""),
        build)


def tsvector_concat(a: Column, b: Column) -> Column:
    """||: merge lexeme entries; b's positions shift by a's document
    length (pg semantics: the right document follows the left one).
    The higher weight wins on merged lexemes (A > B > C > D, i.e. the
    alphabetically smaller letter). One sort + one fold — per-lexeme
    re-filtering of the merged array would re-reference the (potentially
    deep) input expressions per lexeme and blow up analysis."""
    a_len = F.coalesce(
        F.array_max(F.flatten(F.transform(a, lambda e: e["positions"]))),
        F.lit(0))
    b_shift = F.transform(
        b, lambda e: F.struct(
            e["lexeme"].alias("lexeme"),
            F.transform(e["positions"],
                        lambda p: (p + a_len).cast("int"))
            .alias("positions"),
            e["weight"].alias("weight")))
    merged = F.array_sort(
        F.concat(a, b_shift),
        lambda x, y: F.when(x["lexeme"] < y["lexeme"], -1)
        .when(x["lexeme"] > y["lexeme"], 1).otherwise(0))
    empty = F.array().cast(TSVECTOR_DDL)

    def step(acc: Column, e: Column) -> Column:
        last = F.element_at(acc, -1)
        joined = F.struct(
            e["lexeme"].alias("lexeme"),
            F.array_sort(F.concat(last["positions"], e["positions"]))
            .alias("positions"),
            F.least(last["weight"], e["weight"]).alias("weight"))
        return (F.when(F.size(acc) == 0, F.array(e))
                .when(last["lexeme"] == e["lexeme"],
                      F.concat(F.slice(acc, 1, F.size(acc) - 1),
                               F.array(joined)))
                .otherwise(F.concat(acc, F.array(e))))

    return F.aggregate(merged, empty, step)


# ------------------------------------------------------------- tsquery

# node kinds: ("term", lexeme, prefix) | ("and"|"or", l, r) |
# ("not", x) | ("phrase", l, r, distance)

_TSQ_TOKEN = re.compile(r"""
    \s*( <->| <\d+> | && | \|\| | [&|!()] | '[^']*'(?::\*)? |
         [^\s&|!()<]+ )""", re.VERBOSE)


def _lex_one(config: str, word: str) -> Optional[str]:
    """Normalize one query token the way to_tsvector normalizes words:
    lowercase word-parse, stopword check on the raw word, then (english)
    Snowball stem — so 'running' in a query matches 'runs' in a document,
    like pg."""
    w = re.sub(r"[^a-z0-9]+", " ", word.lower()).strip()
    if " " in w:
        raise TsQueryError(
            f"tsquery term {word!r} normalizes to multiple lexemes; "
            "quote phrases via phraseto_tsquery / <->")
    if not w:
        return None
    if config == "english":
        if w in ENGLISH_STOPWORDS:
            return None
        from .snowball import stem_cached

        return stem_cached(w)
    return w


class _TsQueryParser:
    def __init__(self, text: str, config: str):
        self.toks: List[str] = []
        pos = 0
        while pos < len(text):
            m = _TSQ_TOKEN.match(text, pos)
            if not m:
                if text[pos:].strip() == "":
                    break
                raise TsQueryError(
                    f"syntax error in tsquery at: {text[pos:]!r}")
            self.toks.append(m.group(1))
            pos = m.end()
        self.i = 0
        self.config = config

    def peek(self) -> Optional[str]:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> str:
        t = self.peek()
        if t is None:
            raise TsQueryError("unexpected end of tsquery")
        self.i += 1
        return t

    def parse(self):
        node = self.parse_or()
        if self.peek() is not None:
            raise TsQueryError(
                f"trailing tokens in tsquery: {self.toks[self.i:]}")
        return node

    def parse_or(self):
        left = self.parse_and()
        while self.peek() in ("|", "||"):
            self.take()
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_phrase()
        while self.peek() in ("&", "&&"):
            self.take()
            left = ("and", left, self.parse_phrase())
        return left

    def parse_phrase(self):
        left = self.parse_unary()
        while True:
            t = self.peek()
            if t == "<->":
                self.take()
                left = ("phrase", left, self.parse_unary(), 1)
            elif t is not None and re.fullmatch(r"<\d+>", t):
                self.take()
                left = ("phrase", left, self.parse_unary(), int(t[1:-1]))
            else:
                return left

    def parse_unary(self):
        t = self.take()
        if t == "!":
            return ("not", self.parse_unary())
        if t == "(":
            inner = self.parse_or()
            if self.take() != ")":
                raise TsQueryError("expected ) in tsquery")
            return inner
        prefix = False
        if t.startswith("'"):
            body = t[1:].rsplit("'", 1)
            prefix = t.endswith(":*")
            word = body[0]
        else:
            if t.endswith(":*"):
                prefix = True
                t = t[:-2]
            word = t
        lex = _lex_one(self.config, word)
        if lex is None:
            # stopword / empty: matches nothing on its own (pg drops it
            # and adjusts phrases; we keep a never-matching placeholder)
            return ("term", None, False)
        return ("term", lex, prefix)


def _collapse_stopwords(node):
    """pg drops stopword terms from a parsed tsquery (with a NOTICE) and
    collapses the boolean/phrase structure around them: 'the & fat' ->
    'fat' (NOT a never-matching AND), 'fat <-> the <-> cat' ->
    'fat <2> cat' (the dropped word widens the phrase distance).

    Returns (node_or_None, lpad, rpad). lpad/rpad is the extra distance
    an ENCLOSING phrase must add on the corresponding side when this
    subtree's left/right end was a dropped stopword — pg's
    clean_stopword_intree tracks distance on BOTH ends, so an explicitly
    parenthesized phrase with a leading stopword collapses correctly:
    'fat <-> (the <-> cat)' -> 'fat' <2> 'cat', not 'fat' <-> 'cat'.
    For a fully-dropped subtree (None) lpad == rpad == the subtree's
    total traversal span, so distances pass through dropped middles
    ('fat <-> (the <-> a) <-> cat' -> 'fat' <3> 'cat')."""
    kind = node[0]
    if kind == "term":
        return (None, 0, 0) if node[1] is None else (node, 0, 0)
    if kind == "not":
        inner, _, _ = _collapse_stopwords(node[1])
        return (None, 0, 0) if inner is None else (("not", inner), 0, 0)
    if kind in ("and", "or"):
        l, l_l, l_r = _collapse_stopwords(node[1])
        r, r_l, r_r = _collapse_stopwords(node[2])
        if l is None:
            return r, r_l, r_r
        if r is None:
            return l, l_l, l_r
        return (kind, l, r), 0, 0
    # phrase: distances accumulate through dropped ends and middles
    _, left, right, dist = node
    l, l_l, l_r = _collapse_stopwords(left)
    r, r_l, r_r = _collapse_stopwords(right)
    if l is None and r is None:
        span = l_l + dist + r_r
        return None, span, span
    if r is None:
        # right operand fully dropped: its span extends our right pad
        return l, l_l, l_r + dist + r_r
    if l is None:
        # left operand fully dropped: its span extends our left pad
        return r, l_l + dist + r_l, r_r
    return ("phrase", l, r, dist + l_r + r_l), l_l, r_r


def parse_tsquery(text: str, config: str = "simple"):
    node = _TsQueryParser(text, config).parse()
    collapsed, _, _ = _collapse_stopwords(node)
    return collapsed if collapsed is not None else ("term", None, False)


def plain_tsquery(text: str, config: str = "simple"):
    """plainto_tsquery: AND of the normalized words."""
    words = [w for w in re.split(r"[^a-zA-Z0-9]+", text) if w]
    lexes = [_lex_one(config, w) for w in words]
    lexes = [l for l in lexes if l]
    if not lexes:
        return ("term", None, False)
    node = ("term", lexes[0], False)
    for l in lexes[1:]:
        node = ("and", node, ("term", l, False))
    return node


def phrase_tsquery(text: str, config: str = "simple"):
    """phraseto_tsquery: <-> chain (stopwords widen the gap, like pg)."""
    words = [w for w in re.split(r"[^a-zA-Z0-9]+", text) if w]
    chain = None
    gap = 1
    for w in words:
        lex = _lex_one(config, w)
        if lex is None:
            gap += 1
            continue
        term = ("term", lex, False)
        chain = term if chain is None else ("phrase", chain, term, gap)
        gap = 1
    return chain if chain is not None else ("term", None, False)


def websearch_tsquery(text: str, config: str = "simple"):
    """pg websearch_to_tsquery: web-search syntax that never raises —
    unquoted words AND together (plainto semantics), "quoted text"
    becomes a phrase (phraseto semantics), the unquoted case-insensitive
    keyword OR combines the two ADJACENT items, and a - prefix negates
    the following word/phrase. Unrecognized punctuation is ignored."""
    units = []
    pending_or = False
    for tk in re.findall(r'-?"[^"]*"|\S+', text or ""):
        if not tk.startswith(('"', '-')) and tk.lower() == "or":
            pending_or = bool(units)
            continue
        neg = False
        if tk.startswith("-") and len(tk) > 1:
            neg = True
            tk = tk[1:]
        if tk.startswith('"'):
            node = phrase_tsquery(tk.strip('"'), config)
        else:
            node = plain_tsquery(tk, config)
        if node == ("term", None, False):
            continue  # stopword/punctuation-only: dropped, like pg
        if neg:
            node = ("not", node)
        if pending_or and units:
            units[-1] = ("or", units[-1], node)
        else:
            units.append(node)
        pending_or = False
    if not units:
        return ("term", None, False)
    out = units[0]
    for u in units[1:]:
        out = ("and", out, u)
    return out


def render_tsquery(node) -> str:
    """pg text form of a parsed tsquery ('cat' & 'dog', phrases as <->)."""
    kind = node[0]
    if kind == "term":
        if node[1] is None:
            return ""
        return f"'{node[1]}':*" if node[2] else f"'{node[1]}'"
    if kind == "not":
        # pg parenthesizes a negated phrase: !( 'a' <-> 'b' ); phrase
        # CHAINS elsewhere render flat (left-assoc), so the paren is
        # specific to the ! operand
        inner = render_tsquery(node[1])
        if node[1][0] in ("and", "or", "phrase"):
            return f"!( {inner} )"
        return f"!{inner}"
    if kind == "and":
        return f"{_paren(node[1])} & {_paren(node[2])}"
    if kind == "or":
        return f"{_paren(node[1])} | {_paren(node[2])}"
    dist = node[3]
    op = "<->" if dist == 1 else f"<{dist}>"
    return f"{_paren(node[1])} {op} {_paren(node[2])}"


def _paren(node) -> str:
    s = render_tsquery(node)
    return f"( {s} )" if node[0] in ("and", "or") else s


# -------------------------------------------------------------- matching

def _entry_for(tsv: Column, lexeme: str, prefix: bool) -> Column:
    if prefix:
        return F.filter(tsv, lambda e: e["lexeme"].startswith(lexeme))
    return F.filter(tsv, lambda e: e["lexeme"] == lexeme)


def _term_positions(tsv: Column, node) -> Column:
    """All positions of a term node (possibly several entries under a
    prefix match), sorted; empty when absent."""
    _, lexeme, prefix = node
    if lexeme is None:
        return F.array().cast("array<int>")
    entries = _entry_for(tsv, lexeme, prefix)
    return F.array_sort(F.flatten(
        F.transform(entries, lambda e: e["positions"])))


def _phrase_positions(tsv: Column, node) -> Column:
    """End positions where the phrase node matches (pg phrase semantics:
    <N> means b exactly N words after a)."""
    kind = node[0]
    if kind == "term":
        return _term_positions(tsv, node)
    if kind == "phrase":
        _, left, right, dist = node
        lp = _phrase_positions(tsv, left)
        rp = _phrase_positions(tsv, right)
        return F.filter(
            rp, lambda p: F.array_contains(
                F.transform(lp, lambda q: (q + dist).cast("int")), p))
    raise TsQueryError(
        "only terms and <-> chains may appear inside a tsquery phrase")


def compile_match(tsv: Column, node) -> Column:
    """tsquery node -> boolean Column over the tsvector."""
    kind = node[0]
    if kind == "term":
        _, lexeme, prefix = node
        if lexeme is None:
            return F.lit(False)
        return F.size(_entry_for(tsv, lexeme, prefix)) > 0
    if kind == "and":
        return compile_match(tsv, node[1]) & compile_match(tsv, node[2])
    if kind == "or":
        return compile_match(tsv, node[1]) | compile_match(tsv, node[2])
    if kind == "not":
        return ~compile_match(tsv, node[1])
    if kind == "phrase":
        return F.size(_phrase_positions(tsv, node)) > 0
    raise TsQueryError(f"unknown tsquery node {kind!r}")


# --------------------------------------------------------------- ranking

def _collect_terms(node, out: List[Tuple[str, bool]]) -> None:
    if node[0] == "term":
        if node[1] is not None:
            out.append((node[1], node[2]))
    elif node[0] == "not":
        pass  # negated terms do not contribute rank in pg
    else:
        _collect_terms(node[1], out)
        _collect_terms(node[2], out)


def _weight_map(weights) -> Column:
    return F.create_map(
        F.lit("D"), F.lit(float(weights[0])),
        F.lit("C"), F.lit(float(weights[1])),
        F.lit("B"), F.lit(float(weights[2])),
        F.lit("A"), F.lit(float(weights[3])))


def _term_weight(tsv: Column, term, wmap: Column) -> Column:
    """Weight of the (first) entry matching a term node; NULL if absent.
    Our tsvector carries one weight per lexeme (pg: per position;
    setweight sets them all, so they agree for setweight-built data)."""
    lexeme, prefix = term
    # F.get is 0-based and returns NULL on an empty array (element_at
    # raises under ANSI)
    first = F.get(_entry_for(tsv, lexeme, prefix), 0)
    return wmap[first["weight"]]


def _rank_or(tsv: Column, terms, wmap: Column, qsize: int) -> Column:
    """pg tsrank.c calc_rank_or: each matched tsvector ENTRY contributes
    an independent (wjm + resj - wjm/((jm+1)^2)) / (pi^2/6) — with one
    weight per entry (ours, and pg's for setweight-built data) the inner
    loop telescopes to w * sum_{j=1..n} 1/j^2 / (pi^2/6). A prefix term
    can match several entries; each gets its OWN harmonic sum with its
    OWN weight (pg loops entries inside the item loop). Entries without
    positions count as one D-weighted position (pg's POSNULL). The total
    divides by the count of UNIQUE value operands: pg's
    SortAndUniqItems(q, &size) collects only QI_VAL operands, sorts and
    uniqs, and REWRITES size before the final `res = res / size` — so
    'a | b' divides by 2 (not numnode's 3) and 'a | a' collapses to one
    operand (canonical pg: one matched OR arm of two = 0.0303964, half
    the 0.0607927 single-term rank). `qsize` is that unique-operand
    count; ts_rank dedupes the term list to match."""
    parts = []
    for term in terms:
        lexeme, prefix = term
        entries = _entry_for(tsv, lexeme, prefix)

        def one_entry(acc: Column, e: Column) -> Column:
            npos = F.size(e["positions"])
            harm = F.aggregate(
                F.when(npos > 0, F.sequence(F.lit(1), npos))
                 .otherwise(F.array(F.lit(1))),
                F.lit(0.0),
                lambda a, j: a + F.lit(1.0)
                / (j.cast("double") * j.cast("double")))
            w = F.when(npos > 0, wmap[e["weight"]]) \
                 .otherwise(wmap[F.lit("D")])
            return acc + w * harm / F.lit(1.64493406685)

        parts.append(F.aggregate(entries, F.lit(0.0), one_entry))
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    return total / F.lit(float(max(qsize, 1)))


def _word_distance(dist: Column) -> Column:
    """pg tsrank.c word_distance: 1/(1.005 + 0.05*e^(d/1.5)), clamped to
    1e-30 beyond 100 — full credit for adjacency, fast decay with gap.
    Reconstructed from the public PostgreSQL source from memory; the
    decay constants are unverifiable in this offline environment, so
    exact VALUES may deviate from pg while proximity ORDERINGS agree
    (documented deviation in the module docstring)."""
    d = dist.cast("double")
    return F.when(d > 100, F.lit(1e-30)).otherwise(
        F.lit(1.0) / (F.lit(1.005) + F.lit(0.05) * F.exp(d / F.lit(1.5))))


def _rank_and(tsv: Column, terms, wmap: Column) -> Column:
    """pg tsrank.c calc_rank_and: over every position pair of every term
    pair, curw = sqrt(w_i * w_k * word_distance(|p_i - p_k|)), folded
    with res <- 1 - (1-res)(1-curw). The fold telescopes to
    res = 1 - PRODUCT(1 - curw), so each term pair computes an
    independent factor (two flat nested aggregates) and the factors
    multiply as SIBLING expressions — a sequentially-nested _let chain
    here grows analyzer depth linearly in the pair count and trips the
    Resolution max-iteration limit from 3 query terms up (measured).
    No contributing pair (fewer than two found terms) -> pg's res<0
    clamp, 1e-20."""

    q = F.lit(1.0)       # product of (1 - curw) over all position pairs
    had = F.lit(False)   # any pair of found terms contributed
    for i in range(len(terms)):
        for k in range(i):
            pi = _term_positions(tsv, ("term",) + terms[i])
            pk = _term_positions(tsv, ("term",) + terms[k])
            wprod = (F.coalesce(_term_weight(tsv, terms[i], wmap),
                                F.lit(0.0))
                     * F.coalesce(_term_weight(tsv, terms[k], wmap),
                                  F.lit(0.0)))

            # bind the weight product and the k-side positions once —
            # they sit inside the per-position lambdas
            def factor(pi_col, pk_col, wprod_col):
                def with_wp(wp):
                    def with_pk(pks):
                        def one_pi(a, p_i):
                            def one_pk(a2, p_k):
                                dist = F.abs(p_i - p_k)
                                curw = F.sqrt(
                                    wp * _word_distance(dist))
                                # dist == 0 (same term twice in the
                                # query) keeps pg's skip: factor 1
                                return a2 * F.when(
                                    dist == 0, F.lit(1.0)).otherwise(
                                    F.lit(1.0) - curw)

                            return a * F.aggregate(
                                pks, F.lit(1.0), one_pk)

                        return F.aggregate(pi_col, F.lit(1.0), one_pi)

                    return _let(pk_col, with_pk)

                return _let(wprod_col, with_wp)

            q = q * factor(pi, pk, wprod)
            had = had | ((F.size(pi) > 0) & (F.size(pk) > 0))
    return F.when(had, F.lit(1.0) - q).otherwise(F.lit(1e-20))


# --------------------------------------------- rank normalization bitmask
#
# pg tsrank.c applies the same trailing normalization block to both
# calc_rank and calc_rank_cd (bit 4 exists only in the cd path). The
# divisors, in pg's application ORDER (1, 2, [4], 8, 16, 32 — sequential
# division, so combined masks compose multiplicatively):
#   1  (RANK_NORM_LOGLENGTH)  res /= log2(cnt_length + 1)   [t->size > 0]
#   2  (RANK_NORM_LENGTH)     res /= cnt_length             [len > 0]
#   4  (RANK_NORM_EXTDIST)    mean harmonic extent distance (cd only)
#   8  (RANK_NORM_UNIQ)       res /= t->size                [t->size > 0]
#   16 (RANK_NORM_LOGUNIQ)    res /= log2(t->size + 1)      [t->size > 0]
#   32 (RANK_NORM_RDIVRPLUS1) res /= res + 1
# cnt_length = tsrank.c cnt_length(): the sum of per-lexeme position
# counts, where a STRIPPED lexeme (no positions) counts 1. NOTE the pg
# DOCUMENTATION prose for bit 1 says "1 + the logarithm of the document
# length"; the shipped code divides by log2(len + 1) — the code wins here.

_RANK_NORM_SUPPORTED = 1 | 2 | 4 | 8 | 16 | 32


def _cnt_length(tsv: Column) -> Column:
    """tsrank.c cnt_length: total word count of the document as the
    tsvector records it (position-list sizes; stripped entries count 1)."""
    return F.aggregate(
        tsv, F.lit(0),
        lambda a, e: a + F.when(F.size(e["positions"]) > 0,
                                F.size(e["positions"])).otherwise(F.lit(1)))


def _apply_rank_normalization(rank: Column, tsv: Column,
                              method: int, fn_name: str,
                              ext: Optional[Column] = None) -> Column:
    """The shared trailing normalization block of calc_rank /
    calc_rank_cd. `ext` is the cd cover fold's extent state
    struct<n:int, s:double> (extent count, sum of 1/distance between
    consecutive extent midpoints) — bit 4 (RANK_NORM_EXTDIST) divides by
    the mean harmonic extent distance n/s when present; when ext is None
    (the ts_rank path) bit 4 is IGNORED like pg, whose calc_rank
    normalization block simply has no case for it (the docs say it "is
    implemented only by ts_rank_cd"). Unknown bits raise."""
    if method & ~_RANK_NORM_SUPPORTED:
        raise TsQueryError(
            f"{fn_name} normalization {method} has unknown bits "
            f"(pg defines 1|2|4|8|16|32)")
    if method == 0:
        return rank
    size = F.size(tsv)
    if method & 1:
        rank = F.when(size > 0,
                      rank / F.log2(_cnt_length(tsv).cast("double") + 1.0)
                      ).otherwise(rank)
    if method & 2:
        ln = _cnt_length(tsv)
        rank = F.when(ln > 0, rank / ln.cast("double")).otherwise(rank)
    if method & 4 and ext is not None:
        # tsrank.c: if (NExtent > 0 && SumDist > 0) res /= NExtent/SumDist
        rank = F.when((ext["n"] > 0) & (ext["s"] > 0.0),
                      rank / (ext["n"].cast("double") / ext["s"])
                      ).otherwise(rank)
    if method & 8:
        rank = F.when(size > 0, rank / size.cast("double")).otherwise(rank)
    if method & 16:
        rank = F.when(size > 0,
                      rank / F.log2(size.cast("double") + 1.0)
                      ).otherwise(rank)
    if method & 32:
        rank = rank / (rank + F.lit(1.0))
    return rank


def ts_rank(tsv: Column, node, weights=None,
            normalization: int = 0) -> Column:
    """pg ts_rank following tsrank.c's calc_rank structure: an AND or
    phrase ROOT with >= 2 query terms ranks by pairwise positional
    proximity (calc_rank_and); everything else ranks by per-term
    harmonic position frequency (calc_rank_or, divided by the query
    node count like pg's q->size). See _word_distance for the one
    documented constant-level uncertainty. `normalization` is pg's
    bitmask (see _apply_rank_normalization; bit 4 is cd-only in pg and
    raises here)."""
    weights = weights or [0.1, 0.2, 0.4, 1.0]  # D C B A
    wmap = _weight_map(weights)
    terms: List[Tuple[str, bool]] = []
    _collect_terms(node, terms)
    if not terms:
        return F.lit(0.0).cast("float")
    if node[0] in ("and", "phrase") and len(terms) >= 2:
        rank = _rank_and(tsv, terms, wmap)
    else:
        # pg SortAndUniqItems: the OR path loops (and divides by) the
        # UNIQUE value operands, not the raw term list or the node count
        uniq = sorted(set(terms))
        rank = _rank_or(tsv, uniq, wmap, len(uniq))
    return _apply_rank_normalization(rank, tsv, normalization,
                                     "ts_rank()").cast("float")


# ------------------------------------------------- cover-density ranking

def _sat_expr(node, tindex, seen) -> Column:
    """Boolean satisfaction of a tsquery tree given per-unique-term
    membership Columns — pg's TS_execute(checkcondition_QueryOperand)
    over Cover's operandexist set. Without TS_EXEC_CALC_NOT (pg's Cover
    call), NOT subtrees evaluate TRUE; phrase operators degrade to AND
    when positions are not checked (pg TS_phrase_execute without
    position data)."""
    kind = node[0]
    if kind == "term":
        if node[1] is None:
            return F.lit(False)
        return seen[tindex[(node[1], node[2])]]
    if kind == "not":
        return F.lit(True)
    l = _sat_expr(node[1], tindex, seen)
    r = _sat_expr(node[2], tindex, seen)
    return (l | r) if kind == "or" else (l & r)


def ts_rank_cd(tsv: Column, node, weights=None,
               normalization: int = 0) -> Column:
    """pg ts_rank_cd — cover-density ranking per tsrank.c calc_rank_cd:
    enumerate minimal covers (pg's Cover(): scan forward to the first
    position set satisfying the query, then backward to the latest
    begin whose suffix still satisfies; restart at begin+1), and for
    each cover add Cpos / (1 + nNoise) where Cpos = |cover entries| /
    sum(1/weight) over the cover's entries and nNoise = the non-query
    words inside the cover (negative -> half the entry span, pg's
    truncated-position approximation). Like pg, stripped lexemes (no
    positions) are ignored; an all-stripped input ranks 0.

    Spark-side this is one row-local pass: the doc representation (all
    query-term positions, sorted) folds left-to-right under F.aggregate
    with state {restart, last-seen index per term, wdoc}. Because
    satisfaction is monotone in the seen set, the single pass emits
    exactly pg's greedy cover sequence. All pure JVM HOFs; expression
    size grows O(T^2) in the unique-term count (tsqueries are literals;
    typical T <= 5).

    normalization: pg's full bitmask — 1/2/8/16/32 via the shared
    trailing block (_apply_rank_normalization); bit 4 (mean harmonic
    extent distance, cd-only in pg too) rides the same fold as three
    extra state fields (extent count, 1/distance sum, previous extent
    midpoint), materialized only when the bit is requested."""

    # validate the mask up front so a bad literal fails at compile time,
    # before the cover fold is built
    _apply_rank_normalization(F.lit(0.0), F.array().cast(TSVECTOR_DDL),
                              normalization, "ts_rank_cd()")
    weights = weights or [0.1, 0.2, 0.4, 1.0]  # D C B A
    wmap = _weight_map(weights)
    raw: List[Tuple[str, bool]] = []
    _collect_terms(node, raw)
    terms = list(dict.fromkeys(raw))
    if not terms:
        return F.lit(0.0).cast("float")
    tindex = {t: i for i, t in enumerate(terms)}
    T = len(terms)

    # doc representation: struct<pos,term,w> per query-term position,
    # sorted by position (struct comparison is field-ordered). Entries
    # without positions are ignored (pg: cd requires positional info).
    def _term_rows(term_id: int):
        # NOTE: must be a closure, not a default-arg lambda — a 2-param
        # lambda would make PySpark pass the array INDEX as the 2nd arg
        def per_entry(e: Column) -> Column:
            return F.transform(
                e["positions"],
                lambda p: F.struct(
                    p.cast("int").alias("pos"),
                    F.lit(term_id).alias("term"),
                    wmap[e["weight"]].alias("w")))

        return per_entry

    parts = []
    for i, (lexeme, prefix) in enumerate(terms):
        entries = F.filter(_entry_for(tsv, lexeme, prefix),
                           lambda e: F.size(e["positions"]) > 0)
        parts.append(F.flatten(F.transform(entries, _term_rows(i))))
    doc_expr = F.array_sort(parts[0] if T == 1 else F.concat(*parts))

    # bit 4 (RANK_NORM_EXTDIST) needs per-extent state carried through
    # the same fold: extent count n, sum s of 1/(midpoint distance)
    # between consecutive extents, and the previous extent midpoint
    # (tsrank.c CurExtPos = (ext.p + ext.q)/2). Only materialized when
    # the bit is requested so the default path's state stays minimal.
    track_ext = bool(normalization & 4)

    def run(doc: Column) -> Column:
        n = F.size(doc)
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)) \
               .otherwise(F.array().cast("array<int>"))
        ext_init = ([F.lit(0).alias("n"), F.lit(0.0).alias("s"),
                     F.lit(0.0).alias("prev")] if track_ext else [])
        init = F.struct(
            F.lit(0).alias("restart"),
            F.array(*[F.lit(-1) for _ in range(T)]).cast("array<int>")
             .alias("last"),
            F.lit(0.0).alias("wdoc"), *ext_init)

        def step(st: Column, j: Column) -> Column:
            def with_entry(e: Column) -> Column:
                last_expr = F.transform(
                    st["last"],
                    lambda v, i: F.when(i == e["term"], j.cast("int"))
                                  .otherwise(v))

                def with_last(last: Column) -> Column:
                    seen = [last[i] >= st["restart"] for i in range(T)]
                    satisfied = _sat_expr(node, tindex, seen)
                    # latest begin whose suffix [b..j] still satisfies:
                    # candidates are the last-seen indices themselves
                    cands = []
                    for i in range(T):
                        suffix_seen = [last[k] >= last[i]
                                       for k in range(T)]
                        ok = _sat_expr(node, tindex, suffix_seen) \
                            & (last[i] >= st["restart"])
                        cands.append(F.when(ok, last[i])
                                      .otherwise(F.lit(-1)))
                    b_raw = cands[0] if T == 1 else F.greatest(*cands)
                    b = F.greatest(b_raw, F.lit(0))
                    cover = F.slice(doc, b + 1, j - b + 1)
                    invsum = F.aggregate(
                        cover, F.lit(0.0),
                        lambda a, c: a + F.lit(1.0) / c["w"])
                    count = (j - b + 1).cast("double")
                    noise_raw = (F.get(doc, j)["pos"]
                                 - F.get(doc, b)["pos"]) - (j - b)
                    nnoise = F.when(
                        noise_raw < 0,
                        F.floor((j - b) / 2).cast("int")
                    ).otherwise(noise_raw.cast("int"))
                    wdoc = st["wdoc"] + (count / invsum) \
                        / (F.lit(1.0) + nnoise.cast("double"))
                    ext_hit, ext_keep = [], []
                    if track_ext:
                        cur = (F.get(doc, b)["pos"]
                               + F.get(doc, j)["pos"]
                               ).cast("double") / F.lit(2.0)
                        s2 = F.when(
                            (st["n"] > 0) & (cur > st["prev"]),
                            st["s"] + F.lit(1.0) / (cur - st["prev"])
                        ).otherwise(st["s"])
                        ext_hit = [(st["n"] + 1).alias("n"),
                                   s2.alias("s"), cur.alias("prev")]
                        ext_keep = [st["n"].alias("n"),
                                    st["s"].alias("s"),
                                    st["prev"].alias("prev")]
                    return F.when(satisfied, F.struct(
                        (b + 1).cast("int").alias("restart"),
                        last.alias("last"),
                        wdoc.alias("wdoc"), *ext_hit)
                    ).otherwise(F.struct(
                        st["restart"].alias("restart"),
                        last.alias("last"),
                        st["wdoc"].alias("wdoc"), *ext_keep))

                return _let(last_expr, with_last)

            return _let(F.get(doc, j), with_entry)

        if track_ext:
            return F.aggregate(idx, init, step, lambda st: F.struct(
                st["wdoc"].alias("wdoc"), st["n"].alias("n"),
                st["s"].alias("s")))
        return F.aggregate(idx, init, step, lambda st: st["wdoc"])

    if track_ext:
        def with_state(st: Column) -> Column:
            return _apply_rank_normalization(
                st["wdoc"], tsv, normalization, "ts_rank_cd()", ext=st)

        return _let(_let(doc_expr, run), with_state).cast("float")
    rank = _let(doc_expr, run)
    return _apply_rank_normalization(rank, tsv, normalization,
                                     "ts_rank_cd()").cast("float")
