"""Snowball English (Porter2) stemmer for the FTS ``english`` config.

Implements the published Porter2 algorithm (snowballstem.org English
stemmer; M.F. Porter, 2002) — the same algorithm PostgreSQL's
``english_stem`` Snowball dictionary runs — in pure Python.

Two equivalent implementations, differential-tested against each other
(tests/test_snowball.py: published vectors + corpus vocabulary + fuzz):

- ``stem`` / ``stem_cached`` / ``stem_words`` — pure Python, used
  driver-side for tsquery literal terms and as the test oracle;
- ``stem_expr`` — the same algorithm as a pure-JVM Column-expression
  cascade (~600 nodes), used inside to_tsvector's token transform. A
  pandas_udf form was tried first and is fundamentally incomposable:
  Spark cannot evaluate Python UDFs nested inside HOF lambdas
  (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF), and staging the
  UDF as a hidden pre-column does not survive CollapseProject, which
  re-nests it under the consuming HOF tree where ExtractPythonUDFs
  cannot reach it (INTERNAL_ERROR Unevaluable at runtime — measured).
  The expression tree is built once per to_tsvector call and evaluated
  per token; at 100 TB the whole pipeline stays inside the JVM with no
  Arrow transfer at all.

No third-party stemmer package is used (none is available in this
environment); the algorithm follows the public spec step by step.
"""

from __future__ import annotations

from typing import List

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDINGS = frozenset("cdeghkmnrt")

# special-cased words (stemmer spec "exception1")
_EXCEPTIONS1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    # invariant forms
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}

# words whose stemming stops after step 1a (spec "exception2")
_EXCEPTIONS2 = frozenset({
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
})


def _mark_consonant_y(word: str) -> str:
    """y at the start of the word or after a vowel acts as a consonant —
    the spec marks it Y so the vowel tests below exclude it."""
    out = []
    prev_vowel = False
    for i, ch in enumerate(word):
        if ch == "y" and (i == 0 or prev_vowel):
            out.append("Y")
            prev_vowel = False
        else:
            out.append(ch)
            prev_vowel = ch in _VOWELS
    return "".join(out)


def _r_start(word: str, begin: int) -> int:
    """Position after the first non-vowel following a vowel, scanning from
    ``begin`` (the R1/R2 region definition)."""
    i = begin
    n = len(word)
    while i < n and word[i] not in _VOWELS:
        i += 1
    while i < n and word[i] in _VOWELS:
        i += 1
    return min(i + 1, n)


def _regions(word: str) -> tuple:
    # special R1 prefixes per the spec
    for prefix in ("gener", "commun", "arsen"):
        if word.startswith(prefix):
            r1 = len(prefix)
            break
    else:
        r1 = _r_start(word, 0)
    return r1, _r_start(word, r1)


def _ends_in_short_syllable(word: str) -> bool:
    n = len(word)
    if n == 2:
        return word[0] in _VOWELS and word[1] not in _VOWELS
    if n >= 3:
        return (word[-2] in _VOWELS and word[-3] not in _VOWELS
                and word[-1] not in _VOWELS and word[-1] not in "wxY")
    return False


def _has_vowel(s: str) -> bool:
    return any(c in _VOWELS for c in s)


def stem(word: str) -> str:
    """Porter2 stem of a lowercase word (non-letters pass through the
    algorithm unchanged the way Snowball treats them: they are simply
    never vowels)."""
    if len(word) <= 2:
        return word
    if word in _EXCEPTIONS1:
        return _EXCEPTIONS1[word]
    w = word
    # step 0: strip longest of '  's  's'  (tokenizers that drop
    # apostrophes never produce these; kept for direct calls)
    if w.startswith("'"):
        w = w[1:]
    if w.endswith("'s'"):
        w = w[:-3]
    elif w.endswith("'s"):
        w = w[:-2]
    elif w.endswith("'"):
        w = w[:-1]
    if len(w) <= 2:
        return w
    w = _mark_consonant_y(w)
    r1, r2 = _regions(w)

    # ---- step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s") and _has_vowel(w[:-2]):
        w = w[:-1]

    if w in _EXCEPTIONS2:
        return w

    # ---- step 1b
    if w.endswith("eedly"):
        if len(w) - 5 >= r1:
            w = w[:-3]
    elif w.endswith("eed"):
        if len(w) - 3 >= r1:
            w = w[:-1]
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem_part = w[:-len(suf)]
                if _has_vowel(stem_part):
                    w = stem_part
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_DOUBLES):
                        w = w[:-1]
                    elif _ends_in_short_syllable(w) and r1 >= len(w):
                        w += "e"
                break

    # ---- step 1c: y/Y -> i when preceded by a non-vowel that is not the
    # first letter
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in _VOWELS:
        w = w[:-1] + "i"

    # ---- step 2 (suffix must lie in R1); longest match wins
    step2 = (
        ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
        ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
        ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
        ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
        ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
        ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
        ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
        ("bli", "ble"),
    )
    for suf, rep in step2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                w = w[:-len(suf)] + rep
            break
    else:
        if w.endswith("ogi"):
            if len(w) - 3 >= r1 and len(w) >= 4 and w[-4] == "l":
                w = w[:-1]
        elif w.endswith("li"):
            if len(w) - 2 >= r1 and w[-3] in _LI_ENDINGS:
                w = w[:-2]

    # ---- step 3 (suffix in R1; ative additionally needs R2)
    step3 = (
        ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
        ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
        ("ness", ""), ("ful", ""),
    )
    for suf, rep in step3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                w = w[:-len(suf)] + rep
            break
    else:
        if w.endswith("ative") and len(w) - 5 >= r2:
            w = w[:-5]

    # ---- step 4 (suffix in R2)
    step4 = ("ement", "ance", "ence", "able", "ible", "ment", "ent",
             "ant", "ism", "ate", "iti", "ous", "ive", "ize", "al",
             "er", "ic")
    for suf in step4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                w = w[:-len(suf)]
            break
    else:
        if w.endswith("ion") and len(w) - 3 >= r2 and w[-4] in "st":
            w = w[:-3]

    # ---- step 5
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (len(w) - 1 >= r1
                                and not _ends_in_short_syllable(w[:-1])):
            w = w[:-1]
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) >= 2 \
            and w[-2] == "l":
        w = w[:-1]

    return w.replace("Y", "y")


# process-level memo: words are Zipfian, stems are pure — the cache turns
# per-token cost into per-distinct-token cost within each python worker
_MEMO: dict = {}
_MEMO_CAP = 1_000_000  # bound worker memory on adversarial vocabularies


def stem_cached(word: str) -> str:
    s = _MEMO.get(word)
    if s is None:
        s = stem(word)
        if len(_MEMO) < _MEMO_CAP:
            _MEMO[word] = s
    return s


def stem_words(words: List[str]) -> List[str]:
    return [stem_cached(w) for w in words]


# --------------------------------------------------------------- JVM form
#
# The same algorithm as a pure Column-expression chain, so to_tsvector can
# stem inside JVM higher-order functions with NO Python UDF anywhere:
# Spark cannot evaluate Python UDFs nested under HOF lambdas at all, and
# UDFs under deep HOF trees escape ExtractPythonUDFs once CollapseProject
# has merged projections (both measured in this repo — see git history of
# functions/textsearch.py). Tree size is ~600 expression nodes per
# stem_expr call: each multiply-used intermediate (the marked word, R1,
# R2, each step's output) is let-bound as a lambda variable, so the
# per-token work is a fixed rule cascade, not re-parsing.
#
# tests/test_snowball.py differential-tests this expression against the
# Python implementation above over the published vectors AND the real
# documents-corpus vocabulary.

def stem_expr(word):
    """Porter2 stem of a lowercase-word Column — pure JVM expressions."""
    from pyspark.sql import functions as F

    from . import _let

    VOW = "aeiouy"

    def vowel(ch):
        return ch.isin(*VOW)

    def last(w, k=1):
        return F.substr(w, F.length(w) - (k - 1), F.lit(1))

    def chop(w, k):
        return F.substr(w, F.lit(1), F.length(w) - k)

    def ends(w, s):
        return w.endswith(s)

    def replace_suffix(w, suf, rep):
        return F.concat(chop(w, len(suf)), F.lit(rep))

    def in_region(w, suf_len, r):
        # suffix lies in the region: chars before the suffix >= region start
        return (F.length(w) - suf_len) >= r

    def has_vowel(s):
        return s.rlike("[aeiouy]")

    def ends_short_syllable(w):
        n = F.length(w)
        c1, c2, c3 = last(w, 1), last(w, 2), last(w, 3)
        two = (n == 2) & vowel(F.substr(w, F.lit(1), F.lit(1))) \
            & ~vowel(c1)
        three = (n >= 3) & vowel(c2) & ~vowel(c3) & ~vowel(c1) \
            & ~c1.isin("w", "x", "Y")
        return two | three

    # region start: length of the shortest prefix
    # <non-vowels><vowels><one non-vowel>; the whole word when absent
    def region_from(m, start):
        base = F.substr(m, start + 1, F.length(m))
        ext = F.regexp_extract(base, "^[^aeiouy]*[aeiouy]+[^aeiouy]", 0)
        return F.when(ext == "", F.length(m)) \
                .otherwise(start + F.length(ext))

    exc1_items = []
    for k, v in _EXCEPTIONS1.items():
        exc1_items.extend([F.lit(k), F.lit(v)])
    exc1 = F.create_map(*exc1_items)

    def pipeline(w0):
        marked = F.regexp_replace(w0, "(^|[aeiouy])y", "$1Y")

        def with_marked(m):
            r1_expr = (
                F.when(m.startswith("gener"), F.lit(5))
                 .when(m.startswith("commun"), F.lit(6))
                 .when(m.startswith("arsen"), F.lit(5))
                 .otherwise(region_from(m, F.lit(0))))

            def with_r1(r1):
                def with_r2(r2):
                    return _steps(m, r1, r2)

                return _let(region_from(m, r1), with_r2)

            return _let(r1_expr, with_r1)

        return _let(marked, with_marked)

    def _steps(m, r1, r2):
        # ---- step 1a
        s1a = (
            F.when(ends(m, "sses"), chop(m, 2))
             .when(ends(m, "ied") | ends(m, "ies"),
                   F.when(F.length(m) > 4, chop(m, 2))
                    .otherwise(chop(m, 1)))
             .when(ends(m, "us") | ends(m, "ss"), m)
             .when(ends(m, "s") & has_vowel(chop(m, 2)), chop(m, 1))
             .otherwise(m))

        def after_1a(w1):
            rest = _let(_step_1b(w1, r1), lambda w2:
                        _let(_step_1c(w2), lambda w3:
                        _let(_step_2(w3, r1), lambda w4:
                        _let(_step_3(w4, r1, r2), lambda w5:
                        _let(_step_4(w5, r2), lambda w6:
                                  _step_5(w6, r1, r2))))))
            return F.when(w1.isin(*sorted(_EXCEPTIONS2)), w1) \
                    .otherwise(rest)

        return _let(s1a, after_1a)

    def _step_1b(w, r1):
        def post(t):
            return (
                F.when(ends(t, "at") | ends(t, "bl") | ends(t, "iz"),
                       F.concat(t, F.lit("e")))
                 .when(ends(t, "bb") | ends(t, "dd") | ends(t, "ff")
                       | ends(t, "gg") | ends(t, "mm") | ends(t, "nn")
                       | ends(t, "pp") | ends(t, "rr") | ends(t, "tt"),
                       chop(t, 1))
                 .when(ends_short_syllable(t) & (r1 >= F.length(t)),
                       F.concat(t, F.lit("e")))
                 .otherwise(t))

        def del_branch(suf):
            trunc = chop(w, len(suf))
            return F.when(has_vowel(trunc), _let(trunc, post)) \
                    .otherwise(w)

        return (
            F.when(ends(w, "eedly"),
                   F.when(in_region(w, 5, r1), chop(w, 3)).otherwise(w))
             .when(ends(w, "eed"),
                   F.when(in_region(w, 3, r1), chop(w, 1)).otherwise(w))
             .when(ends(w, "ingly"), del_branch("ingly"))
             .when(ends(w, "edly"), del_branch("edly"))
             .when(ends(w, "ing"), del_branch("ing"))
             .when(ends(w, "ed"), del_branch("ed"))
             .otherwise(w))

    def _step_1c(w):
        return F.when(
            (F.length(w) > 2) & last(w).isin("y", "Y")
            & ~vowel(last(w, 2)),
            F.concat(chop(w, 1), F.lit("i"))).otherwise(w)

    def _step_2(w, r1):
        rules = (
            ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
            ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
            ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
            ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
            ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
            ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
            ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
            ("bli", "ble"),
        )
        expr = None
        for suf, rep in rules:
            branch = F.when(in_region(w, len(suf), r1),
                            replace_suffix(w, suf, rep)).otherwise(w)
            expr = F.when(ends(w, suf), branch) if expr is None \
                else expr.when(ends(w, suf), branch)
        expr = expr.when(
            ends(w, "ogi"),
            F.when(in_region(w, 3, r1) & (F.length(w) >= 4)
                   & (last(w, 4) == "l"), chop(w, 1)).otherwise(w))
        expr = expr.when(
            ends(w, "li"),
            F.when(in_region(w, 2, r1)
                   & last(w, 3).isin(*"cdeghkmnrt"), chop(w, 2))
             .otherwise(w))
        return expr.otherwise(w)

    def _step_3(w, r1, r2):
        rules = (
            ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
            ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
            ("ness", ""), ("ful", ""),
        )
        expr = None
        for suf, rep in rules:
            branch = F.when(in_region(w, len(suf), r1),
                            replace_suffix(w, suf, rep)).otherwise(w)
            expr = F.when(ends(w, suf), branch) if expr is None \
                else expr.when(ends(w, suf), branch)
        expr = expr.when(
            ends(w, "ative"),
            F.when(in_region(w, 5, r2), chop(w, 5)).otherwise(w))
        return expr.otherwise(w)

    def _step_4(w, r2):
        sufs = ("ement", "ance", "ence", "able", "ible", "ment", "ent",
                "ant", "ism", "ate", "iti", "ous", "ive", "ize", "al",
                "er", "ic")
        expr = None
        for suf in sufs:
            branch = F.when(in_region(w, len(suf), r2),
                            chop(w, len(suf))).otherwise(w)
            expr = F.when(ends(w, suf), branch) if expr is None \
                else expr.when(ends(w, suf), branch)
        expr = expr.when(
            ends(w, "ion"),
            F.when(in_region(w, 3, r2) & last(w, 4).isin("s", "t"),
                   chop(w, 3)).otherwise(w))
        return expr.otherwise(w)

    def _step_5(w, r1, r2):
        e_del = (in_region(w, 1, r2)
                 | (in_region(w, 1, r1)
                    & ~_let(chop(w, 1), ends_short_syllable)))
        return (
            F.when(ends(w, "e"),
                   F.when(e_del, chop(w, 1)).otherwise(w))
             .when(ends(w, "ll") & in_region(w, 1, r2), chop(w, 1))
             .otherwise(w))

    def root(w0):
        return (
            F.when(F.length(w0) <= 2, w0)
             .when(F.element_at(exc1, w0).isNotNull(),
                   F.element_at(exc1, w0))
             .otherwise(F.regexp_replace(pipeline(w0), "Y", "y")))

    return _let(word, root)
