"""pg_trgm-style trigram similarity (beyond-reference pg extension surface).

PostgreSQL's most-used fuzzy-matching extension, re-expressed as pure JVM
Column expressions (split + substr + array HOFs — no UDFs, row-local,
composable under filters and joins):

- ``show_trgm(text)`` — the sorted distinct trigram set: words are the
  maximal ascii-alphanumeric runs of the lowercased text, each padded with
  two leading and one trailing space before 3-char windows are taken
  (pg_trgm's padding; 'word' -> {"  w"," wo","ord","rd ","wor"}).
- ``similarity(a, b)`` — trigram-set Jaccard |A∩B| / |A∪B|; the ``%``
  operator is similarity >= 0.3 (pg_trgm.similarity_threshold default).
- ``word_similarity(a, b)`` — greatest Jaccard between A's trigram set and
  any CONTINUOUS EXTENT of B's ordered trigram sequence (pg docs example:
  word_similarity('word', 'two words') = 0.8); ``<%`` / ``%>`` are the
  0.6-threshold operators (pg_trgm.word_similarity_threshold default).
- ``strict_word_similarity(a, b)`` — extents snap to word boundaries
  (strict_word_similarity('word', 'two words') = 4/7); ``<<%`` / ``%>>``
  use the 0.5 default threshold.

Scale/complexity contract: show_trgm / similarity / ``%`` are O(len) per
row — safe in any scan or join filter. word_similarity maximizes over
extent windows: O(shared^2) windows each paying an O(window) distinct —
fine for the short-string fuzzy-match shape it exists for (names, titles,
query strings); do NOT put it over multi-KB document columns (use the
dedup/minhash operators for that shape). Only the maximal ascii [a-z0-9]
runs count as words (pg uses the locale's isalnum; our testdata contract
is ascii — documented deviation for non-ascii letters).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import _let

SIMILARITY_THRESHOLD = 0.3
WORD_SIMILARITY_THRESHOLD = 0.6
STRICT_WORD_SIMILARITY_THRESHOLD = 0.5


def _words(text: Column) -> Column:
    """Lowercased ascii-alphanumeric word runs, in order."""
    cleaned = F.regexp_replace(F.lower(text.cast("string")),
                               "[^a-z0-9]+", " ")
    return F.filter(F.split(cleaned, " "), lambda w: w != "")


def _word_trigrams(w: Column) -> Column:
    """Ordered trigrams of one word after pg_trgm padding ('  w' + ' ')."""
    return _let(
        F.concat(F.lit("  "), w, F.lit(" ")),
        lambda padded: F.transform(
            F.sequence(F.lit(1), F.length(padded) - 2),
            lambda i: padded.substr(i, F.lit(3))))


def ordered_trigrams(text: Column) -> Column:
    """All trigrams in word order WITH duplicates (the extent domain of
    word_similarity)."""
    return F.flatten(F.transform(_words(text), _word_trigrams))


def trigram_array(text: Column) -> Column:
    """pg show_trgm: sorted distinct trigrams. NULL in -> NULL out.

    Single codegen'd regexp_extract_all pass (r12): words joined with
    THREE spaces + the '  '/' ' outer pads make every per-word padded
    window a 3-char substring of one string, and a window is a real
    trigram iff its last two chars are not both spaces (cross-word
    windows are 'x  ' / '   ', which that test rejects). Value-identical
    to the per-word interpreted-HOF form it replaces (ordered_trigrams
    stays HOF for word_similarity's extent logic)."""
    norm = F.trim(F.regexp_replace(F.lower(text.cast("string")),
                                   "[^a-z0-9]+", " "))
    padded = F.concat(F.lit("  "), F.regexp_replace(norm, " ", "   "),
                      F.lit(" "))
    wins = F.regexp_extract_all(padded,
                                F.lit(r"(?=(.([^ ].|.[^ ])))"), 1)
    return F.array_sort(F.array_distinct(wins))


def similarity(a: Column, b: Column) -> Column:
    """Trigram-set Jaccard as a double in [0, 1] (pg returns real; the
    compiler casts at the boundary — keeping double here makes the %
    threshold comparison engine-exact)."""

    def body(t1: Column) -> Column:
        def inner(t2: Column) -> Column:
            inter = F.size(F.array_intersect(t1, t2))
            denom = F.size(t1) + F.size(t2) - inter
            return F.when(denom > 0,
                          inter.cast("double") / denom.cast("double")) \
                    .otherwise(F.lit(0.0))

        return _let(trigram_array(b), inner)

    return _let(trigram_array(a), body)


def similarity_match(a: Column, b: Column) -> Column:
    """pg `a % b`: similarity over the default 0.3 threshold."""
    return similarity(a, b) >= F.lit(SIMILARITY_THRESHOLD)


def _best_extent(t1: Column, windows: Column, extent_of) -> Column:
    """Max Jaccard between the t1 set and extent_of(i, j) over all index
    pairs i <= j drawn from `windows` (an int array). Pure fold."""
    n1 = F.size(t1)

    def over_j(i: Column) -> Column:
        def one(acc: Column, j: Column) -> Column:
            def jac(ext: Column) -> Column:
                inter = F.size(F.array_intersect(ext, t1))
                return inter.cast("double") \
                    / (n1 + F.size(ext) - inter).cast("double")

            score = _let(extent_of(i, j), jac)
            return F.when(j < i, acc).otherwise(F.greatest(acc, score))

        return F.aggregate(windows, F.lit(0.0), one)

    return F.aggregate(
        windows, F.lit(0.0),
        lambda acc, i: F.greatest(acc, over_j(i)))


def word_similarity(a: Column, b: Column) -> Column:
    """pg word_similarity: max Jaccard between a's trigram set and a
    continuous extent of b's ordered trigram sequence. Optimal extents
    start and end at SHARED trigram positions (unshared endpoints only
    grow the denominator), so the search runs over shared positions
    only."""

    def body(t1: Column) -> Column:
        def inner(t2: Column) -> Column:
            idx = F.when(F.size(t2) > 0,
                         F.sequence(F.lit(0), F.size(t2) - 1)) \
                   .otherwise(F.array().cast("array<int>"))
            shared = F.filter(
                idx, lambda i: F.array_contains(t1, F.get(t2, i)))

            def extent(i: Column, j: Column) -> Column:
                return F.array_distinct(F.slice(t2, i + 1, j - i + 1))

            return _let(shared,
                        lambda sh: _best_extent(t1, sh, extent))

        return _let(ordered_trigrams(b), inner)

    return _let(trigram_array(a), body)


def strict_word_similarity(a: Column, b: Column) -> Column:
    """pg strict_word_similarity: extents snap to word boundaries — the
    max Jaccard between a's trigram set and the union trigram set of any
    consecutive word run of b."""

    def body(t1: Column) -> Column:
        def inner(wt: Column) -> Column:
            idx = F.when(F.size(wt) > 0,
                         F.sequence(F.lit(0), F.size(wt) - 1)) \
                   .otherwise(F.array().cast("array<int>"))

            def extent(i: Column, j: Column) -> Column:
                return F.array_distinct(
                    F.flatten(F.slice(wt, i + 1, j - i + 1)))

            return _let(idx, lambda ix: _best_extent(t1, ix, extent))

        # per-word trigram lists (kept per word so extents align to words)
        return _let(F.transform(_words(b), _word_trigrams), inner)

    return _let(trigram_array(a), body)


def word_similarity_match(a: Column, b: Column,
                          strict: bool = False) -> Column:
    """pg `a <% b` (and `a <<% b`): word similarity over the default
    threshold; `%>` / `%>>` are the argument-swapped spellings handled at
    parse time."""
    if strict:
        return strict_word_similarity(a, b) \
            >= F.lit(STRICT_WORD_SIMILARITY_THRESHOLD)
    return word_similarity(a, b) >= F.lit(WORD_SIMILARITY_THRESHOLD)
