"""Broadcast Bloom-filter membership pre-filter for incremental dedup.

The daily-ingest problem at 100 TB: a new batch of documents must be checked
against an existing deduplicated store. The exact answer is a left-anti join
on the content key, but that shuffles the ENTIRE new batch against the
corpus even though, on a typical day, almost none of the new rows are
duplicates. A Bloom filter built once over the corpus keys and broadcast to
every executor classifies each new row map-side:

  - bloom says ABSENT  -> definitely not in the corpus (no false negatives):
    the row is kept immediately, no shuffle, no join.
  - bloom says PRESENT -> maybe in the corpus (false-positive rate `fpp`):
    only these rows proceed to the exact anti join.

The final result is therefore EXACTLY equal to the plain anti join — the
filter only prunes the join input — which is what makes this operator
oracle-verifiable while still being approximate inside.

Scale design:
  - All hashing is JVM-side (`xxhash64` with per-probe seeds); Python sees
    only precomputed bit positions through an Arrow-batched pandas_udf doing
    vectorized numpy bitset lookups (no per-row Python, no hash
    reimplementation that could drift from the JVM).
  - The bitset is built distributed and SPARSELY: positions are aggregated
    per 64-bit word with `bit_or` (one shuffle of at most `num_bits/64`
    rows), so the driver collects only words that have at least one set bit
    — unlike `DataFrame.stat.bloomFilter`, whose treeAggregate ships a
    full-size bitset per partial. Driver + executor memory is
    `num_bits / 8` bytes for the dense broadcast (64 MiB at 2^29 bits).
  - Sizing: bits ≈ 1.44 * n_keys * log2(1/fpp); probes k ≈ 0.7 * bits/n.
    `suggest_params` computes both.

The reference engine (chmp/framequery) has no dedup surface at all; this is
part of the beyond-parity LLM-pipeline suite (SURVEY.md §2 addendum).
"""

from __future__ import annotations

import math
from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cache import broadcast_tracked

__all__ = ["suggest_params", "build_bloom_words", "bloom_dedup_against"]

# Hard cap on the dense bitset the driver materializes and broadcasts
# (2^32 bits = 512 MiB). Past this, a broadcast bloom is the wrong tool —
# shard the corpus and run per-shard filters instead.
_MAX_BITS = 1 << 32


def suggest_params(n_keys: int, fpp: float = 0.01) -> Tuple[int, int]:
    """(num_bits, num_hashes) for an expected key count and target
    false-positive rate, per the standard Bloom formulas."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n_keys = max(1, n_keys)
    num_bits = int(math.ceil(1.44 * n_keys * math.log2(1.0 / fpp)))
    num_bits = max(64, min(num_bits, _MAX_BITS))
    num_hashes = max(1, int(round(0.693 * num_bits / n_keys)))
    return num_bits, min(num_hashes, 16)


def _positions(keys: List[str], num_bits: int, num_hashes: int,
               seed: int) -> Column:
    """array<bigint> of `num_hashes` bit positions for a row's key columns.

    Each probe hashes the key columns plus a distinct literal seed through
    JVM xxhash64, then folds into [0, num_bits). Entirely codegen'd; the
    same expression is used for both build and probe sides, so positions
    can never drift between them."""
    cols = [F.col(k) for k in keys]
    return F.array(*[
        F.pmod(F.xxhash64(*cols, F.lit(seed + i)), F.lit(num_bits))
        for i in range(num_hashes)
    ])


def build_bloom_words(corpus: DataFrame, keys: List[str], num_bits: int,
                      num_hashes: int, seed: int = 42) -> np.ndarray:
    """Dense uint64 bitset (length ceil(num_bits/64)) with every probe
    position of every corpus key set. Distributed build: explode positions,
    aggregate per 64-bit word with bit_or (<= num_bits/64 result rows),
    collect only non-zero words."""
    if num_bits < 64 or num_bits > _MAX_BITS:
        raise ValueError(
            f"num_bits must be in [64, {_MAX_BITS}], got {num_bits} "
            "(a broadcast bloom beyond 512 MiB is the wrong tool — shard "
            "the corpus instead)")
    pos = (corpus
           .select(F.explode(_positions(keys, num_bits, num_hashes, seed))
                   .alias("pos")))
    words = (pos
             .select(F.shiftright("pos", 6).alias("w"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(pos % 64 AS INT))").alias("bit"))
             .groupBy("w")
             .agg(F.bit_or("bit").alias("word"))
             .collect())
    n_words = (num_bits + 63) // 64
    bits = np.zeros(n_words, dtype=np.uint64)
    for row in words:
        bits[row["w"]] = np.uint64(row["word"] & 0xFFFFFFFFFFFFFFFF)
    return bits


def bloom_dedup_against(new: DataFrame, corpus: DataFrame, keys: List[str],
                        num_bits: int = 1 << 22, num_hashes: int = 5,
                        seed: int = 42) -> DataFrame:
    """Rows of `new` whose key columns do not appear in `corpus` — exactly
    `new LEFT ANTI JOIN corpus ON keys`, but with a broadcast Bloom filter
    classifying most rows map-side so only bloom-positive rows (true dups +
    an `fpp` fraction of false positives) reach the shuffle join.

    Key columns must be non-null on both sides (xxhash64 of NULL collides
    for all rows; SQL anti-join semantics for NULL keys keep the row, which
    the bloom path also does only if positions still miss) — pre-filter
    nulls if the key is nullable. The bitset broadcast is registered with
    operators.cache, so release_cached() unpersists it.
    """
    bits = build_bloom_words(corpus, keys, num_bits, num_hashes, seed)
    bc = broadcast_tracked(new.sparkSession, bits)

    @F.pandas_udf("boolean")
    def might_contain(pos_ser: pd.Series) -> pd.Series:
        bitset = bc.value
        if len(pos_ser) == 0:
            return pd.Series([], dtype=bool)
        arr = np.vstack(pos_ser.to_numpy()).astype(np.uint64)
        w = bitset[(arr >> np.uint64(6)).astype(np.int64)]
        hit = (w >> (arr & np.uint64(63))) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    pos = _positions(keys, num_bits, num_hashes, seed)
    flagged = new.withColumn("__bloom_might", might_contain(pos))
    definite = flagged.filter(~F.col("__bloom_might")).drop("__bloom_might")
    candidates = flagged.filter(F.col("__bloom_might")).drop("__bloom_might")
    survivors = candidates.join(corpus.select(*keys).distinct(),
                                on=keys, how="left_anti")
    return definite.unionByName(survivors)
