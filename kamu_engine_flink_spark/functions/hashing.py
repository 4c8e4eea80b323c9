"""Shingling, MinHash, and SimHash building blocks.

JVM-side only: xxhash64 (fast 64-bit hash, seedable) for internal
signatures, md5 where a cross-engine-reproducible hash is needed. MinHash
math: for k independent hash functions we use xxhash64 with seeds 0..k-1
(Spark's xxhash64 takes a seed via the second arg pattern
xxhash64(col, lit(seed)) hashing the pair — equivalent to salting).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_ngrams(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (joined with single spaces) of a token array."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tokens_col) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(tokens_col, i + 1, n)),
        )
    )


_LONG_MAX = (1 << 63) - 1


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """array<long> MinHash signature: element i = min over shingles of
    xxhash64(i, shingle) — xxhash64 over the (seed, value) pair gives k
    independent hash families from one JVM hash function.

    Shape matters: a SINGLE fold with an array<long> accumulator
    (per shingle: k hashes zipped with running minima). The naive form —
    k separate array_min(transform(...)) branches — builds a k-wide
    expression tree that takes Catalyst minutes to analyze/codegen."""
    init = F.array_repeat(F.lit(_LONG_MAX).cast("bigint"), num_hashes)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc, F.transform(seeds, lambda i: F.xxhash64(i, s)), lambda a, b: F.least(a, b)
        ),
    )


def lsh_bands(signature: Column, bands: int) -> Column:
    """Split a signature into `bands` equal slices and hash each ->
    array<struct<band:int, key:long>> for bucket joins."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            signature,
                            b * (F.size(signature) / bands).cast("int") + 1,
                            (F.size(signature) / bands).cast("int"),
                        ),
                        lambda v: v.cast("string"),
                    ),
                )
            ).alias("key"),
        ),
    )


def simhash64(tokens_col: Column) -> Column:
    """64-bit SimHash of a token array, as BIGINT. Bit b of the result is
    set iff the sum over tokens of ±1 (sign of bit b of xxhash64(token))
    is positive.

    Single fold with an array<long> accumulator of 64 running bit-sums
    (per token: hash once, unpack its 64 bits, zip-add), then one packing
    fold. The naive 64-separate-aggregates form explodes Catalyst
    analysis/codegen time."""
    bit_idx = F.sequence(F.lit(0), F.lit(63))
    # Single-bit masks; bit 63 as the negative two's-complement long since
    # 1<<63 overflows a signed literal. Doubles as the packing addend table.
    powers = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("bigint") for b in range(64)]
    )
    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")

    def _add_token(acc, t):
        h = F.xxhash64(t)
        # Bit test via mask AND (shift functions require literal amounts,
        # but bitwiseAND accepts a column-valued mask).
        signs = F.transform(
            bit_idx,
            lambda b: F.when(h.bitwiseAND(F.element_at(powers, b + 1)) != 0, one).otherwise(-one),
        )
        return F.zip_with(acc, signs, lambda a, s: a + s)

    sums = F.aggregate(
        tokens_col, F.array_repeat(F.lit(0).cast("bigint"), 64), _add_token
    )
    # Pack bit-sums into one long. The sums subtree is bound ONCE as a
    # lambda variable (single-element array fold) so it isn't re-evaluated
    # or re-embedded per bit.
    return F.aggregate(
        F.array(sums),
        zero,
        lambda acc, sarr: F.aggregate(
            bit_idx,
            acc,
            lambda a2, b: a2
            + F.when(F.element_at(sarr, b + 1) > 0, F.element_at(powers, b + 1)).otherwise(zero),
        ),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))
