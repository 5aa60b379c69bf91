"""Shared bloom-filter primitives for decontamination.

One bitmap shape serves two consumers: the batch audit query
(``queries/llmdata.contamination_bloom_prefilter``) and the streaming
ingest gate (``streaming/gates.decontamination_gate``). The bitmap is
BOUNDED BY CONSTRUCTION — distinct positions can never exceed ``BLOOM_M``
no matter how large the eval suite grows — so the driver/broadcast cost is
O(M), not O(grams), and the membership test is pure codegen bit arithmetic
(salted-md5 positions, shift/mask per word). Bloom guarantees no false
negatives: a doc admitted by the gate provably shares no 8-gram position
set with the benchmark.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_M = 65536  # bloom bits (2^16 -> 8 KiB bitmap, 1024 longs)
BLOOM_K = 3  # hash functions per gram


def position(k: int, g: Column) -> Column:
    """Salted-md5 bit position for hash k of gram ``g`` (matches the DuckDB
    oracle's ('0x' || substr(md5(k || ':' || g), 1, 8))::BIGINT % M)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{k}:"), g)), 1, 8), 16, 10).cast(
            "long"
        )
        % BLOOM_M
    )


def words_from_positions(positions) -> list[int]:
    """Fold an iterable of bit positions into M/64 signed two's-complement
    longs — the literal-array broadcast shape."""
    words = [0] * (BLOOM_M // 64)
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bitmap_from_grams(grams: DataFrame) -> list[int]:
    """Collect the distinct bloom positions of ``grams.g`` (bounded by M
    rows BY CONSTRUCTION) and fold them into the literal-array shape."""
    prows = (
        grams.select(
            F.explode(
                F.array(*[position(k, F.col("g")) for k in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    return words_from_positions(int(r["pos"]) for r in prows)


def _long_sql(w: int) -> str:
    """SQL bigint literal; Long.MinValue cannot be parsed as a negated
    literal (the positive magnitude overflows first), so spell it as an
    expression."""
    return "(-9223372036854775807L - 1L)" if w == -(1 << 63) else f"{w}L"


def gram_hit(words: list[int], g: Column) -> Column:
    """True iff all BLOOM_K bits for gram ``g`` are set in the literal
    bitmap — composable on a lambda variable, so it runs inside
    ``F.exists``/``F.filter`` over a per-row gram array as pure codegen
    (shiftright/and instead of div/mod: identical values for the
    non-negative positions). The literal array is built as ONE parsed SQL
    string (r12): ``F.array(*[F.lit(w) ...])`` issues a py4j round-trip
    per element — measured 1.0 s of pure driver chatter per call at
    M/64 = 1024 words versus 3 ms for the parsed string; the resulting
    expression tree is identical."""
    bm = F.expr("array(" + ",".join(_long_sql(w) for w in words) + ")")
    terms = []
    for k in range(BLOOM_K):
        p = position(k, g)
        # F.get is 0-based and takes a Column index (element_at/shiftright
        # insist on literals); bit_get reads bit p%64 of the 64-bit word
        word = F.get(bm, (p / F.lit(64)).cast("int"))
        terms.append(F.bit_get(word, p.bitwiseAND(F.lit(63))) == 1)
    return reduce(lambda a, b: a & b, terms)
