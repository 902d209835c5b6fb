"""Deterministic hashing primitives, all NATIVE column expressions.

Everything here compiles to JVM expressions (md5/conv/bit ops) so the hot
path stays inside whole-stage codegen — no Python. The md5-based 60-bit
hash is chosen (over xxhash64/murmur) because it is reproducible in ANSI
SQL engines (DuckDB oracle: cast(('0x'||substr(md5(x),1,15)) as bigint)),
making every dedup operator hash-verifiable by the driver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_col(col: Column) -> Column:
    """Per-row content fingerprint (BASELINE.json input_hint invariant)."""
    return F.sha2(col, 256)


def md5_long(col: Column) -> Column:
    """First 15 hex chars of md5 → non-negative 60-bit bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


AFFINE_MOD = 2147483647  # 2^31 - 1 (Mersenne prime)


def affine_hash_family(col: Column, seed: int) -> Column:
    """Cheap universal-hash family over ONE base md5: h_i = (a_i·h + b_i)
    mod (2^31-1), h = md5_long(x) mod M. One md5 per value instead of K —
    the standard MinHash trick; all operands fit in a BIGINT so the
    expression is exact in any SQL engine."""
    a = 2 * seed + 1
    b = seed * seed + 1
    base = md5_long(col) % AFFINE_MOD
    return (base * a + b) % AFFINE_MOD


def char_ngrams(col: Column, n: int) -> Column:
    """Array of character n-grams (shingles) of a string — native.

    Uses sequence+transform: positions 1..len-n+1, substring at each.
    """
    count = F.length(col) - F.lit(n - 1)
    return F.when(count <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), count), lambda i: col.substr(i, F.lit(n)))
    )


def edge_ngrams(col: Column, min_n: int = 3, max_n: int = 10) -> Column:
    """Array of leading prefixes (edge n-grams) of a string — native.

    Mirrors the ES edge-ngram analyzer behind `get-ngram-matches`
    (reference wikifier/wikifier.py:85-87): prefixes of length
    min_n..min(max_n, len).
    """
    hi = F.least(F.length(col), F.lit(max_n))
    return F.when(hi < min_n, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(min_n), hi), lambda i: col.substr(F.lit(1), i))
    )
