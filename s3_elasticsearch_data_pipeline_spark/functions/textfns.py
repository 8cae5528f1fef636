"""Text scalar functions — tokenization, normalization, shingling,
fingerprints. Pure built-in expressions (codegen'd, no UDFs); each has
an exact ANSI-SQL twin so the DuckDB oracle can replicate it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def normalize(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip everything
    but [a-z0-9 ], collapse whitespace, trim."""
    lowered = F.lower(text)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (md5 is available verbatim in DuckDB → oracle-exact)."""
    return F.md5(normalize(text))


def word_ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) from a token-array
    COLUMN, built with ``transform`` over an index sequence — no
    explode, no shuffle.

    ``toks`` must be a column reference (not an inline ``tokens(text)``
    expression): the lambda references it ~3n times, and Spark performs
    no common-subexpression elimination inside higher-order functions —
    an inlined regex split would be recomputed per element_at, turning
    shingling O(tokens × shingles). A multiply-referenced alias survives
    CollapseProject, so the array materializes once per row.
    """
    # 1-based element_at; i ranges over each valid shingle start. The
    # short-text guard matters: Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0], not an empty array.
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k) for k in range(n)]))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)) \
            .otherwise(F.array().cast("array<string>"))


# Polynomial rolling-hash parameters (Rabin–Karp / Karp–Rabin string
# fingerprinting): a large prime modulus keeps every intermediate
# product under 2^63 (acc < 1e9+7, acc*131 + 0x10FFFF < 1.4e11), so
# the fold is exact under ANSI mode and reproducible in any engine
# with 64-bit integer arithmetic.
ROLLING_HASH_MOD = 1_000_000_007
ROLLING_HASH_BASE = 131


def rolling_hash(text: Column) -> Column:
    """Order-sensitive polynomial fingerprint of the raw text:
    fold (acc*BASE + codepoint) % MOD over the characters. Unlike the
    md5 fingerprint this is incrementally maintainable (a sliding
    window can roll in O(1) per step), which is why training pipelines
    use it for chunk-level fingerprints. Codepoint-based, so ASCII and
    BMP scripts hash identically across engines."""
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_HASH_BASE + c) % ROLLING_HASH_MOD)
