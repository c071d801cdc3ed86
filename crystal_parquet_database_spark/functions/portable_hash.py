"""Portable (Spark ⇄ DuckDB bit-identical) hashing primitives.

Engine-native hashes (Spark xxhash64 / murmur3, DuckDB hash()) use different
algorithms, so dedup operators that must verify against the oracle build on
md5, which both engines implement identically: take the first 15 hex chars
(60 bits — fits a signed int64), convert to bigint, reduce mod a 31-bit prime
so affine MinHash transforms (a*h + b) never overflow int64.

All integer arithmetic here is exact in both engines; constants are inlined
into the generated oracle SQL so both sides compute the same function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime). Hash values land in [0, P); affine coefficients
# are < P, so a*h + b < 2^62 — safe in int64 in both engines.
P = 2147483647

# Affine MinHash coefficients — fixed, deterministic, coprime-ish with P.
# (P is prime, so any a != 0 is invertible — these are just odd spread values.)
N_MINHASH = 32


def minhash_coeffs(n: int = N_MINHASH) -> list[tuple[int, int]]:
    return [
        ((2 * j + 1) * 1103515245 % P, (j * 12345 + 67890) % P)
        for j in range(n)
    ]


def spark_hash64(c: Column) -> Column:
    """md5 → first 15 hex chars → bigint, mod P. Matches ``sql_hash64``."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint") % P


def sql_hash64(expr: str) -> str:
    """DuckDB expression equal to ``spark_hash64`` for the same input."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT % {P})"


def spark_shingles(c: Column, k: int = 5) -> Column:
    """Distinct character k-gram shingles (order-insensitive downstream).
    NULL text yields [] — array_compact drops the NULL element the transform
    produces, because the SQL mirror's list_distinct drops NULLs while
    Spark's array_distinct KEEPS them: without the compact the two sides
    return [NULL] vs [] for the same NULL document, and any direct consumer
    of the pair diverges (current consumers only masked it by re-filtering
    NULL hashes downstream)."""
    return F.array_compact(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))),
                lambda i: c.substr(i, F.lit(k)),
            )
        )
    )


def sql_shingles(expr: str, k: int = 5) -> str:
    """DuckDB expression equal to ``spark_shingles`` — including for NULL
    input, where list_distinct's NULL-dropping matches the array_compact."""
    return (
        f"list_distinct([substring({expr}, i, {k}) "
        f"for i in generate_series(1, greatest(len({expr}) - {k - 1}, 1))])"
    )


# Cross-engine whitespace, ONE definition: Java regex \s (Spark's split)
# includes vertical tab \x0b; RE2 \s (DuckDB's string_split_regex) does
# not — 'a\x0bb' would tokenize differently per engine and flip every
# word-level oracle hash. The Spark side therefore uses this EXPLICIT class,
# which is exactly RE2's \s set, so the '\s+' the generated SQL uses means
# the same thing.
#
# TRIM is the same trap one function over (caught by the
# tokenizer-parity property test on random strings): DuckDB's ONE-ARG
# trim() strips UNICODE whitespace (NBSP and friends — routine padding in
# scraped HTML) while Spark's F.trim strips the ASCII space only, so a
# trailing NBSP changed the last token on one engine only. Every generated
# SQL here (and every hand-written oracle) therefore spells the two-arg
# form trim(x, ' ') — byte-equal to F.trim.
WS_RE = "[ \t\n\f\r]+"


def _gram(toks: Column, n: int):
    """The word n-gram concatenation shape, ONE definition: space-joined
    element_at chain over 1-based token index i. Shared by
    ``spark_word_shingles`` and ``spark_word_ngrams`` — the shape must stay
    byte-equivalent to ``_sql_gram`` below for every word-level oracle hash
    to keep matching, so it must not exist as per-function hand copies."""

    def gram(i: Column) -> Column:
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + F.lit(j)))
        return F.concat(*parts)

    return gram


def _sql_gram(n: int) -> str:
    """DuckDB expression equal to ``_gram`` over a token list aliased ``w``."""
    return " || ' ' || ".join(f"w[i + {j}]" if j else "w[i]" for j in range(n))


def spark_word_shingles(c: Column, n: int = 3, toks: Column | None = None) -> Column:
    """Distinct word n-gram shingles — the right unit for document dedup:
    char k-grams over a shared vocabulary give every pair ~0.2 background
    Jaccard (measured on the fixtures), word n-grams give ~0, so LSH
    candidate sets stay near the true near-dup set.

    Short texts (< n tokens) fall back to one whole-text shingle — avoids
    null shingles, whose dedup semantics differ between engines.

    PERF: pass ``toks`` as a *materialized* column when possible. Inlining the
    split into the transform lambda makes Catalyst re-split the text for every
    element_at — measured ~3× slower end-to-end on the fixture corpus."""
    if toks is None:
        toks = F.split(F.trim(c), WS_RE)

    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)), _gram(toks, n))
        ),
    ).otherwise(F.array(F.trim(c)))


def sql_word_shingles(expr: str, n: int = 3) -> str:
    """DuckDB expression equal to ``spark_word_shingles``."""
    w = rf"string_split_regex(trim({expr}, ' '), '\s+')"
    gram = _sql_gram(n)
    return (
        f"(SELECT CASE WHEN len(w) >= {n} THEN "
        f"list_distinct([{gram} for i in generate_series(1, len(w) - {n - 1})]) "
        f"ELSE [trim({expr}, ' ')] END FROM (SELECT {w} AS w))"
    )


def spark_word_ngrams(c: Column, n: int = 2, toks: Column | None = None) -> Column:
    """NON-distinct word n-grams (every occurrence kept) — the unit for
    frequency counting (corpus n-gram statistics), unlike
    ``spark_word_shingles`` which deduplicates for set-similarity. Texts
    shorter than ``n`` tokens contribute nothing (empty array), so counts are
    pure occurrence counts. Matches ``sql_word_ngrams``."""
    if toks is None:
        toks = F.split(F.trim(c), WS_RE)

    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)), _gram(toks, n)),
    ).otherwise(F.array().cast("array<string>"))


def sql_word_ngrams(expr: str, n: int = 2) -> str:
    """DuckDB expression equal to ``spark_word_ngrams``."""
    w = rf"string_split_regex(trim({expr}, ' '), '\s+')"
    gram = _sql_gram(n)
    return (
        f"(SELECT CASE WHEN len(w) >= {n} THEN "
        f"[{gram} for i in generate_series(1, len(w) - {n - 1})] "
        f"ELSE [] END FROM (SELECT {w} AS w))"
    )


def spark_hash_raw60(c: Column) -> Column:
    """Full-width 60-bit hash (first 15 md5 hex chars, NO mod-P reduction).

    MinHash needs hashes < P so affine transforms can't overflow int64;
    SimHash needs every fingerprint bit position to carry entropy — a mod-P
    value is < 2^31, so bits 31+ of a "wide" fingerprint built from it are
    identically zero (caught by the 10x scale probe as a single hot LSH band
    bucket holding the whole corpus). Matches ``sql_hash_raw60``.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def sql_hash_raw60(expr: str) -> str:
    """DuckDB expression equal to ``spark_hash_raw60`` for the same input."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
