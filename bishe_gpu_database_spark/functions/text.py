"""Text primitives shared by dedup / text-analysis operators.

All expressions are built-in (codegen'd) column functions — no Python in
the hot path — and every one has a documented ANSI-SQL equivalent used by
the DuckDB oracles, so results are bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# Minhash modulus: 2^31 - 1 (Mersenne prime). a*x+b stays < 2^53 for
# 48-bit x and small a, so the arithmetic is exact in doubles *and* int64
# — portable to any engine.
MINHASH_PRIME = 2_147_483_647


def norm_text(col) -> F.Column:
    """lower + whitespace collapse + trim.
    SQL: trim(regexp_replace(lower(t), '\\s+', ' ', 'g'))"""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col) -> F.Column:
    """Whitespace tokenization of normalized text.
    SQL: string_split(norm, ' ')"""
    return F.split(norm_text(col), " ")


def h48(col) -> F.Column:
    """48-bit integer from md5 hex — the portable hash.
    SQL: ('0x' || substr(md5(x), 1, 12))::BIGINT"""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def shingles_of(toks, n: int = 5) -> F.Column:
    """Distinct n-word shingles from an already-computed token array.
    Pass an *attribute* (materialized column), not an expression: ``toks``
    is referenced per shingle position inside the lambda, and higher-order
    functions are interpreted without subexpression elimination — an
    inline split/regexp here is O(len²) per document.
    SQL: list_distinct(list_transform(generate_series(1, len(words)-n+1),
         i -> array_to_string(words[i:i+n-1], ' ')))"""
    # Guard: Spark's sequence(1, 0) is DESCENDING [1, 0] (DuckDB's
    # generate_series(1, 0) is empty) — docs shorter than n words must
    # yield an empty array, not a slice(toks, 0, …) crash.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def minhash_sig_value(x_col, i_col) -> F.Column:
    """Universal-hash family h_i(x) = ((2i+1)·x + 1000003·i) mod p over
    48-bit shingle hashes. Exact in int64; identical in ANSI SQL."""
    a = i_col * 2 + 1
    b = i_col * 1_000_003
    return (a * x_col + b) % F.lit(MINHASH_PRIME)


def minhash_sigs_of(xs, n_hashes: int) -> F.Column:
    """MinHash signature array from a *materialized* array column of
    48-bit shingle hashes: one fold over xs with an n_hashes-wide
    running-min accumulator. Single pass — the naive
    ``transform(0..n-1, i -> array_min(transform(xs, …)))`` re-evaluates
    the xs expression once per hash id (HOF lambdas are interpreted, no
    CSE), a 16× blowup at n_hashes=16."""
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("bigint"), n_hashes)
    return F.aggregate(
        xs,
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda m, i: F.least(m, minhash_sig_value(x, i.cast("bigint"))),
        ),
    )
