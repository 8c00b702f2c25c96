"""Text feature expressions: tokenization, shingles, MinHash columns
(SURVEY §2.11 X2/X3). Pure column expressions over a text column.

The MinHash family is md5-based: h_j(S) = MIN over s∈S of
md5('<j>|' || s). Lexicographic min over uniformly-distributed hex
digests is a valid min-hash permutation, and md5 is identical across
engines — which is what lets the DuckDB oracle run the same algorithm.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_set(text: Column, sep: str = " ") -> Column:
    """Distinct tokens."""
    return F.array_distinct(F.split(text, sep))


def char_shingles(text: Column, n: int = 4) -> Column:
    """Distinct character n-grams; empty when the text is shorter than n.
    DuckDB mirror: list_distinct(list_transform(range(1, len(t)-n+2),
    i -> substring(t, i, n)))."""
    idx = F.sequence(F.lit(1), F.length(text) - (n - 1))
    grams = F.transform(idx, lambda i: F.substring(text, i, n))
    return F.when(F.length(text) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# Fixed 60-bit xor seeds (golden-ratio multiples truncated to 60 bits):
# one md5 per token, then h_j = base ^ seed_j. On uniformly-hashed
# inputs the xor family behaves as a random permutation per seed — the
# standard cheap minhash family (one digest instead of num_hashes
# digests per token).
def xor_seed(j: int) -> int:
    return (j * 0x9E3779B97F4A7C15) % (1 << 60)


def token_hash_int(token: Column) -> Column:
    """First 60 bits of md5(token) as a non-negative bigint — identical
    in DuckDB as ('0x' || substring(md5(t),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(token), 1, 15), 16, 10).cast("bigint")


def token_hash_int_fast(token: Column) -> Column:
    """Low 60 bits of xxhash64(token) — the production hash family.

    xxHash64 is a single 64-bit mixing pass inside whole-stage codegen;
    md5 is a full cryptographic digest plus hex-string materialization
    and base-16 parse. Both are uniform enough for minhash, so at
    corpus scale this family is the default (the md5 family exists for
    DuckDB-reproducible oracles only — DuckDB has no xxHash64). Masking
    to 60 bits keeps values non-negative and in the same domain as
    :func:`token_hash_int`, so the xor-seed trick applies unchanged."""
    return F.xxhash64(token).bitwiseAND(F.lit((1 << 60) - 1))


def minhash_array_columns(token_hashes: Column, num_hashes: int) -> list[Column]:
    """Shuffle-free minhash: ``array_min`` over the per-token xor'd hash
    ints — a pure projection per document, same values as a per-hash
    ``MIN`` after explode/groupBy. ``token_hashes`` is
    the materialized ``transform(tokens, token_hash_int)`` array column
    (materialize it in its own ``select`` so the md5s are computed once,
    not once per hash function)."""
    return [
        F.array_min(
            F.transform(token_hashes, lambda h: h.bitwiseXOR(F.lit(xor_seed(j))))
        ).alias(f"h{j}")
        for j in range(num_hashes)
    ]


def sql_minhash_exprs(token_expr: str, num_hashes: int) -> list[str]:
    """DuckDB aggregates ``MIN(md5_int(token) ^ seed_j)`` per hash
    function, to run after exploding tokens: the same values as
    :func:`minhash_array_columns`."""
    base = f"(('0x' || substring(md5({token_expr}), 1, 15))::BIGINT)"
    return [
        f"MIN(xor({base}, {xor_seed(j)})) AS h{j}" for j in range(num_hashes)
    ]
