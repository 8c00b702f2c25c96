"""Sharded Bloom-filter fingerprint index — the anti-join accelerator
for incremental exact dedup (SURVEY §2.11 X1 at scale).

x117's daily path anti-joins the day's batch against a parquet
fingerprint index. That join is already batch-driven, but it still
shuffles EVERY batch fingerprint to meet the index. A Bloom filter in
front of it (the Delta/Iceberg bloom-index idea applied to the dedup
fingerprint store) lets the overwhelmingly-new majority of a typical
batch skip the join entirely: a fingerprint the bloom does not flag is
DEFINITELY new (no false negatives, by construction), so only the
"maybe" slice — true duplicates plus a tunable false-positive residue —
pays the exact anti-join.

Representation & scale
----------------------
Blooms are SHARDED: shard = md5-hash(fp) mod n_shards, each shard an
independent (m_bits)-bit array stored as 64-bit words in a DataFrame
``(shard, word_idx, bits)``. Sizing is per shard, so capacity scales by
adding shards (at 100 TB: shards ≈ corpus_fps × bits_per_fp / m_bits,
each shard's bitmap a few KiB — the whole index broadcast-joins).
Membership math is md5-derived 60-bit ints (``token_hash_int``), so a
DuckDB oracle replays bit-for-bit; the k probe positions of fp are
``md5int(fp || '|' || i) mod m_bits``.

The probe is one equi-join of the batch's (shard, word_idx) probe rows
against the bloom words (broadcastable by construction) + an all-k-hits
groupBy — never a scan of the fingerprint store. Zero false negatives
is a THEOREM of the construction (every historical position was OR'd
in), and the driver-gated contract (x196) proves it against an
independently-computed exact duplicate count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ua2sql_spark.functions.text import token_hash_int


def _positions(fp: F.Column, k: int, m_bits: int) -> F.Column:
    """Array of the k bloom bit positions of ``fp`` (md5-derived, so
    DuckDB replays them)."""
    return F.array(
        *[
            F.pmod(
                token_hash_int(F.concat(fp, F.lit(f"|{i}"))), F.lit(m_bits)
            )
            for i in range(k)
        ]
    )


def _shard(fp: F.Column, n_shards: int) -> F.Column:
    return F.pmod(token_hash_int(F.concat(fp, F.lit("|s"))), F.lit(n_shards))


def build_bloom_index(
    fps: DataFrame,
    fp_col: str,
    n_shards: int = 4,
    m_bits: int = 1 << 14,
    k: int = 3,
) -> DataFrame:
    """Bloom words ``(shard, word_idx, bits)`` over the fingerprint
    column — one groupBy of the exploded (shard, position) rows; the
    result is (n_shards × m_bits/64)-bounded regardless of corpus
    size."""
    pos = fps.select(
        _shard(F.col(fp_col), n_shards).alias("shard"),
        F.explode(_positions(F.col(fp_col), k, m_bits)).alias("__pos"),
    )
    return (
        pos.select(
            "shard",
            F.expr("__pos DIV 64").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            ).alias("__bit"),
        )
        .groupBy("shard", "word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_maybe(
    batch: DataFrame,
    bloom_words: DataFrame,
    fp_col: str,
    n_shards: int = 4,
    m_bits: int = 1 << 14,
    k: int = 3,
) -> DataFrame:
    """The batch rows the bloom FLAGS (all k bits set) — a superset of
    the true duplicates (zero false negatives by construction); rows
    not returned are definitely new and can skip the exact anti-join.
    One equi-join of k probe rows per fp against the (broadcastable)
    bloom words, then an all-hits groupBy keyed on the fingerprint."""
    probes = (
        batch.select(
            F.col(fp_col),
            _shard(F.col(fp_col), n_shards).alias("shard"),
            F.posexplode(_positions(F.col(fp_col), k, m_bits)).alias(
                "__i", "__pos"
            ),
        )
        .select(
            fp_col,
            "shard",
            "__i",
            F.expr("__pos DIV 64").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))"
            ).alias("__mask"),
        )
        # every probe column is a pure function of the fp, so a batch
        # carrying DUPLICATE fp rows yields exact duplicate probe rows
        # — without this distinct they double the per-fp hit sum and
        # the == k test below would report a flagged fp as "definitely
        # new" (a false negative, the one error class a bloom must
        # never make)
        .distinct()
    )
    hits = (
        probes.join(F.broadcast(bloom_words), ["shard", "word_idx"], "left")
        .withColumn(
            "__hit",
            F.when(
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("__mask")) != 0),
                1,
            ).otherwise(0),
        )
        .groupBy(fp_col)
        .agg(F.sum("__hit").alias("__nhits"))
    )
    return hits.filter(F.col("__nhits") == k).select(fp_col)
