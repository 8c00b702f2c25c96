"""Remaining training-pipeline operators: embedding-cosine near-dup,
character-n-gram Jaccard near-dup, deterministic hash splits, explicit
GROUPING SETS.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.functions.arrays import cosine, sign_bucket
from ua2sql_spark.functions.text import char_shingles, xor_seed
from ua2sql_spark.queries.common import sql_dsum, dsum
from ua2sql_spark.queries.similarity import _sql_cosine
from ua2sql_spark.registry import query


# ---------------------------------------------------------------------------
# X2c: embedding-cosine near-duplicate pairs — sign-LSH bucket blocking
# (8 dims → 256 buckets) then a cosine-threshold verify inside buckets
# only. Threshold 0.3 is calibrated to this corpus (random vectors:
# pairwise cosine tops out ~0.6); real near-dup corpora would use ~0.95
# with more bucket bits.
# Recall is the LSH's (high for near-identical vectors, which agree on
# sign bits); deterministically mirrored in the oracle.
# ---------------------------------------------------------------------------
_NEARDUP_BUCKET_DIMS = 8
_NEARDUP_THRESHOLD = 0.3

_BUCKET16_SQL = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(_NEARDUP_BUCKET_DIMS)
)


@query(
    "x68_embedding_neardup",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               CAST({_BUCKET16_SQL} AS BIGINT) AS bucket
        FROM embeddings
    )
    SELECT vec_a, vec_b, cos_sim FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= {_NEARDUP_THRESHOLD}
    """,
)
def x68_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), _NEARDUP_BUCKET_DIMS).alias("bucket")
    )
    left = b.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("bucket").alias("bucket_r"),
    )
    pairs = left.join(
        right,
        (F.col("bucket") == F.col("bucket_r")) & (F.col("vec_a") < F.col("vec_b")),
    ).select(
        "vec_a",
        "vec_b",
        F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= _NEARDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# X2d: character-4-gram Jaccard near-dup via the tokenizer-pluggable
# MinHash-LSH operator (char grams catch word-reordering and small edits
# that word sets miss).
# ---------------------------------------------------------------------------
_CG_N = 4
_CG_HASHES = 16
_CG_BAND = 8
_CG_THRESHOLD = 0.9


def _sql_char_minhash() -> list[str]:
    base = "(('0x' || substring(md5(g), 1, 15))::BIGINT)"
    return [f"MIN(xor({base}, {xor_seed(j)})) AS h{j}" for j in range(_CG_HASHES)]


@query(
    "x69_ngram_jaccard_neardup",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(text) - {_CG_N} + 2), i -> substring(text, i, {_CG_N})
               ))) AS g
        FROM documents WHERE len(text) >= {_CG_N}
    ),
    mh AS (
        SELECT doc_id, {', '.join(_sql_char_minhash())} FROM grams GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, 1 AS band_no,
               md5(concat_ws('|', h0, h1, h2, h3, h4, h5, h6, h7)) AS band_hash FROM mh
        UNION ALL
        SELECT doc_id, 2 AS band_no,
               md5(concat_ws('|', h8, h9, h10, h11, h12, h13, h14, h15)) AS band_hash FROM mh
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_no = b.band_no AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    sets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(text) - {_CG_N} + 2), i -> substring(text, i, {_CG_N})
               )) AS gs
        FROM documents WHERE len(text) >= {_CG_N}
    )
    SELECT doc_a, doc_b, jaccard FROM (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(x.gs, y.gs)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.gs, y.gs))) AS jaccard
        FROM cand JOIN sets x ON doc_a = x.doc_id JOIN sets y ON doc_b = y.doc_id
    ) WHERE jaccard >= {_CG_THRESHOLD}
    """,
)
def x69_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.dedup import minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= _CG_N)
    return minhash_lsh_pairs(
        d,
        id_col="doc_id",
        text_col="text",
        num_hashes=_CG_HASHES,
        band_size=_CG_BAND,
        threshold=_CG_THRESHOLD,
        tokenizer=lambda c: char_shingles(c, _CG_N),
        hash_family="md5",  # pinned: the DuckDB oracle replays these digests
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard")


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: stable under re-runs and
# repartitioning (content-hash assignment, not randomSplit).
# ---------------------------------------------------------------------------
@query(
    "x70_hash_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100)
                   AS bucket
        FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs FROM (
        SELECT lang,
               CASE WHEN bucket < 10 THEN 'val'
                    WHEN bucket < 20 THEN 'test'
                    ELSE 'train' END AS split
        FROM assigned
    ) GROUP BY split
    """,
)
def x70_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.split import hash_split

    d = load_table(spark, sf_dir, "documents")
    return (
        hash_split(d, key_col="doc_id", val_pct=10, test_pct=10)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# X5c: IVF-style ANN — coarse cells via deterministic centroids, probe
# only the query's own cell. The scale path beyond x46's sign-LSH.
# ---------------------------------------------------------------------------
_IVF_STRIDE = 25
_IVF_PROBE = 10
_IVF_K = 5


@query(
    "x71_ivf_ann",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS cid, embedding AS cemb
        FROM embeddings WHERE vec_id % {_IVF_STRIDE} = 0
    ),
    assign AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT e.vec_id, e.embedding, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_sql_cosine('e.embedding', 'c.cemb')}, 6) DESC,
                                c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               ROUND({_sql_cosine('q.embedding', 'n.embedding')}, 6) AS cos_sim
        FROM assign q JOIN assign n
          ON q.cell = n.cell AND q.vec_id <> n.vec_id
        WHERE q.vec_id < {_IVF_PROBE}
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, neighbor_id) AS rnk
        FROM pairs
    ) WHERE rnk <= {_IVF_K}
    """,
)
def x71_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.ivf import ivf_assign, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, centroid_stride=_IVF_STRIDE)
    queries = emb.filter(F.col("vec_id") < _IVF_PROBE).select("vec_id")
    return ivf_topk(assigned, queries, k=_IVF_K)


# ---------------------------------------------------------------------------
# X-chunking: fixed-window overlapping character chunks with offsets —
# the "split documents into training sequences" op. Pure sequence/
# posexplode composition; chunk content carried as md5 so the result
# stays narrow.
# ---------------------------------------------------------------------------
_CHUNK_LEN = 128
_CHUNK_STRIDE = 96


@query(
    "x72_doc_chunks",
    oracle=f"""
    SELECT doc_id,
           CAST((start_pos - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_no,
           CAST(start_pos AS BIGINT) AS chunk_start,
           CAST(length(substring(text, CAST(start_pos AS INT), {_CHUNK_LEN})) AS BIGINT)
               AS chunk_len,
           md5(substring(text, CAST(start_pos AS INT), {_CHUNK_LEN})) AS chunk_hash
    FROM (
        SELECT doc_id, text,
               unnest(range(1, len(text) + 1, {_CHUNK_STRIDE})) AS start_pos
        FROM documents WHERE len(text) > 0
    )
    """,
)
def x72_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.sequence(F.lit(1), F.length("text"), F.lit(_CHUNK_STRIDE))
    exploded = d.select(
        "doc_id", "text", F.explode(starts).alias("start_pos")
    )
    chunk = F.substring(F.col("text"), F.col("start_pos"), _CHUNK_LEN)
    return exploded.select(
        "doc_id",
        ((F.col("start_pos") - 1) / _CHUNK_STRIDE).cast("bigint").alias("chunk_no"),
        F.col("start_pos").cast("bigint").alias("chunk_start"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# A5c: explicit GROUPING SETS through the SQL entry.
# ---------------------------------------------------------------------------
@query(
    "q68_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q68_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,8))) AS STRING) AS DOUBLE) AS total_price
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# [EXT] Token-sequence packing (operators/pack.py): concat-and-chunk the
# corpus token stream into fixed 64-token training sequences in doc_id
# order; one output row per (document × sequence) overlap. The engine
# side runs the two-phase distributed prefix sum; the oracle computes
# the same assignment with a single global window (fine at sf0.01,
# exactly what the distributed scan avoids at 100 TB).
# ---------------------------------------------------------------------------
_PACK_LEN = 64


@query(
    "x97_sequence_pack",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS s
        FROM t
    )
    SELECT doc_id,
           CAST(u.k AS BIGINT) AS seq_id,
           CAST(GREATEST(s, u.k * {_PACK_LEN}) - u.k * {_PACK_LEN} AS BIGINT) AS seq_offset,
           CAST(LEAST(s + n, (u.k + 1) * {_PACK_LEN})
                - GREATEST(s, u.k * {_PACK_LEN}) AS BIGINT) AS n_tokens
    FROM c, UNNEST(generate_series(s // {_PACK_LEN}, (s + n - 1) // {_PACK_LEN})) AS u(k)
    WHERE n > 0
    """,
)
def x97_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.pack import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    return pack_sequences(d, order_col="doc_id", ntok_col="n_tok", max_len=_PACK_LEN)


# ---------------------------------------------------------------------------
# [EXT] End-to-end corpus-cleaning pass: the composition a training-data
# prep job actually runs — exact-dedup first-copy survivorship THEN the
# quality gate (length + lexical diversity), one output row per
# surviving document. Physical shape: one narrow projection computes
# hash + features in-scan, one window keyed by the content hash picks
# first copies (uniform 256-bit key → no skew), the quality gate is a
# residual filter — no second pass over text.
# ---------------------------------------------------------------------------
@query(
    "x98_corpus_clean",
    oracle="""
    WITH feats AS (
        SELECT doc_id, lang,
               sha256(text) AS sha,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
    ),
    first_copy AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sha ORDER BY doc_id) AS rn
        FROM feats
    )
    SELECT doc_id, lang, n_words, ROUND(uniq_ratio, 6) AS uniq_ratio
    FROM first_copy
    WHERE rn = 1 AND n_words >= 20 AND uniq_ratio >= 0.2
    """,
)
def x98_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    feats = d.select(
        "doc_id",
        "lang",
        F.sha2(F.col("text"), 256).alias("sha"),
        F.size(words).cast("bigint").alias("n_words"),
        (F.size(F.array_distinct(words)).cast("double") / F.size(words)).alias(
            "uniq_ratio"
        ),
    )
    w = Window.partitionBy("sha").orderBy("doc_id")
    return (
        feats.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("n_words") >= 20)
            & (F.col("uniq_ratio") >= 0.2)
        )
        .select("doc_id", "lang", "n_words", F.round("uniq_ratio", 6).alias("uniq_ratio"))
    )


# ---------------------------------------------------------------------------
# [EXT] Domain-mixture sampling: downsample each language toward a
# target mix with a DETERMINISTIC per-doc coin — the first 4 hex digits
# of md5(doc_id) compared against the weight's hex cutoff. Lexicographic
# order on lowercase hex == numeric order, and both engines emit
# identical digests, so the sample is reproducible across engines,
# reruns, and partitionings (the property `sample()` lacks). Map-only:
# no shuffle anywhere.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS = {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.25, "zh": 0.125}


def _cutoff_hex(w: float) -> str:
    return format(min(65535, int(w * 65536)), "04x")


@query(
    "x99_domain_mix",
    oracle=f"""
    WITH coin AS (
        SELECT doc_id, lang,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
               CASE lang
                   {' '.join(f"WHEN '{k}' THEN '{_cutoff_hex(v)}'" for k, v in _MIX_WEIGHTS.items())}
                   ELSE '0000'
               END AS cutoff
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM coin WHERE h < cutoff OR cutoff = 'ffff'
    GROUP BY lang
    """,
)
def x99_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    cutoff = F.lit("0000")
    for k, v in _MIX_WEIGHTS.items():
        cutoff = F.when(F.col("lang") == k, F.lit(_cutoff_hex(v))).otherwise(cutoff)
    keep = (h < cutoff) | (cutoff == "ffff")
    return (
        d.select("doc_id", "lang", h.alias("h"), cutoff.alias("cutoff"))
        .filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle (x104) — "shuffle the corpus once per
# epoch" with a rerun-stable order: position = rank of md5('42|'||id).
# Complements x109_train_shuffle (a top-k PREVIEW of the same order):
# this one assigns every row its global position. The naive plan is a
# GLOBAL row_number window — a single-partition sort that dies at
# scale. This implementation buckets by the first 2 hex chars of the
# same hash (256 uniform buckets): per-bucket row_numbers run in
# parallel, bucket offsets come from a 256-row cumulative sum broadcast
# back. Because the bucket is a *prefix* of the sort key, (bucket,
# hash, id) order ≡ (hash, id) order — so the oracle can be the plain
# global row_number while the engine never materializes a global sort
# partition.
# ---------------------------------------------------------------------------
@query(
    "x104_global_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS pos
    FROM documents
    """,
)
def x104_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.ordering import hash_ordered

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return hash_ordered(d, "doc_id", seed="42")


# ---------------------------------------------------------------------------
# Embedding int8 quantization (x112) — the storage/serving compression
# step for embedding columns: symmetric per-vector scale (amax/127),
# q_i = round(x_i / scale). Pure array higher-order projection — zero
# shuffles, zero Python — so it runs at scan speed over any corpus.
# Both engines do the identical double-precision IEEE ops, so the
# quantized checksums compare bit-exact. Zero vectors quantize via
# scale=1 (guard: ANSI mode would overflow casting round(0/0)=inf).
# ---------------------------------------------------------------------------
@query(
    "x112_embedding_quantize",
    oracle="""
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r,
           CAST(len(q) AS BIGINT) AS n_dims,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           CAST(list_max(q) AS BIGINT) AS q_max
    FROM (
        SELECT vec_id,
               scale,
               list_transform(embedding,
                              x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INTEGER)) AS q
        FROM (
            SELECT vec_id, embedding,
                   CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
            FROM (
                SELECT vec_id, embedding,
                       list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
                FROM embeddings
            )
        )
    )
    """,
)
def x112_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    amax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    with_scale = emb.select(
        "vec_id",
        "embedding",
        F.when(amax == 0, F.lit(1.0)).otherwise(amax / 127.0).alias("scale"),
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
    )
    return with_scale.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.size(F.col("embedding")).cast("bigint").alias("n_dims"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda acc, v: acc + v.cast("bigint")
        ).alias("q_sum"),
        F.array_max(q).cast("bigint").alias("q_max"),
    )


# ---------------------------------------------------------------------------
# x131: temperature-based language rebalancing — the mT5/CC-100 recipe:
# sample language l at rate ∝ p_l^alpha (alpha<1 upweights tails), so
# low-resource languages keep proportionally more documents. Unlike
# x99's FIXED mixture weights, the rates here are TRAINED from the
# corpus itself (one count aggregate), then quantized to a 16-bit
# cutoff compared against each document's md5 coin — so the keep/drop
# decision is pure integer/string comparison, deterministic across
# engines, reruns, and partitionings. The only cross-libm exposure is
# POW inside the cutoff computation, quantized away by the 16-bit
# floor (a mismatch needs the rate within one double ulp of a 1/65536
# grid line, across 5 languages).
# Scale: counts aggregate = |languages| rows broadcast back; the
# keep/drop pass is map-only on the corpus scan.
# ---------------------------------------------------------------------------
_TEMP_ALPHA = 0.3


@query(
    "x131_temperature_resample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
        FROM documents GROUP BY lang
    ),
    weights AS (
        SELECT lang, n_total,
               POW(CAST(n_total AS DOUBLE) / (SELECT SUM(n_total) FROM counts),
                   {_TEMP_ALPHA} - 1.0) AS w
        FROM counts
    ),
    cuts AS (
        SELECT lang, n_total,
               CAST(LEAST(65536,
                    FLOOR(w / (SELECT MAX(w) FROM weights) * 65536))
                    AS BIGINT) AS cutoff
        FROM weights
    )
    SELECT d.lang,
           MAX(c.n_total) AS n_total,
           CAST(COUNT(*) FILTER (
               WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                     < printf('%04x', c.cutoff)
                  OR c.cutoff = 65536
           ) AS BIGINT) AS n_kept,
           MAX(c.cutoff) AS cutoff_16bit
    FROM documents d JOIN cuts c USING (lang)
    GROUP BY d.lang
    """,
)
def x131_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    total = counts.agg(F.sum("n_total").alias("grand"))
    weights = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_total",
        F.pow(
            F.col("n_total").cast("double") / F.col("grand"),
            F.lit(_TEMP_ALPHA - 1.0),
        ).alias("w"),
    )
    wmax = weights.agg(F.max("w").alias("wmax"))
    cuts = weights.crossJoin(F.broadcast(wmax)).select(
        "lang",
        "n_total",
        F.least(F.lit(65536), F.floor(F.col("w") / F.col("wmax") * 65536))
        .cast("bigint")
        .alias("cutoff"),
    )
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    keep = (coin < F.format_string("%04x", F.col("cutoff"))) | (
        F.col("cutoff") == 65536
    )
    return (
        d.join(F.broadcast(cuts), "lang")
        .groupBy("lang")
        .agg(
            F.max("n_total").alias("n_total"),
            F.count(F.when(keep, 1)).cast("bigint").alias("n_kept"),
            F.max("cutoff").alias("cutoff_16bit"),
        )
    )


# ---------------------------------------------------------------------------
# x155: classifier calibration — the precision/recall operating curve of
# the x127 quality classifier against a ground-truth label, the
# threshold-picking step every filtered 100 TB corpus build runs before
# committing to a keep-cutoff. SCALE SHAPE: the curve is computed from a
# HISTOGRAM, never a global sort — scores bucket into B=100 fixed-width
# bins (map-only), one tiny aggregate shuffle produces (bin, n, n_pos),
# and the cumulative precision/recall window runs over ≤100 bin rows
# (a single trivially-small partition), so the corpus-side cost is one
# scan + one B-row exchange regardless of N. Counts are integer-exact;
# ratios round to 6 — bit-stable across engines and partitionings.
# Ground truth here is lang='en' (a deterministic, engine-independent
# label); the score is x127's logistic computed IN-PLAN (no Python).
#
# DETERMINISM (driver-red r7 AND r8 — the family's hard-won rule): NO
# derived float may appear in a hash-checked column, and no expensive
# expression may sit where a HOF lambda can inline it. r7's red was the
# EXP transcendental in the bin key; r8 removed it and was STILL red —
# localizing the divergence to the hashed ROUND(double,6) ratio columns
# (Spark BigDecimal-HALF_UP vs the driver DuckDB build's float-multiply
# round) and/or FMA contraction of the 7-op float chain z. r8 also
# shipped a 25x perf bomb: the 99-edge HOF lambda referenced z, so
# Catalyst inlined split/array_distinct into the lambda and re-ran them
# per edge per row, interpreted.
#
# The v3 contract is ALL-INTEGER end to end (VERDICT r8 #1):
#   z >= edge_k  <=>  100*nw*z >= 100*nw*edge_k   (nw >= 1)
#   with Z := 100*nw*z = 2*nw^2 + 150*uq - 80*st - 50*nw  (exact BIGINT)
#   and edge_k frozen at micro precision E_k := round(logit(k/B)*1e6),
#   giving the engine-free boundary   Z*1000000 >= E_k*100*nw.
# E_k IS the definition of the bin boundary (not an approximation of
# one): both engines compare the same integers, so ties are impossible
# to disagree on. Outputs are integers only — threshold_pct is the bin
# index itself, precision/recall are ppm via integer division (DuckDB
# `//`, Spark `DIV`), bit-identical everywhere.
#
# PLAN SHAPE (kills the HOF re-evaluation class structurally): the
# corpus projection computes ONLY the integer features (nw, uq, st,
# pos) and immediately aggregates on them — split()/array_distinct()
# run exactly once per row, below an Aggregate barrier that no lambda
# can inline through. The 99-edge HOF then runs on the feature
# histogram (distinct (nw,uq,st) combos, << corpus), where the lambda
# can only capture three integer attribute refs. Max integer magnitude:
# Z*1e6 ~ 2e6*nw^2 -> safe to nw ~ 2e6 words/doc.
# ---------------------------------------------------------------------------
_PRC_BINS = 100
# E_k = round(logit(k/B) * 1e6): integer micro-logit bin edges, the
# frozen cross-engine boundary constants (ascending in k).
_PRC_EDGES_INT: tuple[int, ...] = tuple(
    round(math.log(k / (_PRC_BINS - k)) * 1_000_000)
    for k in range(1, _PRC_BINS)
)
_PRC_EDGES_INT_SQL = ", ".join(str(e) for e in _PRC_EDGES_INT)


@query(
    "x155_pr_calibration",
    oracle=f"""
    WITH feats AS (
        SELECT CAST(lang = 'en' AS BIGINT) AS pos,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uq,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a'))) AS BIGINT) AS st
        FROM documents
    ),
    fh AS (
        SELECT nw, uq, st,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(pos) AS BIGINT) AS pos_n
        FROM feats GROUP BY nw, uq, st
    ),
    scored AS (
        SELECT CAST(len(list_filter(
                   [{_PRC_EDGES_INT_SQL}],
                   e -> (2*nw*nw + 150*uq - 80*st - 50*nw) * 1000000
                        >= e * 100 * nw)) AS INTEGER) AS bin,
               cnt, pos_n
        FROM fh
    ),
    hist AS (
        SELECT bin,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(pos_n) AS BIGINT) AS n_pos
        FROM scored GROUP BY bin
    )
    SELECT bin,
           CAST(bin AS BIGINT) AS threshold_pct,
           n, n_pos,
           CAST(SUM(n) OVER w AS BIGINT) AS cum_n,
           CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
           CAST((1000000 * CAST(SUM(n_pos) OVER w AS BIGINT))
                // CAST(SUM(n) OVER w AS BIGINT) AS BIGINT)
               AS precision_ppm,
           CAST((1000000 * CAST(SUM(n_pos) OVER w AS BIGINT))
                // CAST(SUM(n_pos) OVER () AS BIGINT) AS BIGINT)
               AS recall_ppm
    FROM hist
    WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """,
)
def x155_pr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    # Integer features only below the aggregation barrier: the expensive
    # text expressions run exactly once per corpus row and can never be
    # inlined into the edge lambda (an Aggregate is project-opaque).
    feats = d.select(
        F.size(ws).cast("long").alias("nw"),
        F.size(F.array_distinct(ws)).cast("long").alias("uq"),
        F.size(F.filter(ws, lambda w: w.isin("the", "a")))
        .cast("long")
        .alias("st"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    fh = feats.groupBy("nw", "uq", "st").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos_n"),
    )
    nw, uq, st = F.col("nw"), F.col("uq"), F.col("st")
    zs = (2 * nw * nw + 150 * uq - 80 * st - 50 * nw) * 1_000_000
    edges = F.array(*[F.lit(e) for e in _PRC_EDGES_INT])
    binc = F.size(F.filter(edges, lambda e: zs >= e * 100 * nw)).cast("int")
    hist = (
        fh.select(binc.alias("bin"), "cnt", "pos_n")
        .groupBy("bin")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("pos_n").cast("long").alias("n_pos"),
        )
    )
    # ≤ B rows past this point: the windows run on a bounded frame
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return (
        hist.select(
            "bin",
            F.col("bin").cast("long").alias("threshold_pct"),
            "n",
            "n_pos",
            F.sum("n").over(w).alias("cum_n"),
            F.sum("n_pos").over(w).alias("cum_pos"),
            F.sum("n_pos").over(wall).alias("_total_pos"),
        )
        .select(
            "bin",
            "threshold_pct",
            "n",
            "n_pos",
            "cum_n",
            "cum_pos",
            F.expr("(1000000 * cum_pos) DIV cum_n").alias("precision_ppm"),
            F.expr("(1000000 * cum_pos) DIV _total_pos").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# x156: stratified exact-k sampling — "exactly K eval docs per
# language, deterministic forever": the eval-set construction step
# (x99/x131 sample by RATE; benchmark suites need exact COUNTS). Rank
# within each stratum by an md5 coin keyed on (seed | doc_id) — the
# x104 deterministic-shuffle coin — and keep rank ≤ K. Catalyst
# rewrites the row_number+filter to WindowGroupLimit (per-partition
# top-k BEFORE the stratum shuffle, operators/topk.py), so no stratum
# ever fully sorts and a skewed stratum ships at most K·partitions
# candidate rows — the q25 discipline applied to sampling.
# ---------------------------------------------------------------------------
_STRAT_K = 40
_STRAT_SEED = "eval-v1|"


@query(
    "x156_stratified_exact_sample",
    oracle=f"""
    SELECT lang, doc_id, coin_rank FROM (
        SELECT lang, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5('{_STRAT_SEED}' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS coin_rank
        FROM documents
    ) WHERE coin_rank <= {_STRAT_K}
    """,
)
def x156_stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.topk import top_k_per_group

    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    coin = F.md5(F.concat(F.lit(_STRAT_SEED), F.col("doc_id").cast("string")))
    return top_k_per_group(
        d,
        ["lang"],
        [coin.asc(), F.col("doc_id").asc()],
        _STRAT_K,
        rank_col="coin_rank",
    ).select("lang", "doc_id", F.col("coin_rank").cast("long"))


# ---------------------------------------------------------------------------
# P7: weighted sampling WITHOUT replacement — the Efraimidis–Spirakis
# exponential race (Inf. Proc. Letters 2006): each row draws a
# deterministic md5-uniform u and races with key = -ln(u) / w; the K
# smallest keys ARE a weighted sample without replacement. This is how
# a curation pipeline takes "5k docs, long documents proportionally
# more likely" in ONE distributed pass: no sequential draws, no
# rejection loop, rerun/partitioning/engine-stable because u comes
# from content (md5), not an RNG.
#
# Scale shape: map-only key computation, then TakeOrderedAndProject —
# the global top-K never sorts the corpus. Determinism: ln(u) rounded
# at 6dp before the divide (the x125 log-rounding pattern), doc_id
# tiebreak.
# ---------------------------------------------------------------------------
_WS_K = 50
_HEX15 = 1152921504606846976  # 16^15: the md5-prefix integer range


@query(
    "x162_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               -ROUND(LN((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                               AS DOUBLE) + 0.5) / {_HEX15}), 6) / n_chars AS k
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, ROUND(k, 12) AS race_key
    FROM keyed
    ORDER BY k, doc_id
    LIMIT {_WS_K}
    """,
)
def x162_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(_HEX15)
    k = -F.round(F.log(u), 6) / F.col("n_chars")
    keyed = d.select(
        "doc_id", "lang", "n_chars", k.alias("k")
    )
    return (
        keyed.orderBy("k", "doc_id")
        .limit(_WS_K)
        .select("doc_id", "lang", "n_chars", F.round("k", 12).alias("race_key"))
    )


# ---------------------------------------------------------------------------
# X2j: SemDeDup — semantic deduplication the way the pruning literature
# does it (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
# space into coarse cells, then inside each cell drop every vector that
# has a LOWER-id neighbor with cosine >= tau (min-id survivor, the same
# one-hop rule as the text dedup tiers). Complements x68: sign-LSH
# blocks by bit agreement (recall bounded by the hash family), SemDeDup
# blocks by nearest-centroid cell — the shape that scales to "prune 50%
# of LAION" because the pairwise work is confined to cells.
#
# 100 TB shape: centroids broadcast (K fixed by the index build, as in
# x121's corpus-sized stride), assignment is a map-side crossJoin +
# per-vector top-1 — the corpus never shuffles until the per-cell
# self-join, which shuffles on cell id and does |cell|^2 work per cell;
# K is chosen so |cell| ~ N/K stays ~10^3 (the paper's regime), making
# each cell's pair block ~10^6 — task-sized, no global pair explosion.
# Demo stride 25 mirrors the oracle literally; production sizes K off
# the corpus count exactly as x121 does.
# ---------------------------------------------------------------------------
_SEMDEDUP_STRIDE = 25
_SEMDEDUP_TAU = 0.3  # x68's corpus calibration: random 64-d cosines top out ~0.6


@query(
    "x174_semdedup",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS cid, embedding AS cemb FROM embeddings
        WHERE vec_id % {_SEMDEDUP_STRIDE} = 0
    ),
    ranked AS (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND({_sql_cosine('e.embedding', 'c.cemb')}, 6) DESC,
                            c.cid) AS rn
        FROM embeddings e CROSS JOIN centroids c
    ),
    assign AS (
        SELECT vec_id, embedding, cid AS cell FROM ranked WHERE rn = 1
    ),
    removed AS (
        SELECT DISTINCT b.vec_id
        FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) >= {_SEMDEDUP_TAU}
    )
    SELECT s.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(r.vec_id) AS BIGINT) AS n_removed,
           ROUND(CAST(COUNT(*) - COUNT(r.vec_id) AS DOUBLE) / COUNT(*), 4) AS keep_frac
    FROM assign s LEFT JOIN removed r ON s.vec_id = r.vec_id
    GROUP BY s.cell
    ORDER BY s.cell
    """,
)
def x174_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.ivf import ivf_assign

    from ua2sql_spark.functions.arrays import dot, sq_norm

    emb = load_table(spark, sf_dir, "embeddings", rebalance=True)
    # Materialized once (norm included, so the per-pair cosine below is
    # one array fold, not three — same float ops as the oracle's
    # formula, see ivf_assign): the assignment feeds BOTH sides of the
    # per-cell self-join and the final per-cell rollup.
    assigned = (
        ivf_assign(emb, centroid_stride=_SEMDEDUP_STRIDE)
        .withColumn("__norm", F.sqrt(sq_norm(F.col("embedding"))))
        .localCheckpoint(eager=False)
    )
    left = assigned.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("__norm").alias("na"),
        "cell",
    )
    right = assigned.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("__norm").alias("nb"),
        F.col("cell").alias("cell_r"),
    )
    removed = (
        left.join(
            right, (F.col("cell") == F.col("cell_r")) & (F.col("va") < F.col("vb"))
        )
        .filter(
            F.round(
                dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
            )
            >= _SEMDEDUP_TAU
        )
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("rm", F.lit(1))
    )
    return (
        assigned.join(removed, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("rm").alias("n_removed"),
        )
        .select(
            "cell",
            "n_vecs",
            "n_removed",
            F.round(
                (F.col("n_vecs") - F.col("n_removed")).cast("double")
                / F.col("n_vecs"),
                4,
            ).alias("keep_frac"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# X2k: dataset profiling — the deequ-Profiler counterpart of x157's
# declared-constraint gate: x157 verifies expectations someone WROTE,
# x175 computes the statistics you write them FROM (per-column
# completeness, cardinality, range, mean). ONE scan, ONE aggregate row
# fanned out to per-column rows; the multi-COUNT(DISTINCT) costs one
# Expand (x|columns| rows map-side) — the standard profiler trade,
# acceptable because the profiled column set is fixed and small. At
# 100 TB the same shape runs with approx_count_distinct (the q123 HLL
# family) to drop the Expand; exact distincts here keep the oracle
# bit-checkable.
# ---------------------------------------------------------------------------
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "x175_column_profile",
    oracle=f"""
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(o_custkey) AS nn_ck, COUNT(DISTINCT o_custkey) AS nd_ck,
               MIN(o_custkey) AS mn_ck, MAX(o_custkey) AS mx_ck,
               {sql_dsum('o_custkey')} AS s_ck,
               COUNT(o_orderstatus) AS nn_st, COUNT(DISTINCT o_orderstatus) AS nd_st,
               MIN(o_orderstatus) AS mn_st, MAX(o_orderstatus) AS mx_st,
               COUNT(o_totalprice) AS nn_tp, COUNT(DISTINCT o_totalprice) AS nd_tp,
               MIN(o_totalprice) AS mn_tp, MAX(o_totalprice) AS mx_tp,
               {sql_dsum('o_totalprice')} AS s_tp,
               COUNT(o_orderdate) AS nn_od, COUNT(DISTINCT o_orderdate) AS nd_od,
               strftime(MIN(o_orderdate), '{_TS_FMT_DUCK}') AS mn_od,
               strftime(MAX(o_orderdate), '{_TS_FMT_DUCK}') AS mx_od,
               COUNT(o_orderpriority) AS nn_op, COUNT(DISTINCT o_orderpriority) AS nd_op,
               MIN(o_orderpriority) AS mn_op, MAX(o_orderpriority) AS mx_op
        FROM orders
    )
    SELECT 'o_custkey' AS col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows - nn_ck AS BIGINT) AS n_nulls,
           ROUND(CAST(n_rows - nn_ck AS DOUBLE) / n_rows, 4) AS null_frac,
           CAST(nd_ck AS BIGINT) AS n_distinct,
           CAST(mn_ck AS DOUBLE) AS min_num, CAST(mx_ck AS DOUBLE) AS max_num,
           ROUND(s_ck / nn_ck, 4) AS avg_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM s
    UNION ALL
    SELECT 'o_orderstatus', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn_st AS BIGINT),
           ROUND(CAST(n_rows - nn_st AS DOUBLE) / n_rows, 4),
           CAST(nd_st AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           mn_st, mx_st
    FROM s
    UNION ALL
    SELECT 'o_totalprice', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn_tp AS BIGINT),
           ROUND(CAST(n_rows - nn_tp AS DOUBLE) / n_rows, 4),
           CAST(nd_tp AS BIGINT),
           mn_tp, mx_tp, ROUND(s_tp / nn_tp, 4),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM s
    UNION ALL
    SELECT 'o_orderdate', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn_od AS BIGINT),
           ROUND(CAST(n_rows - nn_od AS DOUBLE) / n_rows, 4),
           CAST(nd_od AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           mn_od, mx_od
    FROM s
    UNION ALL
    SELECT 'o_orderpriority', CAST(n_rows AS BIGINT),
           CAST(n_rows - nn_op AS BIGINT),
           ROUND(CAST(n_rows - nn_op AS DOUBLE) / n_rows, 4),
           CAST(nd_op AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           mn_op, mx_op
    FROM s
    ORDER BY col_name
    """,
)
def x175_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders", rebalance=True)
    # Five exact COUNT(DISTINCT)s in one aggregate would plan as a 6x
    # Expand (one row copy per distinct column); splitting each into
    # its own single-distinct aggregate keeps every branch a plain
    # two-level hash aggregate over ONE narrow column, and the 1-row
    # results recombine for free via broadcast nested-loop joins.
    s = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.min("o_custkey").alias("mn_ck"),
        F.max("o_custkey").alias("mx_ck"),
        dsum("o_custkey").alias("s_ck"),
        F.count("o_orderstatus").alias("nn_st"),
        F.min("o_orderstatus").alias("mn_st"),
        F.max("o_orderstatus").alias("mx_st"),
        F.count("o_totalprice").alias("nn_tp"),
        F.min("o_totalprice").alias("mn_tp"),
        F.max("o_totalprice").alias("mx_tp"),
        dsum("o_totalprice").alias("s_tp"),
        F.count("o_orderdate").alias("nn_od"),
        F.date_format(F.min("o_orderdate"), _TS_FMT_SPARK).alias("mn_od"),
        F.date_format(F.max("o_orderdate"), _TS_FMT_SPARK).alias("mx_od"),
        F.count("o_orderpriority").alias("nn_op"),
        F.min("o_orderpriority").alias("mn_op"),
        F.max("o_orderpriority").alias("mx_op"),
    )
    for col, alias in [
        ("o_custkey", "nd_ck"),
        ("o_orderstatus", "nd_st"),
        ("o_totalprice", "nd_tp"),
        ("o_orderdate", "nd_od"),
        ("o_orderpriority", "nd_op"),
    ]:
        s = s.crossJoin(F.broadcast(o.agg(F.countDistinct(col).alias(alias))))
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")

    def prof(name, nn, nd, mn_num, mx_num, avg_num, mn_s, mx_s):
        return F.struct(
            F.lit(name).alias("col_name"),
            (F.col("n_rows") - F.col(nn)).cast("bigint").alias("n_nulls"),
            F.round(
                (F.col("n_rows") - F.col(nn)).cast("double") / F.col("n_rows"), 4
            ).alias("null_frac"),
            F.col(nd).cast("bigint").alias("n_distinct"),
            mn_num.alias("min_num"),
            mx_num.alias("max_num"),
            avg_num.alias("avg_num"),
            mn_s.alias("min_str"),
            mx_s.alias("max_str"),
        )

    rows = F.array(
        prof(
            "o_custkey", "nn_ck", "nd_ck",
            F.col("mn_ck").cast("double"), F.col("mx_ck").cast("double"),
            F.round(F.col("s_ck") / F.col("nn_ck"), 4), null_s, null_s,
        ),
        prof(
            "o_orderstatus", "nn_st", "nd_st",
            null_d, null_d, null_d, F.col("mn_st"), F.col("mx_st"),
        ),
        prof(
            "o_totalprice", "nn_tp", "nd_tp",
            F.col("mn_tp"), F.col("mx_tp"),
            F.round(F.col("s_tp") / F.col("nn_tp"), 4), null_s, null_s,
        ),
        prof(
            "o_orderdate", "nn_od", "nd_od",
            null_d, null_d, null_d, F.col("mn_od"), F.col("mx_od"),
        ),
        prof(
            "o_orderpriority", "nn_op", "nd_op",
            null_d, null_d, null_d, F.col("mn_op"), F.col("mx_op"),
        ),
    )
    return (
        s.select(F.col("n_rows").cast("bigint").alias("n_rows"), F.explode(rows).alias("p"))
        .select(
            "p.col_name", "n_rows", "p.n_nulls", "p.null_frac", "p.n_distinct",
            "p.min_num", "p.max_num", "p.avg_num", "p.min_str", "p.max_str",
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# x193: GROUP-coherent split with leakage audit — the split a real
# pretraining pipeline needs: x70 assigns per-DOCUMENT, which lets
# near-identical pages from one domain straddle train and eval
# (contamination by construction). Keying the same md5 bucket on the
# GROUP (source domain) puts every document of a domain in exactly one
# split — the grouped split of scikit's GroupShuffleSplit / the
# "split by URL host" rule in C4/RefinedWeb — and the audit aggregate
# PROVES the property as data: leaked_domains counts domains seen in
# more than one split and hashes as the constant 0 in both engines.
# Scale shape: assignment is a map-side md5 on a low-cardinality
# column; the audit is one domain-keyed aggregate; per-split stats one
# more. Integer/string outputs only (share as ppm integer division).
# ---------------------------------------------------------------------------
@query(
    "x193_group_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, source,
               CASE WHEN b < 10 THEN 'val'
                    WHEN b < 20 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
            SELECT doc_id, source,
                   (('0x' || substring(md5(source), 1, 15))::BIGINT % 100)
                       AS b
            FROM documents
        )
    ),
    leak AS (
        SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS leaked_domains
        FROM (
            SELECT source, COUNT(DISTINCT split) AS ns
            FROM assigned GROUP BY source
        )
    ),
    per AS (
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_domains
        FROM assigned GROUP BY split
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM per)
    SELECT split, n_docs, n_domains,
           CAST((1000000 * n_docs) // total AS BIGINT) AS share_ppm,
           leaked_domains
    FROM per CROSS JOIN tot CROSS JOIN leak
    """,
)
def x193_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.split import hash_split

    d = load_table(spark, sf_dir, "documents")
    assigned = hash_split(d, key_col="source", val_pct=10, test_pct=10)
    leak = (
        assigned.groupBy("source")
        .agg(F.countDistinct("split").alias("ns"))
        .agg(
            F.sum(F.when(F.col("ns") > 1, 1).otherwise(0))
            .cast("long")
            .alias("leaked_domains")
        )
    )
    per = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_domains"),
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_docs",
            "n_domains",
            F.expr("(1000000 * n_docs) DIV total").alias("share_ppm"),
            "leaked_domains",
        )
    )


# ---------------------------------------------------------------------------
# x210: Benford first-digit audit (round 12) — numeric-column forensics
# for the dataset-audit family (x175 profiles shape, x157 gates
# declared invariants; this one screens a monetary column for the
# fabricated-data / unit-mix-up signature auditors use: a first-
# significant-digit histogram vs Benford's law). At 100 TB the audit
# is one map-side projection + a 9-row aggregate — the cheapest
# anomaly screen a corpus delivery can run.
#
# Determinism: the first significant digit comes from STRING arithmetic
# over FLOOR(x) (integer-to-string renders identically everywhere) —
# never log10 on the data path; the Benford expectations are PINNED
# ppm literals computed once in Python and inlined into BOTH engines'
# plans, so no libm runs anywhere at query time. Deviations are
# integer ppm (the x192 floor-division pattern). TPC-H-ish prices are
# bounded-uniform, NOT Benford — the row's value is the measured
# deviation table itself, hash-pinned.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    d: int(1_000_000 * math.log10(1 + 1 / d)) for d in range(1, 10)
}


@query(
    "x210_benford_digit_audit",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
                                   AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM lineitem
        WHERE l_extendedprice >= 1
    ),
    hist AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM hist),
    expected(digit, expected_ppm) AS (
        VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())}
    )
    SELECT e.digit,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_values,
           CAST((1000000 * COALESCE(h.n, 0)) // t.total AS BIGINT)
               AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(ABS((1000000 * COALESCE(h.n, 0)) // t.total
                    - e.expected_ppm) AS BIGINT) AS deviation_ppm
    FROM expected e LEFT JOIN hist h USING (digit) CROSS JOIN tot t
    ORDER BY e.digit
    """,
)
def x210_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit histogram of l_extendedprice vs Benford's
    law, deviations in integer ppm — the fabricated-data screen."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    hist = (
        li.select(
            F.substring(
                F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = hist.agg(F.sum("n").cast("bigint").alias("total"))
    expected = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "digit bigint, expected_ppm bigint"
    )
    obs_ppm = F.expr("(1000000 * n0) div total").cast("bigint")
    return (
        expected.join(F.broadcast(hist), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n0"),
            "expected_ppm",
            "total",
        )
        .select(
            "digit",
            F.col("n0").alias("n_values"),
            obs_ppm.alias("observed_ppm"),
            F.col("expected_ppm").cast("bigint").alias("expected_ppm"),
            F.abs(
                F.expr("(1000000 * n0) div total") - F.col("expected_ppm")
            )
            .cast("bigint")
            .alias("deviation_ppm"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# x214: train/eval split leakage audit (round 13) — the dedup-aware
# split check every LLM team runs before trusting an eval number:
# exact duplicates that STRADDLE the train/val/test hash split leak
# training text into evaluation ("Deduplicating Training Data Makes
# Language Models Better" measures exactly this overlap). Composes the
# x41/x117 fingerprint substrate with x70's hash split.
#
# The audit NEVER materializes pairs: one fingerprint groupBy yields
# per-split copy counts (a, b, c) per group, and every pair count is
# arithmetic on those — within-split C(k,2), cross-split k_i * k_j —
# so cost is one corpus scan + one fingerprint-keyed shuffle at any
# scale (the pair-free shape that survives a fingerprint with a
# million copies, where a pair join would go quadratic).
# leaky_eval_docs counts the ACTIONABLE unit (val/test docs whose
# fingerprint also occurs in train — the docs to drop); leakage_ppm is
# its integer-floor parts-per-million share of the eval side (the x192
# pattern — no doubles anywhere).
# ---------------------------------------------------------------------------
@query(
    "x214_split_leakage_audit",
    oracle="""
    WITH fp AS (
        SELECT md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS f,
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100) AS bucket
        FROM documents
    ),
    lab AS (
        SELECT f,
               CASE WHEN bucket < 10 THEN 'val'
                    WHEN bucket < 20 THEN 'test'
                    ELSE 'train' END AS split
        FROM fp
    ),
    g AS (
        SELECT f,
               CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS a,
               CAST(COUNT(*) FILTER (WHERE split = 'val') AS BIGINT) AS b,
               CAST(COUNT(*) FILTER (WHERE split = 'test') AS BIGINT) AS c
        FROM lab GROUP BY f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(*) FILTER (WHERE a + b + c > 1) AS BIGINT)
               AS n_dup_fingerprints,
           CAST(SUM(a * (a - 1) / 2) AS BIGINT) AS pairs_within_train,
           CAST(SUM(b * (b - 1) / 2) AS BIGINT) AS pairs_within_val,
           CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS pairs_within_test,
           CAST(SUM(a * (b + c)) AS BIGINT) AS pairs_train_eval,
           CAST(SUM(b * c) AS BIGINT) AS pairs_val_test,
           CAST(SUM(CASE WHEN a > 0 THEN b + c ELSE 0 END) AS BIGINT)
               AS leaky_eval_docs,
           CAST(1000000 * SUM(CASE WHEN a > 0 THEN b + c ELSE 0 END)
                // SUM(b + c) AS BIGINT) AS leakage_ppm
    FROM g
    """,
)
def x214_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup leakage across the train/val/test hash split: pair
    counts and leaky-eval-doc share from per-fingerprint split counts —
    one scan, one fingerprint shuffle, zero pair materialization."""
    from ua2sql_spark.operators.split import hash_split

    d = load_table(spark, sf_dir, "documents")
    fingerprint = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
        )
    )
    lab = hash_split(d, key_col="doc_id", val_pct=10, test_pct=10).select(
        fingerprint.alias("f"), "split"
    )
    cnt = lambda s: F.sum(  # noqa: E731
        F.when(F.col("split") == s, 1).otherwise(0)
    ).cast("bigint")
    g = lab.groupBy("f").agg(
        cnt("train").alias("a"), cnt("val").alias("b"), cnt("test").alias("c")
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    leaky = F.sum(F.when(a > 0, b + c).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.sum(F.when(a + b + c > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_fingerprints"),
        F.sum(a * (a - 1) / 2).cast("bigint").alias("pairs_within_train"),
        F.sum(b * (b - 1) / 2).cast("bigint").alias("pairs_within_val"),
        F.sum(c * (c - 1) / 2).cast("bigint").alias("pairs_within_test"),
        F.sum(a * (b + c)).cast("bigint").alias("pairs_train_eval"),
        F.sum(b * c).cast("bigint").alias("pairs_val_test"),
        leaky.cast("bigint").alias("leaky_eval_docs"),
        F.floor(F.lit(1000000) * leaky / F.sum(b + c))
        .cast("bigint")
        .alias("leakage_ppm"),
    )
