"""Multimodal columns: SURVEY.md §2.11 X6.

Media are opaque ``binary`` payload columns plus typed metadata. The
corpus is text, so x53's image decode and x83's frame sampling are
deterministic stand-ins derived from payload length, which the oracle
replicates in SQL. x153, x180, x187 and x205 build grayscale JPEG, PCM
WAV and grayscale PNG payloads per row with the engine's own encoders
and read them back through the pure-stdlib codecs of
``ua2sql_spark.functions.media``; those codecs accept exactly what the
encoders emit. Everything Spark-side — binary schema, Arrow batching
through ``mapInPandas``, partition-preserving metadata extraction — is
real and oracle-checked.

Each query's per-row Python is a module-level batch function, so
``tests/test_media_codecs.py::test_every_codec_function_runs_under_a_query``
can run it in-process and check that every codec function serves a query.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.functions.jpeg import encode_jpeg
from ua2sql_spark.functions.media import (
    decode_audio_real,
    dhash64,
    encode_exif_app1,
    encode_png_gray,
    fake_sample_frames,
    parse_exif,
    probe_image_dims,
    thumbnail_real,
)
from ua2sql_spark.registry import query


# ---------------------------------------------------------------------------
# X6a: binary payload + typed metadata, all in-plan (no Python). The
# payload here is the utf-8 encoding of `text` standing in for image
# bytes; at scale this column comes from `binaryFile` reads.
# ---------------------------------------------------------------------------
@query(
    "x52_binary_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS payload_bytes,
           sha256(text) AS payload_sha,
           substring(sha256(text), 1, 8) AS shard_key,
           (octet_length(encode(text)) % 640) AS fake_width,
           (octet_length(encode(text)) % 480) AS fake_height
    FROM documents
    """,
)
def x52_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    nbytes = F.octet_length(payload)
    sha = F.sha2(payload, 256)
    return d.select(
        "doc_id",
        nbytes.alias("payload_bytes"),
        sha.alias("payload_sha"),
        F.substring(sha, 1, 8).alias("shard_key"),
        (nbytes % 640).alias("fake_width"),
        (nbytes % 480).alias("fake_height"),
    )


# ---------------------------------------------------------------------------
# X6b: the decode path — Arrow-batched mapInPandas over binary payloads.
# The corpus holds text, not images, so the "decoder" is a deterministic
# stub; the oracle replicates its arithmetic in SQL, so what's
# verified is the full Spark plumbing: binary column in, typed schema
# out, batch-wise pandas execution.
# ---------------------------------------------------------------------------
_DECODE_SCHEMA = "doc_id BIGINT, width INT, height INT, mean_pixel DOUBLE"


def _fake_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in for an image decoder: derives dimensions and
    a 'mean pixel' from payload length alone — vectorized, so the
    oracle-checked hot path stays column-wise."""
    for pdf in batches:
        nbytes = pdf["payload"].map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": (nbytes % 640).astype("int32"),
                "height": (nbytes % 480).astype("int32"),
                "mean_pixel": ((nbytes * 37) % 256).astype("float64") / 255.0,
            }
        )


@query(
    "x53_decode_mapinpandas",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) * 37 % 256 AS DOUBLE) / 255.0 AS mean_pixel
    FROM documents
    """,
)
def x53_decode_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return with_payload.mapInPandas(_fake_decode_batches, schema=_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# X6c: frame sampling — the 1→N multimodal expansion (one video payload
# row out to many sampled-frame rows) through Arrow-batched mapInPandas.
# The fake codec derives frames from payload length (the corpus holds no
# video); the oracle replicates its arithmetic, so the
# verified part is the expansion plumbing: batch in, variable-length
# frame rows out, schema preserved.
# ---------------------------------------------------------------------------
def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            for fr in fake_sample_frames(doc_id, payload):
                rows.append(
                    (doc_id, fr["frame_no"], fr["frame_offset"], fr["frame_hash"])
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_no", "frame_offset", "frame_hash"]
        )


@query(
    "x83_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           CAST(frame_no * 100 AS BIGINT) AS frame_offset,
           md5(doc_id || '|' || frame_no) AS frame_hash
    FROM (
        SELECT doc_id,
               unnest(range(0, octet_length(encode(text)) // 100, 10)) AS frame_no
        FROM documents
    )
    """,
)
def x83_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    with_payload = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return with_payload.mapInPandas(
        _frame_batches,
        schema="doc_id bigint, frame_no bigint, frame_offset bigint, frame_hash string",
    )


# ---------------------------------------------------------------------------
# X6d: EXIF orientation + capture-timestamp extraction. The corpus is
# text, so each doc's payload is a real 8x8 baseline JPEG (the engine's
# encoder) with a per-doc APP1/Exif segment spliced after SOI, tags
# derived deterministically from doc_id in BOTH engines (the x111/x143
# injection pattern): the Spark side round-trips actual EXIF bytes
# through the TIFF-IFD parse and the SOF header walk, and the oracle
# replicates the derivation arithmetic. Map-only: one Arrow-batched
# mapInPandas, no shuffle.
# ---------------------------------------------------------------------------
@lru_cache(maxsize=1)
def _exif_base_jpeg() -> bytes:
    raster = bytes((x * 17 + y * 31) % 256 for y in range(8) for x in range(8))
    return encode_jpeg(8, 8, raster, quality=90)


def _exif_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    base = _exif_base_jpeg()
    for pdf in it:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            dt = f"2024:01:0{i % 9 + 1} 00:00:{i % 60:02d}"
            payload = base[:2] + encode_exif_app1(
                orientation=i % 8 + 1, datetime_original=dt
            ) + base[2:]
            width, height = probe_image_dims(payload)
            exif = parse_exif(payload)
            rows.append(
                (i, width, height, exif["orientation"], exif["datetime_original"])
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "width", "height", "exif_orientation",
                "exif_datetime",
            ],
        )


@query(
    "x153_exif_probe",
    oracle="""
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(doc_id % 8 + 1 AS INTEGER) AS exif_orientation,
           '2024:01:0' || CAST(doc_id % 9 + 1 AS VARCHAR)
               || ' 00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
               AS exif_datetime
    FROM documents
    """,
)
def x153_exif_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id").mapInPandas(
        _exif_batches,
        schema=(
            "doc_id bigint, width int, height int, "
            "exif_orientation int, exif_datetime string"
        ),
    )


# ---------------------------------------------------------------------------
# X6f: audio feature extraction through a REAL encode→decode round
# trip. Each row synthesizes a deterministic 16-bit PCM mono WAV
# (samples from an integer formula on doc_id, so SQL can replay them),
# writes it with the stdlib encoder, then decodes it back through
# ``functions.media.decode_audio_real`` — the same seam a cluster
# binds to libsndfile — inside one Arrow-batched mapInPandas. The
# oracle recomputes every emitted number from the sample formula
# alone, so what the gate verifies is that the WAV bytes on the wire
# round-trip losslessly: a header/byte-order/width bug in either codec
# direction breaks payload_bytes, n_samples, or rms.
#
# All interior arithmetic is integer (sum of s² ≤ n·2048² ≪ 2⁵³, so
# the one cast to double is exact in both engines); rms/duration are
# single correctly-rounded divisions. Scale: map-only per-row Python
# at Arrow batch granularity — the deliberate Python hot path, benched
# alongside x53.
# ---------------------------------------------------------------------------
_AUD_RATE = 16000


def _audio_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = {k: [] for k in
                ("doc_id", "payload_bytes", "channels", "sample_rate",
                 "n_samples", "duration_s", "rms")}
        for doc_id in pdf["doc_id"]:
            doc_id = int(doc_id)
            n = 800 + (doc_id % 7) * 160
            # exact int64 arithmetic — identical values to the naive
            # per-sample loop (and to the oracle's list_transform)
            k = np.arange(n, dtype=np.int64)
            samples = ((doc_id * 131 + k * 17) % 4096) - 2048
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(_AUD_RATE)
                w.writeframes(samples.astype("<i2").tobytes())
            payload = buf.getvalue()
            stats = decode_audio_real(payload)
            rows["doc_id"].append(doc_id)
            rows["payload_bytes"].append(len(payload))
            rows["channels"].append(stats["channels"])
            rows["sample_rate"].append(stats["sample_rate"])
            rows["n_samples"].append(stats["n_samples"])
            rows["duration_s"].append(round(stats["duration_s"], 6))
            rows["rms"].append(round(stats["rms"], 6))
        yield pd.DataFrame(rows)


@query(
    "x180_audio_features",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, 800 + (doc_id % 7) * 160 AS n FROM documents
    ),
    s AS (
        SELECT doc_id, n,
               unnest(list_transform(range(0, n),
                      k -> ((doc_id * 131 + k * 17) % 4096) - 2048)) AS v
        FROM p
    ),
    a AS (
        SELECT doc_id, ANY_VALUE(n) AS n, SUM(v * v) AS ss
        FROM s GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(44 + 2 * n AS BIGINT) AS payload_bytes,
           1 AS channels, {_AUD_RATE} AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           ROUND(CAST(n AS DOUBLE) / {_AUD_RATE}, 6) AS duration_s,
           ROUND(SQRT(CAST(ss AS DOUBLE) / n), 6) AS rms
    FROM a ORDER BY doc_id
    """,
)
def x180_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the projected column is 8 bytes/row — repartition is near-free and
    # spreads the per-row codec work across executors (the table is a
    # handful of files, so the scan alone gives ~1 task)
    return d.select("doc_id").repartition(32, "doc_id").mapInPandas(
        _audio_batches,
        schema=(
            "doc_id bigint, payload_bytes bigint, channels int, "
            "sample_rate int, n_samples bigint, duration_s double, rms double"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# X6g: EXIF-orientation-aware thumbnailing. Each doc synthesizes a real
# asymmetric grayscale JPEG (the engine's encoder, dims derived from
# doc_id) tagged with a per-doc APP1/Exif orientation, then runs the
# thumbnail chain (functions/media.thumbnail_real): decode -> orient
# upright BEFORE the downscale -> aspect-preserving resize -> re-encode.
# The hashed columns are the MEASURED thumb dimensions — integer-exact —
# and the oracle predicts them arithmetically (orientations 5-8 swap
# the visual axes; resize is floor integer scaling), so the whole
# decode/orient/resize geometry is pinned cross-engine without hashing
# codec bytes. Map-only: one Arrow-batched mapInPandas, no shuffle.
# Reference parity: ua2sql.py has no media path; SURVEY §2.11 X6.
# ---------------------------------------------------------------------------
_OT_TARGET = 10


def _thumb_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            w, h = 12 + (i % 3) * 4, 8 + (i % 5) * 2
            raster = bytes(
                (x * 13 + y * 29 + i) % 256 for y in range(h) for x in range(w)
            )
            base = encode_jpeg(w, h, raster, quality=90)
            tagged = base[:2] + encode_exif_app1(i % 8 + 1) + base[2:]
            _, tw, th = thumbnail_real(tagged, _OT_TARGET, quality=85)
            rows.append((i, i % 8 + 1, w, h, tw, th))
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "exif_orientation", "src_w", "src_h",
                "thumb_w", "thumb_h",
            ],
        )


@query(
    "x187_oriented_thumbs",
    oracle=f"""
    WITH spec AS (
        SELECT doc_id,
               CAST(doc_id % 8 + 1 AS INTEGER) AS exif_orientation,
               CAST(12 + (doc_id % 3) * 4 AS INTEGER) AS src_w,
               CAST(8 + (doc_id % 5) * 2 AS INTEGER) AS src_h
        FROM documents
    ),
    vis AS (
        SELECT doc_id, exif_orientation, src_w, src_h,
               CASE WHEN exif_orientation >= 5 THEN src_h ELSE src_w END AS vw,
               CASE WHEN exif_orientation >= 5 THEN src_w ELSE src_h END AS vh
        FROM spec
    )
    SELECT doc_id, exif_orientation, src_w, src_h,
           CAST(vw * {_OT_TARGET} // GREATEST(vw, vh) AS INTEGER) AS thumb_w,
           CAST(vh * {_OT_TARGET} // GREATEST(vw, vh) AS INTEGER) AS thumb_h
    FROM vis
    """,
)
def x187_oriented_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # small parquet scans land in ONE partition; the per-row Python
    # encode->orient->resize->encode chain is the expensive part, so
    # spread it (x180's 6x lesson — the projected column is 8 B/row,
    # the repartition is near-free)
    return d.select("doc_id").repartition(32, "doc_id").mapInPandas(
        _thumb_batches,
        schema=(
            "doc_id bigint, exif_orientation int, src_w int, src_h int, "
            "thumb_w int, thumb_h int"
        ),
    )


# ---------------------------------------------------------------------------
# X6h: perceptual-hash image near-dup (round 11) — the multimodal
# bridge into the X2 dedup family: dHash64 over REAL PNG-codec
# round-tripped images, then banded Hamming blocking with a pigeonhole
# recall guarantee (4 bands of 16 bits: any pair within Hamming 3
# shares at least one intact band, so the band join loses nothing at
# the gated threshold).
#
# Determinism: each doc synthesizes a 27x16 grayscale raster from a
# two-round integer mixer (Knuth multiply -> xor-fold -> multiply;
# every intermediate < 2^63) and runs the PRODUCTION chain:
# encode_png_gray -> decode_raster -> 9x8 nearest-floor grid -> dHash.
# PNG is lossless, so decode(encode(r)) == r EXACTLY — the oracle
# replays the grid pixels arithmetically (sampled source coords
# (3gx, 2gy) fold the mixer constants to 291/1282) and must land on
# identical 64-bit hashes: any codec bug, sampling drift, or banding
# error breaks the hash. Docs pair up as (2g, 2g+1): the odd twin
# perturbs ONE sampled pixel (+128 at grid (4,3)), flipping at most 2
# dHash bits, so every within-pair lands under the threshold.
#
# Scale shape: one Arrow-batched mapInPandas mints (doc_id, lo, hi) —
# 16 B/doc, localCheckpoint-barriered so the self-join can't re-run
# the Python stage; the band join is a pure equi-join on
# (band_no, band_val) whose traffic the 16-bit geometry bounds
# (measured: ~10.5k candidates / 2558 survivors at 5k docs, max
# bucket 20); Hamming verify is two codegen'd XOR+bit_counts. The
# id_a < id_b predicate sits inside the join condition.
# ---------------------------------------------------------------------------
_DH_K = 2654435761  # Knuth 32-bit multiplicative constant
_DH_W, _DH_H = 27, 16
# vectorized mixer: every intermediate < 2^63 fits int64, and the
# arithmetic is bit-identical to the oracle's BIGINT replay
_DH_BASE = (
    np.arange(_DH_H, dtype=np.int64)[:, None] * 641
    + np.arange(_DH_W, dtype=np.int64)[None, :] * 97
)


def _dhash_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for doc_id in pdf["doc_id"]:
            i = int(doc_id)
            g, odd = i // 2, i % 2
            u = (g * _DH_K) % 16777216 + _DH_BASE
            t1 = (u * _DH_K) % 4294967296
            v = ((np.bitwise_xor(t1, t1 >> 16) * 40503) % 4294967296) >> 24
            if odd:
                v[6, 12] = (v[6, 12] + 128) % 256
            raster = v.astype(np.uint8).tobytes()
            lo, hi = dhash64(encode_png_gray(_DH_W, _DH_H, raster))
            rows.append((i, lo, hi))
        yield pd.DataFrame(rows, columns=["doc_id", "lo", "hi"])


@query(
    "x205_image_dhash_neardup",
    oracle=f"""
    WITH d AS (
        SELECT doc_id AS i, doc_id // 2 AS g, doc_id % 2 AS odd
        FROM documents
    ),
    grid AS (
        SELECT i,
               gx.x AS gx, gy.y AS gy,
               CASE WHEN odd = 1 AND gx.x = 4 AND gy.y = 3 THEN
                   (xor((((g * {_DH_K}) % 16777216 + gx.x * 291 + gy.y * 1282)
                         * {_DH_K}) % 4294967296,
                        ((((g * {_DH_K}) % 16777216 + gx.x * 291 + gy.y * 1282)
                          * {_DH_K}) % 4294967296) // 65536)
                    * 40503) % 4294967296 // 16777216 + 128
               ELSE
                   (xor((((g * {_DH_K}) % 16777216 + gx.x * 291 + gy.y * 1282)
                         * {_DH_K}) % 4294967296,
                        ((((g * {_DH_K}) % 16777216 + gx.x * 291 + gy.y * 1282)
                          * {_DH_K}) % 4294967296) // 65536)
                    * 40503) % 4294967296 // 16777216
               END % 256 AS p
        FROM d, generate_series(0, 8) gx(x), generate_series(0, 7) gy(y)
    ),
    bits AS (
        SELECT a.i, a.gy * 8 + a.gx AS b,
               CASE WHEN n.p > a.p THEN 1 ELSE 0 END AS bit
        FROM grid a
        JOIN grid n ON n.i = a.i AND n.gy = a.gy AND n.gx = a.gx + 1
        WHERE a.gx < 8
    ),
    h AS (
        SELECT i,
               CAST(SUM(CASE WHEN b < 32
                             THEN bit * (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS lo,
               CAST(SUM(CASE WHEN b >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                             ELSE 0 END) AS BIGINT) AS hi
        FROM bits GROUP BY i
    ),
    bands AS (
        SELECT i, lo, hi, bn.band_no,
               CASE bn.band_no WHEN 0 THEN lo % 65536
                               WHEN 1 THEN lo // 65536
                               WHEN 2 THEN hi % 65536
                               ELSE hi // 65536 END AS band_val
        FROM h, (VALUES (0), (1), (2), (3)) bn(band_no)
    ),
    cand AS (
        SELECT DISTINCT a.i AS id_a, b.i AS id_b,
               a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
        FROM bands a
        JOIN bands b ON a.band_no = b.band_no
                    AND a.band_val = b.band_val
                    AND a.i < b.i
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(lo_a, lo_b))
                + bit_count(xor(hi_a, hi_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
    """,
)
def x205_image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by banded dHash over real PNG round trips:
    every within-pair twin (Hamming <= 2 by construction) must survive
    the band blocking, and the oracle's arithmetic pixel replay pins
    the full codec -> sample -> hash -> band -> verify chain."""
    d = load_table(spark, sf_dir, "documents")
    # 16 B/row output; the per-row Python encode->decode->hash chain is
    # the expensive part, so spread it (the x187 discipline), and
    # barrier the result so the self-join runs the Python stage ONCE
    hashes = (
        d.select("doc_id")
        .repartition(32, "doc_id")
        .mapInPandas(_dhash_batches, schema="doc_id bigint, lo bigint, hi bigint")
        .localCheckpoint(eager=False)
    )
    bands = hashes.select(
        "doc_id",
        "lo",
        "hi",
        F.posexplode(
            F.array(
                F.col("lo") % 65536,
                F.shiftright("lo", 16),
                F.col("hi") % 65536,
                F.shiftright("hi", 16),
            )
        ).alias("band_no", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.lo").alias("lo_a"),
            F.col("a.hi").alias("hi_a"),
            F.col("b.lo").alias("lo_b"),
            F.col("b.hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
