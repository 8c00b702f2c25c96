"""Unity Raw Data Export feed reader — ingest parity with the reference.

The reference (ua2sql.py:209-246) parses gzipped JSON-lines dumps one
line at a time, projects each record onto a fixed table schema
(ua2sql.py:46-86) and converts epoch-ms ints to UTC timestamps truncated
to whole seconds (ua2sql.py:232-233). Spark's JSON source with an
explicit schema reproduces the projection semantics exactly:

* schema-first: only declared columns are read (extra JSON keys silently
  dropped — the reference's loop iterates table columns, ua2sql.py:226-235)
* missing keys → NULL (ua2sql.py:229 key-existence guard)
* nested objects (``custom_params``/``receipt``, the JSONB islands,
  ua2sql.py:68,85) land as raw JSON strings in StringType columns
* gzip is decompressed transparently (replaces ua2sql.py:157-158)

Timestamp parity: the reference formats ``time.gmtime(int(v)/1000)``
with ``%Y-%m-%d %H:%M:%S`` — UTC, truncated to whole seconds. Default
here keeps millisecond precision (documented deviation, SURVEY §4);
``parity_ts=True`` reproduces the truncation bit-for-bit via
``date_trunc('second', timestamp_millis(v))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The three event feeds (ua2sql.py:293-295, README.md:10).
FEEDS = ("appStart", "custom", "transaction")

# Columns shared by all three feeds (ua2sql.py:46-55 common core).
_COMMON_RAW = [
    StructField("ts", LongType()),           # epoch ms (ua2sql.py:232)
    StructField("submit_time", LongType()),  # epoch ms; server receipt time
    StructField("userid", StringType()),
    StructField("remote_ip", StringType()),  # PG INET; string in Spark (SURVEY §1.3)
    StructField("platform", StringType()),
    StructField("user_agent", StringType()),
    StructField("sdk_ver", StringType()),
]

_FEED_EXTRA_RAW: dict[str, list[StructField]] = {
    # ua2sql.py:46-55
    "appStart": [],
    # ua2sql.py:57-69
    "custom": [
        StructField("sessionid", LongType()),
        StructField("name", StringType()),
        StructField("custom_params", StringType()),  # JSONB island (ua2sql.py:68)
    ],
    # ua2sql.py:71-86
    "transaction": [
        StructField("sessionid", LongType()),
        StructField("currency", StringType()),
        StructField("amount", StringType()),  # parsed to DecimalType in normalize
        StructField("transactionid", StringType()),
        StructField("productid", StringType()),
        StructField("receipt", StringType()),  # JSONB island (ua2sql.py:85)
    ],
}

def raw_schema(feed: str) -> StructType:
    """Schema of the feed's JSON-lines dump, pre-normalization."""
    if feed not in FEEDS:
        raise KeyError(f"unknown feed {feed!r}; expected one of {FEEDS}")
    return StructType(_COMMON_RAW + _FEED_EXTRA_RAW[feed])


def landed_schema(feed: str) -> StructType:
    """Schema after normalization (what the reference's tables hold).

    The one declaration of the landed types: :func:`normalize_feed`
    converts to it. `amount` is money, Numeric in the reference
    (ua2sql.py:82): carried as a string through JSON, then cast to an
    exact decimal, so it never transits a double (SURVEY §7 hard part 2)."""
    fields = []
    for f in raw_schema(feed).fields:
        if f.name in ("ts", "submit_time"):
            fields.append(StructField(f.name, TimestampType()))
        elif f.name == "amount":
            fields.append(StructField(f.name, DecimalType(38, 18)))
        else:
            fields.append(f)
    return StructType(fields)


def normalize_feed(df: DataFrame, feed: str, parity_ts: bool = False) -> DataFrame:
    """Apply the reference's per-row transform (ua2sql.py:224-237) as
    column expressions, converting each column to its
    :func:`landed_schema` type: epoch-ms → UTC timestamp (P2), string →
    exact decimal. ``parity_ts`` reproduces the whole-second truncation
    of ua2sql.py:233."""
    out = df
    for f in landed_schema(feed).fields:
        if isinstance(f.dataType, TimestampType):
            t = F.timestamp_millis(F.col(f.name))
            out = out.withColumn(f.name, F.date_trunc("second", t) if parity_ts else t)
        elif isinstance(f.dataType, DecimalType):
            out = out.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return out


CORRUPT_COL = "_corrupt_record"


def read_feed(
    spark: SparkSession,
    path: str,
    feed: str,
    parity_ts: bool = False,
    capture_corrupt: bool = False,
) -> DataFrame:
    """Batch-read a landing directory of (optionally gzipped) JSON-lines
    dumps for one feed and normalize to the landed schema.

    ``capture_corrupt`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed lines land there verbatim instead of becoming
    all-NULL rows or failing the job — at 100 TB a single bad line in
    one export file must never kill the ingest; route the quarantine
    split (`split_corrupt`) to a bad-records zone. The reference would
    raise on the `json.loads` (ua2sql.py:222) and abort the whole run —
    a deliberate upgrade, not a parity break (good rows are identical)."""
    schema = raw_schema(feed)
    if capture_corrupt:
        schema = StructType(schema.fields + [StructField(CORRUPT_COL, StringType())])
    reader = spark.read.schema(schema)
    if capture_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", CORRUPT_COL
        )
    return normalize_feed(reader.json(path), feed, parity_ts=parity_ts)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) split of a `capture_corrupt` read. The
    quarantine frame keeps only the raw line — ship it to the
    bad-records zone for offline inspection/replay.

    The cache() is required, not an optimization: Spark refuses plans
    that select only the internal corrupt-record column from a raw JSON
    scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN); caching materializes the
    parsed rows first — and the two output frames share that one scan
    instead of re-reading the landing files."""
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def read_feed_stream(
    spark: SparkSession, path: str, feed: str, parity_ts: bool = False
) -> DataFrame:
    """Streaming variant over the same landing directory (SURVEY §2.9 T1:
    the file source + checkpointLocation replaces the JobId offset log)."""
    raw = spark.readStream.schema(raw_schema(feed)).json(path)
    return normalize_feed(raw, feed, parity_ts=parity_ts)
