"""Parquet catalog over the driver-generated test tables (TESTDATA.md).

At 100 TB these would be partitioned lakehouse tables; the access path is
identical — ``spark.read.parquet`` with filter pushdown and column
pruning left to Catalyst. Never collect, never infer row-by-row.

``load_table`` has one read path per table (``_load_events`` for
``events``, ``spark.read.parquet`` otherwise) followed by the optional
scan rebalance, whose byte guards are the module constants
``_SCAN_REBALANCE_MIN_BYTES`` / ``_SCAN_REBALANCE_MAX_BYTES``; no session
conf changes what it reads.

Schema cache: inferring a parquet schema runs one Spark job (it reads
a footer), 0.14-0.20 s warm, and a repeated query would pay it on every
call. ``_read_parquet`` remembers the schema it inferred and reads a
repeat with ``spark.read.schema(s).parquet(path)``, which runs no job.
The key is the session, the table path, the session's
``spark.sql.legacy.parquet.nanosAsLong`` value (it changes the inferred
type of a TIMESTAMP(NANOS) column) and the stat listing of the table's
data files as (relative name, size, ``st_mtime_ns``). Adding or
removing a file, or rewriting one so that its size or mtime changes,
re-infers: the same mtime contract as ``queries.common.fixture_artifact``.
A rewrite that keeps both size and mtime is not seen. A path that is not
locally stat-able (an object store) is inferred on every read, as
before the cache.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- Scale-adaptive scan rebalance (OPTIMIZATION_r14.md §scan) ---------
# A parquet row group is the unit of scan parallelism: a table written
# as one file with one row group scans as ONE task no matter how many
# cores the session has, and every scan-side projection (minhash md5s,
# cosine folds, decimal casts) serializes behind it. When the caller
# declares its scan-side work heavy (``load_table(..., rebalance=True)``)
# AND the file layout yields fewer splits than the session has cores
# AND the table size lies within [_SCAN_REBALANCE_MIN_BYTES,
# _SCAN_REBALANCE_MAX_BYTES], load_table rebalances the scan to
# ``defaultParallelism`` partitions.
# Opt-in per call site because only the query knows its per-row compute
# weight (guide §8: use what you know that the optimizer does not) —
# A/B at sf0.1 showed heavy-compute scans gain 0.5-3 s while trivial
# scans lose the ~0.3 s exchange fixed cost. The trigger is derived
# from the input layout, not a constant: at 100 TB any real table
# yields orders of magnitude more splits than cores, so the branch is
# a no-op there (and the max-bytes guard would refuse the blanket
# shuffle anyway). Filter pushdown and column pruning are unaffected —
# Catalyst pushes deterministic predicates and prunes columns through
# a Repartition node (asserted in tests/test_plans.py).

# Below this, the table is broadcast-dim-sized and scan-side work is
# trivial; the exchange would be pure overhead (region..part).
_SCAN_REBALANCE_MIN_BYTES = 256 * 1024
# Above this, a blanket shuffle of the whole table is no longer "cheap
# insurance" — real layouts this size carry enough row groups already.
_SCAN_REBALANCE_MAX_BYTES = 1 << 30


def _stat_listing(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted (relative name, size, st_mtime_ns) of every data file of
    the local file or directory table at ``path`` (``_``/``.``-prefixed
    files skipped, as Spark skips them); a single-file table lists itself
    under the name ``""``. ``None`` when the path is not locally
    stat-able (object store, missing path)."""
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        if not os.path.isdir(path):
            return None
        listing = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                listing.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(listing))
    except OSError:
        return None


def _scan_rebalance(
    spark: SparkSession, df: DataFrame, listing: tuple | None, rebalance: bool
) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when the table whose
    ``_stat_listing`` is ``listing`` has a compute-heavy-small layout
    (fewer splits than cores, within the byte guards); otherwise return
    it unchanged. A table that is not locally stat-able is never
    rebalanced, the safe default at cluster scale."""
    if not rebalance or not listing:
        return df
    total, n_files = sum(size for _name, size, _mtime in listing), len(listing)
    if not _SCAN_REBALANCE_MIN_BYTES <= total <= _SCAN_REBALANCE_MAX_BYTES:
        return df
    # The resolved byte value of spark.sql.files.maxPartitionBytes; the
    # string conf reads back with a unit suffix ('134217728b', '64m').
    max_pb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    # Upper bound on the split count Spark can extract from this layout
    # (actual parallelism is further capped by row-group placement).
    splits = n_files + total // max(max_pb, 1)
    cores = spark.sparkContext.defaultParallelism
    if splits >= cores:
        return df
    return df.repartition(cores)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Load a catalog table; ``rebalance=True`` declares the caller's
    scan-side work heavy (see ``_scan_rebalance``). Filters go on the
    returned frame, where Catalyst pushes them into the parquet scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    listing = _stat_listing(path)
    if name == "events":
        df = _load_events(spark, path, listing)
    else:
        df = _read_parquet(spark, path, listing)
    return _scan_rebalance(spark, df, listing, rebalance)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"
# session -> {table path: ((nanosAsLong, stat listing), schema)}; one
# entry per path, so a changed listing replaces its stale entry.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str, listing: tuple | None) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred once per
    (session, path, nanosAsLong, listing); see the module docstring."""
    if listing is None:
        return spark.read.parquet(path)
    key = (spark.conf.get(_NANOS_AS_LONG, "false"), listing)
    schemas = _SCHEMAS.setdefault(spark, {})
    cached = schemas.get(path)
    if cached is not None and cached[0] == key:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[path] = (key, df.schema)
    return df


def _load_events(spark: SparkSession, path: str, listing: tuple | None) -> DataFrame:
    """Normalise events.ts to TIMESTAMP regardless of how the file encodes it.

    Generations of the driver testdata have shipped ts as TIMESTAMP(NANOS)
    (unreadable without nanos-as-long), TIMESTAMP_NTZ(MICROS), and plain
    epoch values — so adapt to the schema actually on disk instead of
    assuming one encoding:

    * ``bigint``        → either TIMESTAMP(NANOS) read via nanos-as-long, or a
      genuine epoch integer column; the value magnitude picks the unit
      (seconds/millis/micros/nanos sit four decades apart — see
      :func:`_bigint_ts_to_micros`). Nanos truncate ns→µs, the same
      truncation DuckDB applies, so oracles agree.
    * ``timestamp_ntz`` → cast to session-tz TIMESTAMP; the session runs UTC
      so the wall-clock values are unchanged and match DuckDB's naive reads.
    * ``timestamp``     → already what we want.
    """
    from pyspark.sql import functions as F

    # Deliberately left set for the session (NOT save/restored like the
    # write-side confs): the DataFrame is lazy, so the conf must still
    # hold when an action later re-reads the footers — restoring it here
    # would make the returned frame fail at execution time. Session-wide
    # effect: other TIMESTAMP(NANOS) parquet reads surface as bigint
    # instead of erroring, which is this engine's documented contract
    # for nanos columns anyway (ns→µs handled explicitly, as below).
    spark.conf.set(_NANOS_AS_LONG, "true")
    df = _read_parquet(spark, path, listing)
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(_bigint_ts_to_micros()))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _bigint_ts_to_micros():
    """Column expression converting a bigint ts to epoch micros, choosing
    the unit from the value magnitude: epoch seconds ~2e9, millis ~2e12,
    micros ~2e15, nanos ~2e18 — four decades apart. The magnitude test is
    taken on ``abs(ts)`` so pre-1970 (negative) values classify by the
    same decades, symmetric around the epoch.

    Supported range: the heuristic is exact for |date - 1970| ≳ 3.2 years
    in each unit's band — i.e. dates between ~1973 and ~5138 (or the
    mirror-image pre-1967 side) are unambiguous. A millis value inside
    1970±3.2y (|ts| < 1e11) is indistinguishable from a far-future
    seconds value and classifies as seconds; the driver testdata (2024+
    event streams) sits far from that floor. Where precision matters for
    historic data, prefer an explicit parquet logical timestamp type —
    the schema branch in :func:`_load_events` then bypasses this
    heuristic entirely."""
    from pyspark.sql import functions as F

    ts = F.col("ts")
    mag = F.abs(ts)
    return (
        F.when(mag >= F.lit(10**17), F.expr("ts div 1000"))   # nanos
        .when(mag >= F.lit(10**14), ts)                        # micros
        .when(mag >= F.lit(10**11), ts * F.lit(1000))          # millis
        .otherwise(ts * F.lit(1_000_000))                      # seconds
    )


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table as a DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
