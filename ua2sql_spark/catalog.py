"""Parquet catalog over the driver-generated test tables (TESTDATA.md).

At 100 TB these would be partitioned lakehouse tables; the access path is
identical — ``spark.read.parquet`` with filter pushdown and column
pruning left to Catalyst. Never collect, never infer row-by-row.
"""

from __future__ import annotations

import os

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

# Dimension tables small enough to broadcast at any realistic scale factor
# (region/nation are bounded by geography; supplier/part grow slowly).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


# Opt-in manifest-driven file pruning for the ordinary load_table path
# (VERDICT r5 next-round #5). When MANIFEST_ENABLED_CONF is true and the
# caller passes a range predicate, load_table consults the file-stats
# manifest (operators/manifest.py) persisted beside the table —
# `<sf_dir>/<name>.manifest.parquet`, or `<MANIFEST_DIR_CONF>/<name>`
# when the table directory is read-only — and hands Spark only the
# surviving files. At 100 TB this skips both the listing and the footer
# reads of non-overlapping files; Catalyst still does row-group pruning
# and pushdown inside the chosen files.
MANIFEST_ENABLED_CONF = "spark.ua2sql.manifest.enabled"
MANIFEST_DIR_CONF = "spark.ua2sql.manifest.dir"

# --- Scale-adaptive scan rebalance (OPTIMIZATION_r14.md §scan) ---------
# A parquet row group is the unit of scan parallelism: a table written
# as one file with one row group scans as ONE task no matter how many
# cores the session has, and every scan-side projection (minhash md5s,
# cosine folds, decimal casts) serializes behind it. When the caller
# declares its scan-side work heavy (``load_table(..., rebalance=True)``)
# AND the file layout yields fewer splits than the session has cores
# AND the table is small enough that one round-robin exchange is cheap,
# load_table rebalances the scan to ``defaultParallelism`` partitions.
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
SCAN_REBALANCE_CONF = "spark.ua2sql.scan.rebalance"  # default: true
# Below this, the table is broadcast-dim-sized and scan-side work is
# trivial; the exchange would be pure overhead (region..part).
SCAN_REBALANCE_MIN_BYTES_CONF = "spark.ua2sql.scan.rebalance.minBytes"
_SCAN_REBALANCE_MIN_BYTES = 256 * 1024
# Above this, a blanket shuffle of the whole table is no longer "cheap
# insurance" — real layouts this size carry enough row groups already.
SCAN_REBALANCE_MAX_BYTES_CONF = "spark.ua2sql.scan.rebalance.maxBytes"
_SCAN_REBALANCE_MAX_BYTES = 1 << 30


def _dir_bytes(path: str) -> tuple[int, int]:
    """(total_bytes, n_files) for a local file or directory; (0, 0) when
    the path is not locally stat-able (object store) — the caller then
    skips rebalance, which is the safe default at cluster scale."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path), 1
        total, n = 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                total += os.path.getsize(os.path.join(root, f))
                n += 1
        return total, n
    except OSError:
        return 0, 0


def _scan_rebalance(
    spark: SparkSession, df: DataFrame, path: str, rebalance: bool = True
) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when the table at
    ``path`` has a compute-heavy-small layout (fewer splits than cores,
    within the byte guards); otherwise return it unchanged."""
    if not rebalance or (
        (spark.conf.get(SCAN_REBALANCE_CONF, "true") or "").lower() != "true"
    ):
        return df
    total, n_files = _dir_bytes(path)
    min_b = int(
        spark.conf.get(SCAN_REBALANCE_MIN_BYTES_CONF, str(_SCAN_REBALANCE_MIN_BYTES))
    )
    max_b = int(
        spark.conf.get(SCAN_REBALANCE_MAX_BYTES_CONF, str(_SCAN_REBALANCE_MAX_BYTES))
    )
    if total < min_b or total > max_b:
        return df
    try:
        max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_pb = 128 * 1024 * 1024
    # Upper bound on the split count Spark can extract from this layout
    # (actual parallelism is further capped by row-group placement).
    splits = n_files + total // max(max_pb, 1)
    cores = spark.sparkContext.defaultParallelism
    if splits >= cores:
        return df
    return df.repartition(cores)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def manifest_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    override = spark.conf.get(MANIFEST_DIR_CONF, None)
    if override:
        return os.path.join(override, name)
    return os.path.join(sf_dir, f"{name}.manifest.parquet")


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    where: tuple | None = None,
    rebalance: bool = False,
) -> DataFrame:
    """Load a catalog table; ``where=(col, lo, hi[, cast])`` applies an
    inclusive range predicate — and, when manifest pruning is enabled
    and a manifest exists for the table, skips every data file whose
    [min, max] on ``col`` cannot overlap [lo, hi] before Spark even
    lists it. The predicate is ALWAYS re-applied exactly, so results
    are identical with and without a manifest."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        df = _load_events(spark, sf_dir)
        # events needs ts normalization before any predicate; manifest
        # stats on raw ts encodings would not match the normalized
        # column, so events always takes the plain path.
        if where is not None:
            col, lo, hi = where[0], where[1], where[2]
            from pyspark.sql import functions as F

            df = df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
        return _scan_rebalance(spark, df, table_path(sf_dir, name), rebalance)
    if where is not None:
        from pyspark.sql import functions as F

        col, lo, hi = where[0], where[1], where[2]
        cast = where[3] if len(where) > 3 else "bigint"
        pred = F.col(col).between(F.lit(lo), F.lit(hi))
        if spark.conf.get(MANIFEST_ENABLED_CONF, "false").lower() == "true":
            mpath = manifest_path(spark, sf_dir, name)
            if _hadoop_exists(spark, mpath):
                from ua2sql_spark.operators.manifest import prune_files

                manifest = spark.read.parquet(mpath)
                files = prune_files(manifest, col, lo, hi, cast=cast)
                # files is None: manifest built without stats for THIS
                # column — no pruning possible; fall through to the
                # plain scan rather than silently returning zero rows
                if files is not None:
                    if not files:
                        # no file overlaps: an empty frame with the
                        # table's schema (reading zero files would
                        # fail schema inference)
                        return (
                            spark.read.parquet(table_path(sf_dir, name))
                            .filter(F.lit(False))
                        )
                    return _scan_rebalance(
                        spark,
                        spark.read.parquet(*files).filter(pred),
                        table_path(sf_dir, name),
                        rebalance,
                    )
        return _scan_rebalance(
            spark,
            spark.read.parquet(table_path(sf_dir, name)).filter(pred),
            table_path(sf_dir, name),
            rebalance,
        )
    return _scan_rebalance(
        spark,
        spark.read.parquet(table_path(sf_dir, name)),
        table_path(sf_dir, name),
        rebalance,
    )


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    df = spark.read.parquet(path)
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


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view so ``spark.sql`` works too."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
