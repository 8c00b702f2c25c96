"""SparkSession factory with scale-oriented defaults.

Tuned for the driver's local[32] harness but every setting is the one
you'd also want on a 1000-executor cluster:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing)
* Arrow for any pandas interchange (the slow path, when we must take it)
* UTC session timezone so timestamp semantics match the reference's
  ``time.gmtime`` handling (reference ``ua2sql.py:232-233``) and the
  DuckDB oracle's naive timestamps.
* A generated-class cache that holds the query working set. Spark caches
  compiled whole-stage classes in an LRU of
  ``spark.sql.codegen.cache.maxEntries`` (default 100). One rotation of
  perfbench's eight ``query_mix`` queries generates ~138 distinct
  classes, so at 100 the LRU evicts every class before its next use:
  137 Janino compilations in every steady-state rotation, 832 over 6.
  At 1000, rotations after the second compile nothing. On a 4-vCPU box
  (6 rotations to a noop sink, with the schema cache of ``catalog``)
  work CPU per steady-state rotation fell from 11.3-15.3 s to
  5.7-7.2 s, Metaspace at the end from 160.6 to 154.6 MB and the
  non-profiled code heap from 23.4 to 17.3 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _default_shuffle_partitions() -> int:
    """SPARK_GRAFT_CPUS doubles as the local[] thread spec, where '*'
    is legal — only digit values can size the shuffle; anything else
    falls back to 32 (evaluated lazily so importing the module never
    crashes on a non-integer spec)."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return int(raw) if raw.isdigit() else 32


DEFAULT_SHUFFLE_PARTITIONS = _default_shuffle_partitions()


def get_spark(app_name: str = "ua2sql_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Runtime bloom-filter semi-join reduction: a selective filter on
        # one join side prunes the other side's scan at row-group level.
        # No-op at test scale (creation-side threshold), decisive at 100 TB.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Static conf, so only a session built here gets it. ~7x the
        # ~138 classes one query_mix rotation generates; at the default
        # 100 the LRU thrashes and every repeat recompiles them all.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``__spark_entry__.entry``; this applies the confs that are safely
    mutable at runtime (timezone, AQE, shuffle partitions).
    ``spark.sql.codegen.cache.maxEntries`` is a static conf, so such a
    session keeps Spark's default of 100 generated classes (see the
    module docstring); only sessions from :func:`get_spark` get 1000.
    """
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.optimizer.runtime.bloomFilter.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked by the harness; engine works either way
    _ensure_package_shipped(spark)
    return spark


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to the Python workers via ``addPyFile``.

    mapInPandas/applyInPandas closures reference functions from this
    package, which cloudpickle serializes *by reference* — workers must
    be able to ``import ua2sql_spark`` themselves. That holds on a real
    cluster only because spark-submit ships a zip/wheel of the job code;
    this reproduces the same deployment step programmatically, so the
    engine works no matter what cwd/PYTHONPATH the harness launches the
    driver with."""
    try:
        sc = spark.sparkContext
    except Exception:
        # Spark Connect sessions expose no sparkContext at all — the
        # graceful degradation below (workers import from PYTHONPATH)
        # must kick in HERE, before the attribute access crashes entry()
        return
    if getattr(sc, "_ua2sql_spark_shipped", False):
        return
    import atexit
    import shutil
    import tempfile

    import ua2sql_spark

    pkg_dir = os.path.dirname(os.path.abspath(ua2sql_spark.__file__))
    tmp_dir = tempfile.mkdtemp(prefix="ua2sql_pyfiles_")
    # Spark copies the zip into its own work dir on addPyFile, so the
    # staging dir is disposable once the process exits — clean it up so
    # repeated harness launches don't accumulate temp dirs.
    atexit.register(shutil.rmtree, tmp_dir, ignore_errors=True)
    zip_base = os.path.join(tmp_dir, "ua2sql_spark")
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="ua2sql_spark"
    )
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Connect-only session; module import then falls back to PYTHONPATH
    sc._ua2sql_spark_shipped = True
