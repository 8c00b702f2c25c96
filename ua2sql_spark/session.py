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
* A driver JVM that starts from a class-data-sharing (CDS) archive. A
  JDK 17 dynamic CDS archive holds the classes an earlier driver loaded
  already parsed and verified, and the JVM maps it instead of reading
  them from the jars. The engine keeps one archive per java binary and
  Spark jars in ``$XDG_CACHE_HOME/ua2sql_spark/cds`` (see
  :func:`cds_launch`): the first session per key writes it when its
  process exits (~11 s, see :func:`commit_archive`; 142-206 MB,
  depending on the classes that process loaded) and every later one
  maps it. Without a usable archive the JVM starts as
  it would without one. On a 4-vCPU box (perfbench, 12 interleaved
  pairs per workload, medians), ``get_spark`` took 7.1 -> 3.3 s wall
  and 15.5 -> 8.9 CPU-s before ``land_feeds`` (6.3 -> 3.2 s and
  14.7 -> 9.1 CPU-s before ``query_mix``), the warm-up cycle after it
  11.5 -> 8.7 s, and the driver JVM's metaspace shrank by ~100 MB
  while the mapped archive added about as much resident memory.
* A driver JVM on the parallel collector, ``-XX:+UseParallelGC``
  (Spark's collector until JDK 9 made G1 the JVM's default). In local
  mode the driver JVM does all of a batch job's work, so it is a
  throughput process with no pause-time target. G1 grows its young
  generation toward 60% of the heap and leaves old regions uncollected
  until a concurrent cycle, so a driver touches most of its heap. On a
  4-vCPU box (perfbench, 2 GB driver heap, 14 interleaved pairs per
  workload, medians) peak RSS fell 2585 -> 1509 MB on ``query_mix``
  (14/14 pairs) and 1609 -> 1303 MB on ``land_feeds`` (14/14), while
  setup and rotation CPU stayed flat or fell. The archive still maps: a
  dynamic archive dumped under one of G1, parallel and serial maps
  under the others. A launch environment that already selects a
  collector keeps it (see :func:`collector_options`); under ZGC or
  Shenandoah, where such an archive does not map, the engine adds no
  JVM options at all (see :func:`driver_launch`).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# How long the exit hook of a dumping start waits for the JVM to write
# the archive (~11 s on a 4-vCPU box) before it kills the JVM.
DUMP_WAIT_S = 120

# The driver JVM's collector (see the module docstring), and the
# environment variables through which a launch can already select one.
PARALLEL_GC = "-XX:+UseParallelGC"
COLLECTOR_ENVS = ("PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS",
                  "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
# Collectors under which an archive dumped under the engine's maps. ZGC
# and Shenandoah use no compressed oops, so they cannot map one.
CDS_COLLECTORS = ("G1", "Parallel", "Serial")


def get_spark(app_name: str = "ua2sql_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``SPARK_GRAFT_CPUS`` is read at each call. It is the ``local[]``
    thread spec, where ``*`` is legal, and a digit value also sizes the
    shuffle; without one the shuffle has 32 partitions."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
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
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = driver_launch(_find_spark_home())  # flags reach only a JVM this call starts
    if launch is None:
        return builder.getOrCreate()
    java_options, conf_dir, archive, dump_to = launch
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.config("spark.driver.defaultJavaOptions", java_options).getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if dump_to is not None and proc is not None:
        atexit.register(commit_archive, spark, proc, dump_to)
    elif archive is not None and not archive_mapped(spark._jvm.System.getProperty("java.vm.info")):
        with contextlib.suppress(OSError):
            os.remove(archive)  # unusable: the next start dumps a fresh one
    return spark


def pid_alive(pid: int) -> bool:
    """Whether process ``pid`` exists."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def cds_dir() -> str:
    """The archive's directory. Not under the temp dir: harnesses such as
    perfbench point ``TMPDIR`` at a directory they delete after a run."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "ua2sql_spark", "cds")


def java_binary() -> str | None:
    """The java that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def archive_key(java: str, jars_dir: str) -> str:
    """Hash of what a dynamic archive is only valid for: the java binary
    ``spark-class`` runs and the jars on the driver's class path."""
    real = os.path.realpath(java)
    st = os.stat(real)
    h = hashlib.sha256(f"{real} {st.st_size} {st.st_mtime_ns}\n".encode())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        if entry.name.endswith(".jar"):
            st = entry.stat()
            h.update(f"{entry.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def chosen_collector() -> str | None:
    """The collector the launch environment selects (``G1`` for
    ``-XX:+UseG1GC``), or ``None``."""
    for name in COLLECTOR_ENVS:
        if m := re.search(r"-XX:\+Use(\w+)GC\b", os.environ.get(name, "")):
            return m[1]
    return None


def collector_options() -> str:
    """:data:`PARALLEL_GC`, or ``""`` when the launch environment already
    selects a collector: a second ``-XX:+Use...GC`` stops the JVM
    ("Multiple garbage collectors selected")."""
    return "" if chosen_collector() else PARALLEL_GC


def driver_launch(spark_home: str) -> tuple[str, str, str | None, str | None] | None:
    """How to start the driver JVM: its java options (the collector of
    :func:`collector_options`, then the CDS flags of :func:`cds_launch`),
    the ``SPARK_CONF_DIR`` to launch with, the archive it maps and the
    temp file it dumps one to. ``None`` means start as usual, with no
    engine options: the conf dir holds a file Spark reads, whose
    ``spark.driver.defaultJavaOptions`` a builder value would override,
    the launch environment selects a collector outside
    :data:`CDS_COLLECTORS`, or there is nothing to add. Such a collector
    neither maps nor dumps the archive, so a host that alternates ZGC
    with default starts does not delete and re-dump it on every switch."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.exists(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
            return None
    except OSError:
        return None
    if chosen_collector() not in (None, *CDS_COLLECTORS):
        return None
    options, conf_dir, archive, dump_to = cds_launch(spark_home) or ("", conf, None, None)
    options = " ".join(filter(None, (collector_options(), options)))
    return (options, conf_dir, archive, dump_to) if options else None


def cds_launch(spark_home: str) -> tuple[str, str, str | None, str | None] | None:
    """How to start the driver JVM from the engine's CDS archive: its
    java options, the ``SPARK_CONF_DIR`` to launch with, the archive it
    maps (``None`` when there is none yet) and the temp file a start
    without an archive dumps one to (``None`` when the archive exists).
    ``None`` means start without CDS.

    JDK 17 refuses to dump when a non-empty directory is on the class
    path, and the conf dir is its first entry. So the caller uses CDS
    only when the conf dir holds nothing but ``*.template`` files
    (nothing Spark reads), and the conf dir is replaced by one empty dir
    at a fixed path, because the archive records the class path."""
    java = java_binary()
    if java is None:
        return None
    root = cds_dir()
    empty = os.path.join(root, "conf")
    try:
        key = archive_key(java, os.path.join(spark_home, "jars"))
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(root, os.W_OK):
            return None
    except OSError:
        return None
    # CDS logs to stdout: a warning per signed-jar class when dumping, and
    # one when an archive does not match (-Xshare:auto then starts without)
    quiet = "-Xlog:cds=off,cds+dynamic=off"
    archive = os.path.join(root, key + ".jsa")
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} -Xshare:auto {quiet}", empty, archive, None
    dump_to = os.path.join(root, f"{key}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={dump_to} {quiet}", empty, None, dump_to


def archive_mapped(vm_info: str) -> bool:
    """Whether a JVM whose ``java.vm.info`` is ``vm_info`` maps a CDS
    archive: ``mixed mode, sharing`` when it does. A JVM that cannot use
    the archive it is given reads ``mixed mode``: under ``-Xshare:auto``
    it then maps not even the JDK's base archive."""
    return "sharing" in vm_info.split(", ")


def commit_archive(spark: SparkSession, proc, dump_to: str) -> None:
    """Exit hook of a start that dumps an archive. The JVM writes it only
    on a clean exit, which pyspark does not wait for, so stop the session,
    end the gateway and wait for the JVM (it may already be reaped). On
    exit code 0, rename the dump to ``<key>.jsa`` and delete every other
    archive and every temp file whose process is gone: an archive is
    142-206 MB, so one is kept."""
    if proc.poll() is None:
        with contextlib.suppress(Exception):
            spark.stop()
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.isfile(dump_to):
        with contextlib.suppress(OSError):
            os.remove(dump_to)
        return
    root, name = os.path.split(dump_to)
    keep = name.split(".", 1)[0] + ".jsa"
    try:
        os.replace(dump_to, os.path.join(root, keep))
    except OSError:
        return  # keep the archives there are
    for name in os.listdir(root):
        dump = re.fullmatch(r"\w+\.(\d+)\.tmp", name)  # <key>.<pid>.tmp
        if (name.endswith(".jsa") and name != keep) or (dump and not pid_alive(int(dump[1]))):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(root, name))


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``__spark_entry__.entry``; this applies the confs that are safely
    mutable at runtime (timezone, AQE, the runtime bloom filter). It
    leaves the shuffle partition count alone: the harness sized its
    session for its own cores.
    ``spark.sql.codegen.cache.maxEntries`` is a static conf, so such a
    session keeps Spark's default of 100 generated classes (see the
    module docstring); only sessions from :func:`get_spark` get 1000.
    Its JVM is already running, so it also keeps its own collector and
    starts from no engine archive: the parallel collector and the CDS
    flags reach only a JVM that :func:`get_spark` launches.
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
