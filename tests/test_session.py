"""Session building: every engine-built session comes from
``session.get_spark``, whose generated-class cache holds the working
set of a repeated query mix, so a repeat compiles nothing."""

from __future__ import annotations

import ast
import io
import pathlib
import re

import pytest

from tests.conftest import REPO_ROOT, SF_DIR


def _query_rotation() -> tuple[str, ...]:
    """perfbench's ``query_mix`` rotation, read from its source (importing
    ``perfbench/workloads.py`` needs perfbench's own modules on the path)."""
    tree = ast.parse(pathlib.Path(REPO_ROOT, "perfbench", "workloads.py").read_text())
    (value,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "QUERY_ROTATION"
    ]
    return ast.literal_eval(value)


def test_repeated_query_rotation_compiles_nothing(spark):
    from ua2sql_spark.registry import all_queries

    specs = all_queries()
    names = _query_rotation()
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def rotation() -> int:
        before = compilations.getCount()
        for name in names:
            specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return compilations.getCount() - before

    rotation()  # compiles what earlier tests have not
    assert rotation() == 0


def test_only_session_module_builds_sessions():
    """Static guard: ``SparkSession.builder`` appears only in
    ``ua2sql_spark/session.py``, so every session the engine builds gets
    its static confs (the codegen cache bound among them)."""
    import ua2sql_spark

    root = pathlib.Path(ua2sql_spark.__file__).parent
    hits = sorted(
        f"{p.relative_to(root)}:{node.lineno}"
        for p in root.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "builder"
    )
    assert [h.split(":")[0] for h in hits] == ["session.py"], hits


# --- Driver start-up from a class-data-sharing (CDS) archive ----------


def _fake_install(tmp_path, monkeypatch, conf_files=("spark-defaults.conf.template",)):
    """A SPARK_HOME with one jar and a conf dir, a JAVA_HOME with a java
    file and an empty cache dir, all under ``tmp_path``."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "conf").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("x")
    java_home = tmp_path / "jdk"
    (java_home / "bin").mkdir(parents=True)
    (java_home / "bin" / "java").write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    _no_collector_env(monkeypatch)
    return home


def _no_collector_env(monkeypatch):
    from ua2sql_spark.session import COLLECTOR_ENVS

    for name in COLLECTOR_ENVS:
        monkeypatch.delenv(name, raising=False)


def test_archive_key_follows_jars_and_java(tmp_path, monkeypatch):
    from ua2sql_spark.session import archive_key, java_binary

    home = _fake_install(tmp_path, monkeypatch)
    java, jars = java_binary(), str(home / "jars")
    key = archive_key(java, jars)
    (home / "jars" / "README").write_text("not a jar")
    assert archive_key(java, jars) == key
    (home / "jars" / "b.jar").write_bytes(b"b")
    assert archive_key(java, jars) != key
    key = archive_key(java, jars)
    (home / "jars" / "b.jar").write_bytes(b"bb")
    assert archive_key(java, jars) != key
    key = archive_key(java, jars)
    pathlib.Path(java).write_bytes(b"another java")
    assert archive_key(java, jars) != key


def test_cds_launch_hit_and_miss(tmp_path, monkeypatch):
    from ua2sql_spark.session import cds_launch

    home = _fake_install(tmp_path, monkeypatch)
    options, conf_dir, archive, dump_to = cds_launch(str(home))
    assert "-XX:ArchiveClassesAtExit=" + dump_to in options.split() and archive is None
    assert pathlib.Path(conf_dir).is_dir() and not any(pathlib.Path(conf_dir).iterdir())
    archive = dump_to.split(".", 1)[0] + ".jsa"
    pathlib.Path(archive).write_bytes(b"jsa")
    assert cds_launch(str(home)) == (
        f"-XX:SharedArchiveFile={archive} -Xshare:auto -Xlog:cds=off,cds+dynamic=off",
        conf_dir,
        archive,
        None,
    )


def test_unwritable_cache_dir_means_no_cds(tmp_path, monkeypatch):
    from ua2sql_spark.session import cds_launch

    home = _fake_install(tmp_path, monkeypatch)
    (tmp_path / "cache").write_text("a file where the cache dir would go")
    assert cds_launch(str(home)) is None


class _Launch:
    """Stands in for ``Builder.getOrCreate``: records the builder's
    options and ``SPARK_CONF_DIR`` at launch, starts no JVM, and returns
    a session whose JVM reports ``vm_info`` as its ``java.vm.info``."""

    def __init__(self, monkeypatch, fail=False, vm_info="mixed mode, sharing"):
        from types import SimpleNamespace

        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        self.calls, self.fail = [], fail
        self.session = SimpleNamespace(_jvm=SimpleNamespace(System=SimpleNamespace(
            getProperty={"java.vm.info": vm_info}.__getitem__)))
        launch = self

        def get_or_create(builder):
            import os

            launch.calls.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
            if launch.fail:
                raise RuntimeError("launch failed")
            return launch.session

        monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
        monkeypatch.setattr(SparkContext, "_gateway", None)


def test_non_template_conf_file_means_no_cds(tmp_path, monkeypatch):
    import os

    from ua2sql_spark.session import get_spark

    home = _fake_install(tmp_path, monkeypatch, ("spark-defaults.conf",))
    launch = _Launch(monkeypatch)
    get_spark()
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    get_spark()
    assert [conf_dir for _, conf_dir in launch.calls] == [None, str(home / "conf")]
    assert os.environ["SPARK_CONF_DIR"] == str(home / "conf")
    assert not any("defaultJavaOptions" in k for opts, _ in launch.calls for k in opts)


def test_get_spark_launches_from_the_empty_conf_dir_and_restores_environ(tmp_path, monkeypatch):
    import os

    from ua2sql_spark.session import cds_dir, get_spark

    home = _fake_install(tmp_path, monkeypatch)
    empty = os.path.join(cds_dir(), "conf")
    launch = _Launch(monkeypatch)
    assert get_spark() is launch.session
    assert "SPARK_CONF_DIR" not in os.environ
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    get_spark()
    assert os.environ["SPARK_CONF_DIR"] == str(home / "conf")
    launch.fail = True
    with pytest.raises(RuntimeError):
        get_spark()
    assert os.environ["SPARK_CONF_DIR"] == str(home / "conf")
    for options, conf_dir in launch.calls:
        assert conf_dir == empty
        assert "-XX:ArchiveClassesAtExit=" in options["spark.driver.defaultJavaOptions"]


def test_shuffle_partitions_follow_cpus_set_after_import(monkeypatch):
    """``get_spark`` reads ``SPARK_GRAFT_CPUS`` at call time for the
    shuffle partition count, as it does for ``local[N]``: a process
    that sets the variable after importing the engine gets both."""
    from ua2sql_spark import session

    launch = _Launch(monkeypatch)
    monkeypatch.setattr(session, "driver_launch", lambda spark_home: None)
    for cpus, partitions in [("5", "5"), ("7", "7"), ("*", "32")]:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        session.get_spark()
        options, _ = launch.calls[-1]
        assert options["spark.master"] == f"local[{cpus}]"
        assert options["spark.sql.shuffle.partitions"] == partitions
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    session.get_spark(shuffle_partitions=3)
    options, _ = launch.calls[-1]
    assert (options["spark.master"], options["spark.sql.shuffle.partitions"]) == ("local[*]", "3")


# --- The driver JVM's collector --------------------------------------


def _java_options(launch) -> list[list[str]]:
    return [opts["spark.driver.defaultJavaOptions"].split() for opts, _ in launch.calls]


@pytest.mark.parametrize("archive", ["hit", "miss", "none"])
def test_engine_launch_selects_the_parallel_collector_once(tmp_path, monkeypatch, archive):
    import os

    from ua2sql_spark.session import PARALLEL_GC, archive_key, cds_dir, get_spark, java_binary

    home = _fake_install(tmp_path, monkeypatch)
    if archive == "hit":
        os.makedirs(cds_dir())
        pathlib.Path(cds_dir(), archive_key(java_binary(), str(home / "jars")) + ".jsa").write_bytes(b"jsa")
    if archive == "none":
        (tmp_path / "cache").write_text("a file where the cache dir would go")
    launch = _Launch(monkeypatch)
    get_spark()
    (options,) = _java_options(launch)
    assert options.count(PARALLEL_GC) == 1
    cds = [o.split("=")[0] for o in options if o.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]
    assert cds == {"hit": ["-XX:SharedArchiveFile"], "miss": ["-XX:ArchiveClassesAtExit"], "none": []}[archive]
    if archive == "none":
        assert options == [PARALLEL_GC] and launch.calls[0][1] == str(home / "conf")


@pytest.mark.parametrize("name, value", [
    ("PYSPARK_SUBMIT_ARGS", '--driver-java-options "-Xms2g -XX:+UseG1GC" pyspark-shell'),
    ("SPARK_SUBMIT_OPTS", "-XX:+UseSerialGC"),
    ("JAVA_TOOL_OPTIONS", "-XX:+UseZGC"),
    ("JDK_JAVA_OPTIONS", "-XX:+UseParallelGC"),
    ("_JAVA_OPTIONS", "-Dx=1 -XX:+UseShenandoahGC"),
])
def test_a_collector_the_environment_selects_is_the_only_one(tmp_path, monkeypatch, name, value):
    """Under a collector where the engine's archive maps, the engine keeps
    its CDS flags. Under ZGC or Shenandoah it adds no JVM options at all,
    so such a start neither maps nor dumps the archive."""
    from ua2sql_spark.session import PARALLEL_GC, get_spark

    _fake_install(tmp_path, monkeypatch)
    launch = _Launch(monkeypatch)
    get_spark()
    monkeypatch.setenv(name, value)
    get_spark()
    if "ZGC" in value or "Shenandoah" in value:
        (engine, _), (chosen, conf_dir) = launch.calls
        assert PARALLEL_GC in engine["spark.driver.defaultJavaOptions"].split()
        assert "spark.driver.defaultJavaOptions" not in chosen and conf_dir is None
        return
    engine, chosen = _java_options(launch)
    assert engine == [PARALLEL_GC, *chosen] and PARALLEL_GC not in chosen
    (tmp_path / "nocache").write_text("a file where the cache dir would go")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "nocache"))
    get_spark()  # no archive either: nothing to add
    assert "spark.driver.defaultJavaOptions" not in launch.calls[-1][0]


def test_only_a_collector_flag_selects_a_collector(monkeypatch):
    from ua2sql_spark.session import PARALLEL_GC, collector_options

    _no_collector_env(monkeypatch)
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseGCOverheadLimit -XX:-UseG1GC -XX:+UseCompressedOops")
    assert collector_options() == PARALLEL_GC


def test_session_jvm_runs_the_parallel_collector(spark):
    management = spark._jvm.java.lang.management.ManagementFactory
    beans = sorted(bean.getName() for bean in management.getGarbageCollectorMXBeans())
    assert beans == ["PS MarkSweep", "PS Scavenge"]
    args = list(management.getRuntimeMXBean().getInputArguments())
    assert len([a for a in args if re.fullmatch(r"-XX:\+Use\w+GC", a)]) == 1, args


def test_engine_options_start_a_jvm_under_a_collector_the_user_chose(tmp_path, monkeypatch):
    """The clash the environment check prevents: a collector from
    ``JAVA_TOOL_OPTIONS`` beside the engine's stops the JVM."""
    import subprocess

    from pyspark.find_spark_home import _find_spark_home

    from ua2sql_spark.session import PARALLEL_GC, driver_launch, java_binary

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    _no_collector_env(monkeypatch)
    home = _find_spark_home()
    engine = driver_launch(home)[0].split()
    assert PARALLEL_GC in engine
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:+UseSerialGC")
    clash = subprocess.run([java_binary(), *engine, "-version"], capture_output=True, text=True)
    assert clash.returncode != 0 and "Multiple garbage collectors selected" in clash.stdout + clash.stderr
    options = driver_launch(home)[0].split()
    assert PARALLEL_GC not in options
    run = subprocess.run([java_binary(), *options, "-version"], capture_output=True, text=True)
    assert run.returncode == 0, run.stdout + run.stderr


class _FakeProc:
    def __init__(self, code, running=True):
        self.code, self.returncode = code, None if running else code
        self.stdin = io.BytesIO()

    def poll(self):
        return self.returncode

    def wait(self, timeout=None):
        self.returncode = self.code
        return self.code


class _FakeSpark:
    stopped = False

    def stop(self):
        self.stopped = True


def _cds_files(tmp_path):
    """A dump of key ``k1`` by this process, another key's archive, and
    two other dumps in progress: one of a live process, one of a process
    that is gone."""
    import os
    import subprocess
    import sys

    root = tmp_path / "cds"
    root.mkdir()
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True).stdout.strip()
    for name in (f"k1.{os.getpid()}.tmp", "k0.jsa", f"k1.{os.getppid()}.tmp", f"k1.{gone}.tmp"):
        (root / name).write_bytes(b"x")
    return root, root / f"k1.{os.getpid()}.tmp", f"k1.{os.getppid()}.tmp"


def test_commit_archive_promotes_a_clean_dump_and_keeps_one_archive(tmp_path):
    from ua2sql_spark.session import commit_archive

    root, dump, live_tmp = _cds_files(tmp_path)
    proc, spark = _FakeProc(0), _FakeSpark()
    commit_archive(spark, proc, str(dump))
    assert spark.stopped and proc.stdin.closed
    assert sorted(p.name for p in root.iterdir()) == sorted(["k1.jsa", live_tmp])


@pytest.mark.parametrize("code, dumped", [(1, True), (-9, True), (0, False)])
def test_commit_archive_promotes_nothing_without_a_clean_dump(tmp_path, code, dumped):
    from ua2sql_spark.session import commit_archive

    root, dump, _ = _cds_files(tmp_path)
    if not dumped:
        dump.unlink()
    before = sorted(p.name for p in root.iterdir() if p != dump)
    commit_archive(_FakeSpark(), _FakeProc(code), str(dump))
    assert sorted(p.name for p in root.iterdir()) == before


def test_commit_archive_after_the_jvm_was_reaped(tmp_path):
    """perfbench stops the session and reaps the JVM itself; the hook
    then only promotes."""
    from ua2sql_spark.session import commit_archive

    root, dump, _ = _cds_files(tmp_path)
    proc, spark = _FakeProc(0, running=False), _FakeSpark()
    commit_archive(spark, proc, str(dump))
    assert not spark.stopped and not proc.stdin.closed
    assert (root / "k1.jsa").is_file() and not (root / "k0.jsa").exists()


def test_session_jvm_starts_with_one_cds_flag(spark):
    args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    flags = [a for a in args if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]
    assert len(flags) == 1, args


def test_archive_of_the_engine_class_path_maps_under_xshare_on(spark, tmp_path):
    """Dump an archive with the class path the session's JVM was launched
    with and map it with ``-Xshare:on`` under the session's collector,
    which fails where a class path (a non-empty directory, a changed
    prefix) or a launch flag makes the archive unusable; the engine's
    ``-Xshare:auto`` would silently start without it."""
    import os
    import subprocess

    from ua2sql_spark.session import cds_dir, java_binary

    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    (collector,) = [a for a in args if re.fullmatch(r"-XX:\+Use\w+GC", a)]
    cp = spark._jvm.System.getProperty("java.class.path")
    assert cp.split(os.pathsep)[0].rstrip("/") == os.path.join(cds_dir(), "conf")
    jsa, main = str(tmp_path / "small.jsa"), "org.apache.hadoop.util.VersionInfo"
    quiet = "-Xlog:cds=off,cds+dynamic=off"
    dump = subprocess.run([java_binary(), f"-XX:ArchiveClassesAtExit={jsa}", quiet, "-cp", cp, main],
                          capture_output=True, text=True)
    assert dump.returncode == 0 and os.path.getsize(jsa) > 0, dump.stderr
    mapped = subprocess.run([java_binary(), collector, f"-XX:SharedArchiveFile={jsa}", "-Xshare:on",
                             "-cp", cp, main], capture_output=True, text=True)
    assert mapped.returncode == 0, mapped.stdout + mapped.stderr


def test_garbage_archive_falls_back_silently(tmp_path, monkeypatch):
    import os
    import subprocess

    from pyspark.find_spark_home import _find_spark_home

    from ua2sql_spark.session import archive_key, archive_mapped, cds_dir, cds_launch, java_binary

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    home = _find_spark_home()
    os.makedirs(cds_dir())
    key = archive_key(java_binary(), os.path.join(home, "jars"))
    with open(os.path.join(cds_dir(), key + ".jsa"), "wb") as f:
        f.write(os.urandom(1 << 16))
    options, _, archive, dump_to = cds_launch(home)
    assert archive is not None and dump_to is None
    run = subprocess.run([java_binary(), *options.split(), "-version"], capture_output=True, text=True)
    assert run.returncode == 0 and run.stdout == "", run.stdout + run.stderr
    # the JVM maps no archive at all, so get_spark deletes this one
    base = subprocess.run([java_binary(), "-version"], capture_output=True, text=True)
    assert archive_mapped(_vm_info(base.stderr)) and not archive_mapped(_vm_info(run.stderr))


def _vm_info(version: str) -> str:
    """``java.vm.info`` from ``java -version``: its last line ends
    ``(build <version>, <vm info>)``."""
    return re.search(r"\(build [^,]+, (.*)\)$", version.strip().splitlines()[-1])[1]


def test_archive_mapped_reads_java_vm_info():
    from ua2sql_spark.session import archive_mapped

    assert archive_mapped("mixed mode, sharing") and archive_mapped("interpreted mode, sharing")
    assert not archive_mapped("mixed mode") and not archive_mapped("mixed mode, emulated-client")


@pytest.mark.parametrize("vm_info", ["mixed mode, sharing", "mixed mode"])
def test_get_spark_deletes_an_archive_the_jvm_did_not_map(tmp_path, monkeypatch, vm_info):
    from ua2sql_spark.session import cds_launch, get_spark

    home = _fake_install(tmp_path, monkeypatch)
    archive = pathlib.Path(cds_launch(str(home))[3].split(".", 1)[0] + ".jsa")
    archive.write_bytes(b"jsa")
    _Launch(monkeypatch, vm_info=vm_info)
    get_spark()
    assert archive.exists() == (vm_info == "mixed mode, sharing")
