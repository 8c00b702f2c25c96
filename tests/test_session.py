"""Session building: every engine-built session comes from
``session.get_spark``, whose generated-class cache holds the working
set of a repeated query mix, so a repeat compiles nothing."""

from __future__ import annotations

import ast
import pathlib

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
