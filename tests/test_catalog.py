"""Catalog loader robustness: the driver regenerates the testdata
between rounds and has already shipped events.ts as TIMESTAMP(NANOS)
and TIMESTAMP_NTZ(MICROS) — `_load_events` must normalise every
plausible encoding to the same TIMESTAMP values.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ua2sql_spark.catalog import load_table

_TS = [
    datetime.datetime(2024, 3, 1, 12, 0, 0),
    datetime.datetime(2024, 3, 2, 23, 59, 59, 123456),
]


def _write_events(tmp_path, ts_array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _epoch(unit: int) -> list[int]:
    return [int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * unit) for t in _TS]


@pytest.mark.parametrize(
    "encoding",
    ["ts_us", "ts_ns", "epoch_s", "epoch_ms", "epoch_us", "epoch_ns"],
)
def test_load_events_normalises_every_ts_encoding(spark, tmp_path, encoding):
    arrays = {
        "ts_us": pa.array(_TS, pa.timestamp("us")),
        "ts_ns": pa.array(_TS, pa.timestamp("ns")),
        "epoch_s": pa.array(_epoch(1), pa.int64()),
        "epoch_ms": pa.array(_epoch(1_000), pa.int64()),
        "epoch_us": pa.array(_epoch(1_000_000), pa.int64()),
        "epoch_ns": pa.array(_epoch(1_000_000_000), pa.int64()),
    }
    sf_dir = _write_events(tmp_path, arrays[encoding])
    got = {
        r["event_id"]: r["ts"]
        for r in load_table(spark, sf_dir, "events").select("event_id", "ts").collect()
    }
    # Coarser epoch units drop precision by construction; finer ones
    # must round-trip to the microsecond.
    if encoding == "epoch_s":
        expect = [t.replace(microsecond=0) for t in _TS]
    elif encoding == "epoch_ms":
        expect = [t.replace(microsecond=t.microsecond // 1000 * 1000) for t in _TS]
    else:
        expect = _TS
    assert got == {1: expect[0], 2: expect[1]}, (encoding, got)


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Lakehouse reality: feeds gain columns over time. Old files read
    through mergeSchema surface the new column as NULL — same
    missing→NULL semantics the ingest projection (P1) applies at write
    time, here at read time across file generations."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, v string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, v string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r["id"]: (r["v"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert set(merged.columns) == {"id", "v", "score"}


# ---------------------------------------------------------------------------
# r14 scan rebalance: a single-row-group parquet file scans as one task,
# so compute-heavy callers opt in to a round-robin rebalance to
# defaultParallelism. The rule must (a) fire only when asked, (b) keep
# filter pushdown and column pruning at the parquet scan, (c) respect
# the min/max byte guards, and (d) leave results identical.
# ---------------------------------------------------------------------------
def _write_orders_like(tmp_path, n=64) -> str:
    table = pa.table(
        {
            "o_orderkey": pa.array(list(range(n)), pa.int64()),
            "o_custkey": pa.array([i % 7 for i in range(n)], pa.int64()),
            "o_totalprice": pa.array([float(i) for i in range(n)]),
        }
    )
    pq.write_table(table, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_scan_rebalance_opt_in_only(spark, tmp_path, monkeypatch):
    import os

    from pyspark.sql import functions as F

    from ua2sql_spark import catalog

    sf_dir = _write_orders_like(tmp_path)
    monkeypatch.setattr(catalog, "_SCAN_REBALANCE_MIN_BYTES", 1)
    plain = load_table(spark, sf_dir, "orders")
    reb = load_table(spark, sf_dir, "orders", rebalance=True)
    assert "Exchange" not in plain._jdf.queryExecution().executedPlan().toString()
    plan = reb._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, "rebalance=True must add a round-robin exchange"
    # (b) pushdown + pruning survive the repartition
    filtered = (
        load_table(spark, sf_dir, "orders", rebalance=True)
        .filter(F.col("o_orderkey") <= 10)
        .select("o_custkey")
    )
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(o_orderkey,10)" in fplan
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in fplan
    # (d) identical results either way
    a = sorted(plain.collect())
    b = sorted(reb.collect())
    assert a == b
    # the split estimate honours spark.sql.files.maxPartitionBytes, which
    # Spark reads back with a unit suffix ('134217728b'): small enough
    # splits give every core a task, so no exchange is needed
    total = os.path.getsize(catalog.table_path(sf_dir, "orders"))
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.maxPartitionBytes", f"{max(total // cores, 1)}b")
    try:
        split = load_table(spark, sf_dir, "orders", rebalance=True)
        assert "Exchange" not in split._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    # (c) min-bytes guard: tiny table skips the exchange even when asked
    monkeypatch.setattr(catalog, "_SCAN_REBALANCE_MIN_BYTES", 1 << 30)
    guarded = load_table(spark, sf_dir, "orders", rebalance=True)
    assert "Exchange" not in guarded._jdf.queryExecution().executedPlan().toString()


def test_engine_reads_no_private_session_conf():
    """Static guard: the engine defines no ``spark.ua2sql.*`` session
    conf. A new knob needs a measured reason — whoever adds one edits
    this test and records that reason in CHANGES.md."""
    import pathlib

    import ua2sql_spark

    root = pathlib.Path(ua2sql_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "spark.ua2sql." in line
    ]
    assert hits == [], hits


# Top-level functions and classes that no root reaches but that stay, with
# the reason. An exempt name counts as a root, so its helpers need no entry.
UNREACHED_KEPT = {
    "sources.unity.split_corrupt": (
        "separates malformed export lines, which real feeds deliver; "
        "ROADMAP item 3 puts it on the landing path"
    ),
    "sources.jdbc.upsert_feed_jdbc": (
        "the idempotent JDBC upsert a stream's foreachBatch runs; "
        "ROADMAP item 1 gives it the cross-batch version order of the other sinks"
    ),
}


def test_every_engine_function_is_reached_from_a_root():
    """Static guard: every top-level function and class under
    ``ua2sql_spark/`` is reached by name from a root that runs outside
    the tests: a registered query, a module-level statement,
    ``__main__.main``, or what ``__spark_entry__``, ``bench.py`` and
    ``perfbench`` use. A definition only its own tests reach is dead
    weight: delete it, or move it to ``tests/helpers.py`` if tests need
    it. Whoever keeps one in the package wires it to a root or names it
    in ``UNREACHED_KEPT`` with the reason. No package is exempt.

    Names resolve through each module's imports (a function-local import
    binds for the whole module) and through package re-exports. An
    import alone reaches nothing; a name must be used. Module-level
    statements and ``@query`` registrations count only in a module that a
    root imports, directly or transitively, and a module that no root
    imports fails the guard by itself.

    A name is all this guard sees: a decoder counts as reached when a
    dispatcher names it, whether or not a query ever feeds it a payload.
    ``tests/test_media_codecs.py::test_every_codec_function_runs_under_a_query``
    closes that gap for the media codecs by running the media queries'
    per-row code and checking that every codec function executes."""
    import ast
    import pathlib

    import ua2sql_spark

    pkg = pathlib.Path(ua2sql_spark.__file__).parent
    repo = pkg.parent

    def module_name(path):
        parts = list(path.relative_to(repo).with_suffix("").parts)
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    outside = [repo / "__spark_entry__.py", repo / "bench.py", *sorted((repo / "perfbench").glob("*.py"))]
    paths = {module_name(p): p for p in [*pkg.rglob("*.py"), *outside]}
    trees = {m: ast.parse(p.read_text()) for m, p in paths.items()}
    defs = {
        m: {n.name: n for n in t.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
        for m, t in trees.items()
    }
    binds, imports = {}, {}
    for m, tree in trees.items():
        base = m.split(".") if paths[m].name == "__init__.py" else m.split(".")[:-1]
        b, imp = binds[m], imports[m] = {}, set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    b[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
                    imp.add(a.name)
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:
                    mod = ".".join(base[: len(base) - node.level + 1] + ([mod] if mod else []))
                imp.add(mod)
                for a in node.names:
                    b[a.asname or a.name] = f"{mod}.{a.name}"
                    imp.add(f"{mod}.{a.name}")

    # the modules that run: the roots' and every module they import
    outside_names = [m for m in paths if m.split(".")[0] != "ua2sql_spark"]
    loaded, todo = set(), ["ua2sql_spark.__main__", "ua2sql_spark.registry", *outside_names]
    while todo:
        parts = todo.pop().split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in paths and prefix not in loaded:
                loaded.add(prefix)
                todo += imports[prefix]

    def resolve(dotted, hops=0):
        """(module, top-level name) that a dotted path names, or None."""
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod = ".".join(parts[:i])
            if mod in paths:
                name = parts[i]
                if name in defs[mod]:
                    return mod, name
                if name in binds[mod] and hops < 10:  # a re-export
                    return resolve(".".join([binds[mod][name], *parts[i + 1 :]]), hops + 1)
                return None
        return None

    def used(module, nodes):
        """The definitions that names used in ``nodes`` resolve to."""
        for node in nodes:
            for sub in ast.walk(node):
                if isinstance(sub, ast.Attribute):
                    chain = [sub.attr]
                    head = sub.value
                    while isinstance(head, ast.Attribute):
                        chain.append(head.attr)
                        head = head.value
                    if not isinstance(head, ast.Name):
                        continue
                    name, rest = head.id, chain[::-1]
                elif isinstance(sub, ast.Name):
                    name, rest = sub.id, []
                else:
                    continue
                if name in defs[module]:
                    yield module, name
                elif name in binds[module]:
                    hit = resolve(".".join([binds[module][name], *rest]))
                    if hit is not None:
                        yield hit

    def registered(fn):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in fn.decorator_list
        )

    roots = [("ua2sql_spark.__main__", "main")]
    roots += [(f"ua2sql_spark.{k.rsplit('.', 1)[0]}", k.rsplit(".", 1)[1]) for k in UNREACHED_KEPT]
    for m, tree in ((m, t) for m, t in trees.items() if m in loaded):
        top = [n for n in tree.body if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
        for fn in defs[m].values():
            if m.split(".")[0] != "ua2sql_spark" or registered(fn):
                roots.append((m, fn.name))
            # decorators and defaults run when the module is imported
            top += [*fn.decorator_list, *getattr(fn, "bases", [])]
            if not isinstance(fn, ast.ClassDef):
                top += [*fn.args.defaults, *(d for d in fn.args.kw_defaults if d is not None)]
        roots += used(m, top)
    for m, name in roots:
        assert name in defs.get(m, {}), f"root {m}.{name} is not a top-level definition"
    reached = set(roots)
    todo = list(reached)
    while todo:
        m, name = todo.pop()
        for hit in used(m, [defs[m][name]]):
            if hit not in reached:
                reached.add(hit)
                todo.append(hit)
    engine = [m for m in defs if m.split(".")[0] == "ua2sql_spark"]
    unreached = sorted(
        [f"{m} (module)" for m in engine if m not in loaded]
        + [f"{m}.{name}" for m in engine for name in defs[m] if (m, name) not in reached]
    )
    assert unreached == [], "unreached: " + ", ".join(unreached)


def test_checkpoint_imports_no_pyspark():
    """Static guard: the JobId log is driver-local pyarrow, so
    ``sources/checkpoint.py`` imports nothing from ``pyspark``, at module
    level or inside a function."""
    import ast
    import pathlib

    import ua2sql_spark.sources.checkpoint as checkpoint

    tree = ast.parse(pathlib.Path(checkpoint.__file__).read_text())
    imported = [
        alias.name for node in ast.walk(tree) if isinstance(node, ast.Import) for alias in node.names
    ] + [node.module or "" for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)]
    assert [m for m in imported if m.split(".")[0] == "pyspark"] == [], imported


def test_engine_imports_no_test_helper():
    """Static guard: ``tests/helpers.py`` holds what only the tests
    call, so no module under ``ua2sql_spark/`` imports it or anything
    else from ``tests``, at module level or inside a function."""
    import ast
    import pathlib

    import ua2sql_spark

    root = pathlib.Path(ua2sql_spark.__file__).parent
    hits = []
    for p in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                names = [node.module or ""]
            else:
                continue
            hits += [f"{p.relative_to(root)}:{node.lineno} {n}" for n in names if n.split(".")[0] == "tests"]
    assert hits == [], hits


# ---------------------------------------------------------------------------
# Schema cache: a repeat load_table of unchanged files reads with the
# schema inferred last time and runs no Spark job; a rewritten, added or
# removed file re-infers (stat-listing key, see the catalog docstring).
# ---------------------------------------------------------------------------
def _jobs_run_by(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_table_runs_no_job(spark, tmp_path):
    sf_dir = _write_events(tmp_path, pa.array(_TS, pa.timestamp("ns")))
    _write_orders_like(tmp_path)
    for name in ("events", "orders"):
        first, jobs = _jobs_run_by(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == 1, (name, jobs)  # the schema-inference job
        again, jobs = _jobs_run_by(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, (name, jobs)
        assert again.schema == first.schema
        assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_events_file_reinfers_schema(spark, tmp_path):
    """A single-file table rewritten with another ts encoding (new size
    and mtime) must not be read with the stale schema."""
    sf_dir = _write_events(tmp_path, pa.array(_TS, pa.timestamp("us")))
    assert [r["ts"] for r in load_table(spark, sf_dir, "events").orderBy("event_id").collect()] == _TS
    _write_events(tmp_path, pa.array(_epoch(1), pa.int64()))
    got = [r["ts"] for r in load_table(spark, sf_dir, "events").orderBy("event_id").collect()]
    assert got == [t.replace(microsecond=0) for t in _TS]


def test_directory_table_file_set_changes_are_seen(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"o_orderkey": pa.array([i], pa.int64())}), str(table / f"part-{i}.parquet")
        )
    sf_dir = str(tmp_path)
    assert load_table(spark, sf_dir, "orders").count() == 2
    pq.write_table(pa.table({"o_orderkey": pa.array([2], pa.int64())}), str(table / "part-2.parquet"))
    added, jobs = _jobs_run_by(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 1  # a new file set re-infers
    assert sorted(r[0] for r in added.collect()) == [0, 1, 2]
    (table / "part-0.parquet").unlink()
    removed, jobs = _jobs_run_by(spark, lambda: load_table(spark, sf_dir, "orders"))
    assert jobs == 1
    assert sorted(r[0] for r in removed.collect()) == [1, 2]
