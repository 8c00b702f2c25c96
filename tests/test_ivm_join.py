"""Incrementally-maintained join views (operators/ivm_join.py): the
soundness invariant is recompute-equality — after any mutation sequence
on either base, the refreshed view must equal A ⋈ B rebuilt from
scratch — plus replay convergence and the no-op fast path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR  # noqa: F401


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _setup(spark, tmp_path):
    from ua2sql_spark.operators.ivm_join import build_join_view
    from ua2sql_spark.operators.snapshot import upsert_cow

    a_path, b_path, v_path = (
        str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    )
    a = _mk(spark, [(1, "g0", "a1"), (2, "g1", "a2"), (3, "g0", "a3"),
                    (4, "g1", "a4")],
            "k bigint, grp string, a_val string")
    b = _mk(spark, [(1, 10.0), (2, 20.0), (3, 30.0), (5, 50.0)],
            "k bigint, b_val double")
    upsert_cow(a, a_path, ["k"], "grp")
    upsert_cow(b, b_path, ["k"], "k")  # b partitions by its key
    build_join_view(spark, a_path, b_path, "k", "grp", v_path)
    return a_path, b_path, v_path


def _recompute(spark, a_path, b_path):
    from ua2sql_spark.operators.snapshot import read_snapshot

    a = read_snapshot(spark, a_path)
    b = read_snapshot(spark, b_path)
    return a.join(b.select("k", "b_val"), "k", "inner")


def _assert_view_equals_recompute(spark, a_path, b_path, v_path):
    from ua2sql_spark.operators.snapshot import read_snapshot

    cols = ["k", "grp", "a_val", "b_val"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in read_snapshot(spark, v_path).select(cols).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in _recompute(spark, a_path, b_path).select(cols).collect()
    )
    assert got == want


def test_build_then_mixed_mutations_stay_recompute_equal(spark, tmp_path):
    from ua2sql_spark.operators.ivm_join import refresh_join_view
    from ua2sql_spark.operators.snapshot import delete_cow, upsert_cow

    a_path, b_path, v_path = _setup(spark, tmp_path)
    _assert_view_equals_recompute(spark, a_path, b_path, v_path)

    # A side: update k=1, insert k=6 (joins: no b row -> absent), delete k=2
    upsert_cow(
        _mk(spark, [(1, "g0", "A1v2"), (6, "g1", "a6")],
            "k bigint, grp string, a_val string"),
        a_path, ["k"], "grp",
    )
    delete_cow(spark, a_path, F.col("k") == 2, "grp")
    m = refresh_join_view(spark, v_path)
    _assert_view_equals_recompute(spark, a_path, b_path, v_path)
    # k=1 updated (upsert), k=2's view row must be deleted
    assert m["deleted"] >= 1 and m["upserted"] >= 1

    # B side: update k=3, insert k=6 (now k=6 JOINS), delete k=1
    upsert_cow(_mk(spark, [(3, 33.0), (6, 60.0)], "k bigint, b_val double"),
               b_path, ["k"], "k")
    delete_cow(spark, b_path, F.col("k") == 1, "k")
    refresh_join_view(spark, v_path)
    _assert_view_equals_recompute(spark, a_path, b_path, v_path)
    got_keys = {
        r["k"]
        for r in _recompute(spark, a_path, b_path).select("k").collect()
    }
    assert 6 in got_keys and 1 not in got_keys


def test_refresh_is_noop_when_bases_unchanged(spark, tmp_path):
    from ua2sql_spark.operators.ivm_join import refresh_join_view
    from ua2sql_spark.operators.snapshot import latest_version

    a_path, b_path, v_path = _setup(spark, tmp_path)
    v_before = latest_version(spark, v_path)
    m = refresh_join_view(spark, v_path)
    assert m == {"upserted": 0, "deleted": 0, "a_version": 0, "b_version": 0}
    assert latest_version(spark, v_path) == v_before


def test_refresh_replay_converges(spark, tmp_path):
    """At-least-once: re-running a refresh against already-applied base
    versions (the crash-before-cursor-write window) must leave the view
    recompute-equal, not double-applied."""
    from ua2sql_spark.operators.ivm_join import (
        _read_cursor,
        _write_cursor,
        refresh_join_view,
    )
    from ua2sql_spark.operators.snapshot import upsert_cow

    a_path, b_path, v_path = _setup(spark, tmp_path)
    upsert_cow(
        _mk(spark, [(3, "g0", "A3v2")], "k bigint, grp string, a_val string"),
        a_path, ["k"], "grp",
    )
    refresh_join_view(spark, v_path)
    # simulate the crash window: cursor rolled back, refresh re-runs
    cur = _read_cursor(spark, v_path)
    _write_cursor(spark, v_path, {**cur, "a_version": 0})
    refresh_join_view(spark, v_path)
    _assert_view_equals_recompute(spark, a_path, b_path, v_path)


def test_build_rejects_non_key_column_collision(spark, tmp_path):
    from ua2sql_spark.operators.ivm_join import build_join_view
    from ua2sql_spark.operators.snapshot import upsert_cow

    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    upsert_cow(_mk(spark, [(1, "g0", "x")], "k bigint, grp string, v string"),
               a_path, ["k"], "grp")
    upsert_cow(_mk(spark, [(1, "y")], "k bigint, v string"),
               b_path, ["k"], "k")
    with pytest.raises(ValueError, match="collision"):
        build_join_view(spark, a_path, b_path, "k", "grp",
                        str(tmp_path / "v"))


def _as_of(history, version):
    """SCD2 rows whose validity interval covers ``version``."""
    return history.filter(
        (F.col("valid_from") <= version)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > version))
    )


def test_view_is_a_table_scd2_and_feed_compose(spark, tmp_path):
    """The maintained view is a real CoW table: its OWN change feed and
    an SCD2 history fold off it work exactly as they do on base tables
    — the view history as of v equals read_snapshot(view, v) at every
    view version across a refresh that upserts AND deletes."""
    from ua2sql_spark.operators.ivm_join import refresh_join_view
    from ua2sql_spark.operators.scd2 import build_scd2
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        list_versions,
        read_snapshot,
        upsert_cow,
    )

    a_path, b_path, v_path = _setup(spark, tmp_path)
    upsert_cow(
        _mk(spark, [(1, "g0", "A1v2")], "k bigint, grp string, a_val string"),
        a_path, ["k"], "grp",
    )
    delete_cow(spark, b_path, F.col("k") == 2, "k")
    refresh_join_view(spark, v_path)

    hist = build_scd2(spark, v_path, ["k"])
    for v in list_versions(spark, v_path):
        cols = ["k", "grp", "a_val", "b_val"]
        got = sorted(
            tuple(r[c] for c in cols)
            for r in _as_of(hist, v).select(cols).collect()
        )
        want = sorted(
            tuple(r[c] for c in cols)
            for r in read_snapshot(spark, v_path, v).select(cols).collect()
        )
        assert got == want, f"view version {v}"


def test_value_empty_feed_advances_cursor_without_view_commits(spark, tmp_path):
    """ADVICE r13 #4: a compaction-only commit on a base advances the
    base version but its change feed is value-empty — the refresh must
    advance the cursor WITHOUT committing empty upsert/delete versions
    on the view (no maintenance-pass version churn)."""
    from ua2sql_spark.operators.ivm_join import _read_cursor, refresh_join_view
    from ua2sql_spark.operators.snapshot import compact_snapshot, latest_version

    a_path, b_path, v_path = _setup(spark, tmp_path)
    # fragment then compact base A: one new base version, zero value change
    from ua2sql_spark.operators.snapshot import upsert_cow

    upsert_cow(
        _mk(spark, [(1, "g0", "a1")], "k bigint, grp string, a_val string"),
        a_path, ["k"], "grp",
    )  # same values as _setup wrote -> feed for THIS commit is value-empty
    compact_snapshot(spark, a_path, "grp", min_files=2)
    va1 = latest_version(spark, a_path)

    v_before = latest_version(spark, v_path)
    m = refresh_join_view(spark, v_path)
    assert m == {"upserted": 0, "deleted": 0, "a_version": va1, "b_version": 0}
    assert latest_version(spark, v_path) == v_before  # zero view commits
    assert _read_cursor(spark, v_path)["a_version"] == va1  # cursor advanced
    _assert_view_equals_recompute(spark, a_path, b_path, v_path)
    # and the advanced cursor makes the NEXT refresh the true no-op path
    assert refresh_join_view(spark, v_path)["a_version"] == va1


def test_cursor_read_fails_closed_on_staged_sidecar(spark, tmp_path):
    """ADVICE r13 #1: a writer crash between delete and rename leaves
    only the .tmp- stage; the cursor read must surface the rename-
    recovery diagnostic, not 'no cursor'."""
    from ua2sql_spark.operators.ivm_join import _CURSOR_SIDECAR, _read_cursor
    from ua2sql_spark.operators.snapshot import _jfs, _snap_root

    a_path, b_path, v_path = _setup(spark, tmp_path)
    jvm, fs, _ = _jfs(spark, v_path)
    HPath = jvm.org.apache.hadoop.fs.Path
    root = _snap_root(v_path)
    final = HPath(root, _CURSOR_SIDECAR)
    stage = HPath(root, f".tmp-{_CURSOR_SIDECAR}-deadbeef")
    assert fs.rename(final, stage)  # simulate the crash window
    with pytest.raises(ValueError, match="crashed between delete and rename"):
        _read_cursor(spark, v_path)
