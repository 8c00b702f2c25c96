"""Copy-on-write snapshots: time-travel reads, version diffs, commit
atomicity, and the vacuum retention contract (operators/snapshot.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR  # noqa: F401  (fixture wiring)


def _rows(df):
    return {(r["id"], r["day"]): r["val"] for r in df.collect()}


def test_cow_upsert_time_travel_and_diff(spark, tmp_path):
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        latest_version,
        list_versions,
        read_manifest,
        read_snapshot,
        snapshot_diff,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "id bigint, day string, val string",
    )
    base.write.partitionBy("day").parquet(path)
    assert bootstrap_snapshot(spark, path, "day") == 0
    assert list_versions(spark, path) == [0]
    assert _rows(read_snapshot(spark, path, 0)) == _rows(base)

    # v1: replace id=3 in d2, insert id=5 into d2; d1/d3 untouched
    batch = spark.createDataFrame(
        [(3, "d2", "C2"), (5, "d2", "e")], "id bigint, day string, val string"
    )
    v, written = upsert_cow(batch, path, ["id"], "day")
    assert (v, written) == (1, 2)

    # latest view merged; v0 still reads the ORIGINAL rows (time travel)
    assert _rows(read_snapshot(spark, path)) == {
        (1, "d1"): "a", (2, "d1"): "b", (3, "d2"): "C2",
        (4, "d3"): "d", (5, "d2"): "e",
    }
    assert _rows(read_snapshot(spark, path, 0)) == _rows(base)

    # untouched partitions share the SAME files across versions (no
    # rewrite); the touched one was replaced copy-on-write
    m0 = {r["partition"]: r["file"] for r in read_manifest(spark, path, 0).collect()}
    m1 = {r["partition"]: r["file"] for r in read_manifest(spark, path, 1).collect()}
    assert m0["day=d1"] == m1["day=d1"] and m0["day=d3"] == m1["day=d3"]
    assert m0["day=d2"] != m1["day=d2"]

    d = snapshot_diff(spark, path, 0, 1)
    assert len(d["added"]) >= 1 and len(d["removed"]) >= 1
    assert all("day=d2" in f for f in d["added"] + d["removed"])

    # v2: new partition d9 + touch d1
    batch2 = spark.createDataFrame(
        [(1, "d1", "A!"), (9, "d9", "nine")], "id bigint, day string, val string"
    )
    v2, written2 = upsert_cow(batch2, path, ["id"], "day")
    assert v2 == 2 and written2 == 3  # batch 2 + carried id=2
    assert latest_version(spark, path) == 2
    got2 = _rows(read_snapshot(spark, path))
    assert got2[(1, "d1")] == "A!" and got2[(9, "d9")] == "nine"
    assert len(got2) == 6
    # every earlier version still exact
    assert _rows(read_snapshot(spark, path, 1))[(1, "d1")] == "a"
    assert (9, "d9") not in _rows(read_snapshot(spark, path, 1))

    # Latest-wins inside one batch, whichever order the two versions of
    # id=6 arrive in: the greater submit_time is the committed row.
    old, new = (6, "d4", "old", 1), (6, "d4", "new", 2)
    for n, versions in enumerate([[old, new], [new, old]]):
        b = spark.createDataFrame(
            versions, "id bigint, day string, val string, submit_time bigint"
        )
        p = str(tmp_path / f"latest{n}")
        assert upsert_cow(b, p, ["id"], "day") == (0, 1)
        assert _rows(read_snapshot(spark, p)) == {(6, "d4"): "new"}


def test_cow_fresh_table_and_guard_rails(spark, tmp_path):
    from ua2sql_spark.operators.snapshot import (
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "fresh")
    batch = spark.createDataFrame(
        [(1, "d1", "x")], "id bigint, day string, val string"
    )
    v, n = upsert_cow(batch, path, ["id"], "day")
    assert (v, n) == (0, 1)
    assert _rows(read_snapshot(spark, path)) == {(1, "d1"): "x"}

    # an existing table WITHOUT snapshots must demand a bootstrap, not
    # silently shadow its rows
    path2 = str(tmp_path / "unadopted")
    batch.write.partitionBy("day").parquet(path2)
    with pytest.raises(ValueError, match="bootstrap"):
        upsert_cow(batch, path2, ["id"], "day")


def test_touched_partition_bound_rejects_before_writing(spark, tmp_path, monkeypatch):
    """The one touched-partition bound (merge.MAX_TOUCHED_PARTITIONS)
    guards all three partition-scoped writers: past it, upsert_parquet,
    upsert_cow and delete_cow raise before writing a file or a version."""
    from ua2sql_spark.operators import merge
    from ua2sql_spark.operators.snapshot import delete_cow, latest_version, upsert_cow

    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "b")], "id bigint, day string, val string"
    )
    pq, cow = str(tmp_path / "pq"), str(tmp_path / "cow")
    merge.upsert_parquet(base, pq, ["id"], "day")
    upsert_cow(base, cow, ["id"], "day")
    files = sorted(spark.read.parquet(pq).inputFiles())

    monkeypatch.setattr(merge, "MAX_TOUCHED_PARTITIONS", 1)
    with pytest.raises(ValueError, match="partitions touched"):
        merge.upsert_parquet(base, pq, ["id"], "day")
    assert sorted(spark.read.parquet(pq).inputFiles()) == files
    with pytest.raises(ValueError, match="partitions touched"):
        upsert_cow(base, cow, ["id"], "day")
    with pytest.raises(ValueError, match="partitions touched"):
        delete_cow(spark, cow, F.col("id") > 0, "day")
    assert latest_version(spark, cow) == 0


def test_staged_manifest_never_visible_as_version(spark, tmp_path):
    """Commit atomicity: a staged (pre-rename) manifest directory is
    not a version — readers see the previous version until the rename."""
    from ua2sql_spark.operators.snapshot import (
        _snap_root,
        list_versions,
        upsert_cow,
    )
    import os

    path = str(tmp_path / "tbl")
    batch = spark.createDataFrame(
        [(1, "d1", "x")], "id bigint, day string, val string"
    )
    upsert_cow(batch, path, ["id"], "day")
    # simulate a writer that crashed before its commit rename
    os.makedirs(f"{_snap_root(path)}/.tmp-deadbeef", exist_ok=True)
    os.makedirs(f"{_snap_root(path)}/v9-not-a-version", exist_ok=True)
    assert list_versions(spark, path) == [0]


def test_vacuum_retention_respects_retained_snapshots(spark, tmp_path):
    """vacuum against live_files_union keeps every retained version's
    files; vacuum against only the LATEST manifest ends time travel —
    the Delta-VACUUM retention contract, stated and tested."""
    from ua2sql_spark.operators.layout import vacuum_orphans
    from ua2sql_spark.operators.snapshot import (
        live_files_union,
        read_manifest,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([(1, "d1", "a")], "id bigint, day string, val string")
    b2 = spark.createDataFrame([(1, "d1", "b")], "id bigint, day string, val string")
    upsert_cow(b1, path, ["id"], "day")
    upsert_cow(b2, path, ["id"], "day")

    # union-manifest vacuum: nothing to delete (age floor 0 to force)
    gone = vacuum_orphans(
        spark, path, live_files_union(spark, path), max_age_hours=0.0, dry_run=False
    )
    assert gone == []
    assert _rows(read_snapshot(spark, path, 0)) == {(1, "d1"): "a"}

    # latest-only vacuum: v0's file is an orphan; v1 survives intact
    gone2 = vacuum_orphans(
        spark,
        path,
        read_manifest(spark, path, 1).select("file"),
        max_age_hours=0.0,
        dry_run=False,
    )
    assert len(gone2) == 1
    assert _rows(read_snapshot(spark, path, 1)) == {(1, "d1"): "b"}


def test_compact_snapshot_and_rollback(spark, tmp_path):
    from ua2sql_spark.operators.snapshot import (
        compact_snapshot,
        read_manifest,
        read_snapshot,
        rollback,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    # many small writes into d1 -> several live files in its partition
    for i in range(3):
        b = spark.createDataFrame(
            [(100 + i, "d1", f"v{i}"), (1, "d2", "z")],
            "id bigint, day string, val string",
        ).repartition(2)
        upsert_cow(b, path, ["id"], "day")
    m = read_manifest(spark, path, 2)
    n_d1 = m.filter(F.col("partition") == "day=d1").count()
    assert n_d1 >= 2  # fragmented
    before_rows = _rows(read_snapshot(spark, path))

    v, compacted = compact_snapshot(spark, path, "day")
    assert v == 3 and "day=d1" in compacted
    m3 = read_manifest(spark, path, 3)
    assert m3.filter(F.col("partition") == "day=d1").count() == 1
    # identical data, and the pre-compaction version still readable
    assert _rows(read_snapshot(spark, path)) == before_rows
    assert _rows(read_snapshot(spark, path, 2)) == before_rows

    # an already-compact table is a no-op (no new version)
    v_again, c_again = compact_snapshot(spark, path, "day")
    assert (v_again, c_again) == (3, [])

    # rollback: manifest-only restore of v0's view as v4
    v4 = rollback(spark, path, 0)
    assert v4 == 4
    assert _rows(read_snapshot(spark, path)) == _rows(read_snapshot(spark, path, 0))
    # history intact
    assert _rows(read_snapshot(spark, path, 3)) == before_rows


def test_schema_evolution_across_versions(spark, tmp_path):
    """A batch that ADDS a column merges cleanly: carried rows in the
    touched partition read the new column as NULL; untouched partitions
    keep their old files and read_snapshot(merge_schema=True) unions
    the schemas (old files' missing column = NULL)."""
    from ua2sql_spark.operators.snapshot import read_snapshot, upsert_cow

    path = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "id bigint, day string, val string",
    )
    upsert_cow(b0, path, ["id"], "day")

    # v1 adds a 'quality' column, touching only d1
    b1 = spark.createDataFrame(
        [(1, "d1", "A", 0.9)], "id bigint, day string, val string, quality double"
    )
    upsert_cow(b1, path, ["id"], "day")

    latest = read_snapshot(spark, path, merge_schema=True)
    assert set(latest.columns) == {"id", "day", "val", "quality"}
    got = {r["id"]: (r["val"], r["quality"]) for r in latest.collect()}
    assert got == {1: ("A", 0.9), 2: ("b", None), 3: ("c", None)}
    # v0 unchanged, still old schema
    v0 = read_snapshot(spark, path, 0)
    assert set(v0.columns) == {"id", "day", "val"}
    assert v0.count() == 3


def test_snapshot_changes_row_level_cdf(spark, tmp_path):
    """Change feed between versions: inserts, pre/post update images,
    deletes-by-omission none (upserts never delete), and carried-
    verbatim keys in rewritten partitions are NOT reported as changes."""
    from ua2sql_spark.operators.snapshot import snapshot_changes, upsert_cow

    path = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "id bigint, day string, val string",
    )
    upsert_cow(b0, path, ["id"], "day")
    # v1: update id=1, insert id=9, carry id=2 verbatim (d1 rewritten)
    b1 = spark.createDataFrame(
        [(1, "d1", "A!"), (9, "d1", "nine")], "id bigint, day string, val string"
    )
    upsert_cow(b1, path, ["id"], "day")

    ch = snapshot_changes(spark, path, 0, 1, ["id"])
    got = {(r["id"], r["_change_type"]): r["val"] for r in ch.collect()}
    assert got == {
        (9, "insert"): "nine",
        (1, "update_preimage"): "a",
        (1, "update_postimage"): "A!",
    }, got
    # the strong contract held above: id=2 (carried verbatim into the
    # rewritten d1 file) and id=3 (untouched partition) do NOT appear


def test_snapshot_changes_detects_evolved_column_only_updates(spark, tmp_path):
    """An update whose ONLY difference is a newly-added column must
    still register as a change (the old side reads the evolved column
    as NULL, so the full-row compare runs over the NEW schema)."""
    from ua2sql_spark.operators.snapshot import snapshot_changes, upsert_cow

    path = str(tmp_path / "tbl")
    upsert_cow(
        spark.createDataFrame([(1, "d1", "a")], "id bigint, day string, val string"),
        path, ["id"], "day",
    )
    # v1: same id, same val — only the NEW quality column carries info
    upsert_cow(
        spark.createDataFrame(
            [(1, "d1", "a", 0.7)], "id bigint, day string, val string, quality double"
        ),
        path, ["id"], "day",
    )
    ch = snapshot_changes(spark, path, 0, 1, ["id"])
    got = {(r["id"], r["_change_type"]): r["quality"] for r in ch.collect()}
    assert got == {(1, "update_preimage"): None, (1, "update_postimage"): 0.7}, got


def test_compact_handles_escaped_partition_values(spark, tmp_path):
    """Regression (round-6 review): compact_snapshot used to split the
    manifest's dir name back into a value and RE-escape it, so a
    partition whose value Hive escapes (here 'a:b' -> 'day=a%3Ab')
    listed a nonexistent directory and silently VANISHED from the new
    version."""
    from ua2sql_spark.operators.snapshot import (
        compact_snapshot,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    # two upserts -> the a:b partition holds >=2 files, eligible to compact
    upsert_cow(
        spark.createDataFrame(
            [(1, "a:b", "x"), (2, "plain", "y")],
            "id bigint, day string, val string",
        ),
        path,
        ["id"],
        "day",
    )
    upsert_cow(
        spark.createDataFrame(
            [(3, "a:b", "z")], "id bigint, day string, val string"
        ),
        path,
        ["id"],
        "day",
    )
    before = _rows(read_snapshot(spark, path))
    assert before == {(1, "a:b"): "x", (2, "plain"): "y", (3, "a:b"): "z"}
    v, compacted = compact_snapshot(spark, path, "day")
    assert compacted == ["day=a%3Ab"]
    # every row survives compaction, including the escaped partition's
    assert _rows(read_snapshot(spark, path, v)) == before
    # and the compacted partition really is one file now
    from ua2sql_spark.operators.snapshot import read_manifest

    m = read_manifest(spark, path, v)
    assert m.filter(F.col("partition") == "day=a%3Ab").count() == 1


def test_snapshot_changes_keeps_null_keyed_rows(spark, tmp_path):
    """Regression (round-6 review): presence was classified on the key
    VALUE's nullity, so null-keyed rows (legal — upsert_cow joins keys
    null-safely) fell out of every change bucket."""
    from ua2sql_spark.operators.snapshot import snapshot_changes, upsert_cow

    path = str(tmp_path / "tbl")
    upsert_cow(
        spark.createDataFrame(
            [(None, "d1", "null-v0"), (1, "d1", "a")],
            "id bigint, day string, val string",
        ),
        path,
        ["id"],
        "day",
    )
    upsert_cow(
        spark.createDataFrame(
            [(None, "d1", "null-v1"), (2, "d1", "b")],
            "id bigint, day string, val string",
        ),
        path,
        ["id"],
        "day",
    )
    feed = {
        (r["id"], r["_change_type"]): r["val"]
        for r in snapshot_changes(spark, path, 0, 1, ["id"]).collect()
    }
    assert feed[(None, "update_preimage")] == "null-v0"
    assert feed[(None, "update_postimage")] == "null-v1"
    assert feed[(2, "insert")] == "b"
    assert (1, "update_preimage") not in feed  # unchanged row: no event


def test_version_numbers_beyond_six_digits_stay_visible():
    """{:06d} is a pad MINIMUM — v1000000 must still parse or the
    single writer wedges at the millionth micro-batch."""
    from ua2sql_spark.operators.snapshot import _VER_RE, snapshot_path

    name = snapshot_path("/t", 1_000_000).rsplit("/", 1)[-1]
    assert name == "v1000000"
    m = _VER_RE.match(name)
    assert m and int(m.group(1)) == 1_000_000
    assert _VER_RE.match("v000001")
    assert not _VER_RE.match(".tmp-abc") and not _VER_RE.match("v12")


def test_changes_since_tags_commits_and_resumes(spark, tmp_path):
    """Incremental CDF: per-commit steps tagged _commit_version (a key
    updated twice appears under both versions), and a consumer resuming
    from the last version it applied sees only later commits."""
    from ua2sql_spark.operators.snapshot import changes_since, upsert_cow

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, day string, val string"
    )
    upsert_cow(mk([(1, "d1", "a"), (2, "d1", "b")]), path, ["id"], "day")  # v0
    upsert_cow(mk([(1, "d1", "a1")]), path, ["id"], "day")                 # v1
    upsert_cow(mk([(1, "d1", "a2"), (3, "d2", "c")]), path, ["id"], "day") # v2

    feed = changes_since(spark, path, 0, ["id"]).collect()
    got = {(r["id"], r["_commit_version"], r["_change_type"]): r["val"] for r in feed}
    assert got[(1, 1, "update_preimage")] == "a"
    assert got[(1, 1, "update_postimage")] == "a1"
    assert got[(1, 2, "update_preimage")] == "a1"
    assert got[(1, 2, "update_postimage")] == "a2"
    assert got[(3, 2, "insert")] == "c"
    assert not any(k[0] == 2 for k in got)  # untouched after v0: no event

    # from the very beginning (-1): v0's initial rows arrive as inserts
    # (Delta startingVersion=0 semantics) — key 2 is now delivered
    full = changes_since(spark, path, -1, ["id"]).collect()
    fgot = {(r["id"], r["_commit_version"], r["_change_type"]): r["val"] for r in full}
    assert fgot[(1, 0, "insert")] == "a" and fgot[(2, 0, "insert")] == "b"
    assert len(full) == len(feed) + 2

    # a vacuumed/never-committed base version must fail with the
    # re-bootstrap message, not silently skip
    import pytest as _pytest

    with _pytest.raises(ValueError, match="re-bootstrap"):
        changes_since(spark, path, 99, ["id"])

    # resuming at the latest version yields nothing; a later commit
    # yields only its own changes
    assert changes_since(spark, path, 2, ["id"]).count() == 0
    upsert_cow(mk([(2, "d1", "b1")]), path, ["id"], "day")                 # v3
    rows3 = {
        (r["id"], r["_commit_version"], r["_change_type"])
        for r in changes_since(spark, path, 2, ["id"]).collect()
    }
    assert rows3 == {(2, 3, "update_preimage"), (2, 3, "update_postimage")}


def test_changes_since_spans_schema_evolving_commit(spark, tmp_path):
    """Regression (round-6 review): a column-adding commit inside the
    polled range used to crash the unionByName of per-commit steps;
    older steps now read the evolved column as NULL."""
    from ua2sql_spark.operators.snapshot import changes_since, upsert_cow

    path = str(tmp_path / "tbl")
    upsert_cow(
        spark.createDataFrame([(1, "d1", "a")], "id bigint, day string, val string"),
        path, ["id"], "day",
    )                                                                      # v0
    upsert_cow(
        spark.createDataFrame([(2, "d1", "b")], "id bigint, day string, val string"),
        path, ["id"], "day",
    )                                                                      # v1
    upsert_cow(
        spark.createDataFrame(
            [(1, "d1", "a2", 0.9)],
            "id bigint, day string, val string, quality double",
        ),
        path, ["id"], "day",
    )                                                                      # v2 adds a column
    rows = changes_since(spark, path, -1, ["id"]).collect()
    by = {(r["id"], r["_commit_version"], r["_change_type"]): r for r in rows}
    assert by[(1, 0, "insert")]["val"] == "a"
    assert by[(1, 0, "insert")].asDict().get("quality") is None
    assert by[(1, 2, "update_postimage")]["quality"] == 0.9


def test_change_feed_reconstructs_any_version(spark, tmp_path):
    """The CDF soundness invariant: for ANY pair of versions, applying
    the change feed to the old snapshot — drop delete/update_preimage
    keys, add insert/update_postimage rows — reproduces the new
    snapshot exactly. This is what downstream replicas DO with the
    feed, so it is the contract that matters."""
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, day string, val string"
    )
    batches = [
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (None, "d2", "n0")],
        [(1, "d1", "a1"), (4, "d3", "d")],
        [(2, "d1", "b1"), (3, "d2", "c1"), (5, "d1", "e")],
        [(None, "d2", "n1"), (1, "d1", "a2")],
    ]
    for b in batches:
        upsert_cow(mk(b), path, ["id"], "day")

    def rows(df):
        return {
            (r["id"], r["day"], r["val"]) for r in df.select("id", "day", "val").collect()
        }

    for v_old in range(0, 3):
        for v_new in range(v_old + 1, 4):
            feed = changes_since(spark, path, v_old, ["id"], v_new).collect()
            state = rows(read_snapshot(spark, path, v_old))
            # apply commits in order — each step's keyed images
            for v in sorted({r["_commit_version"] for r in feed}):
                step = [r for r in feed if r["_commit_version"] == v]
                gone = {
                    r["id"]
                    for r in step
                    if r["_change_type"] in ("delete", "update_preimage")
                }
                state = {t for t in state if t[0] not in gone}
                state |= {
                    (r["id"], r["day"], r["val"])
                    for r in step
                    if r["_change_type"] in ("insert", "update_postimage")
                }
            assert state == rows(read_snapshot(spark, path, v_new)), (
                v_old,
                v_new,
            )


def test_incremental_view_maintenance_matches_rebuild(spark, tmp_path):
    """IVM soundness: bootstrapping the COUNT/SUM view at v0 and
    refreshing it from each commit's change feed yields EXACTLY the
    view rebuilt from scratch at the final version — updates and
    deletes included (the append-only rollup cannot do this)."""
    from ua2sql_spark.operators.ivm import (
        build_view,
        read_view,
        refresh_from_feed,
    )
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        read_snapshot,
        rollback,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, grp string, amount double"
    )
    upsert_cow(
        mk([(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0)]), path, ["id"], "grp"
    )                                                                      # v0
    build_view(read_snapshot(spark, path, 0), "grp", "amount", view)

    upsert_cow(mk([(1, "a", 12.5), (4, "c", 1.0)]), path, ["id"], "grp")   # v1
    upsert_cow(mk([(2, "a", 0.25), (5, "b", 3.0)]), path, ["id"], "grp")   # v2

    def view_state():
        return {
            r["grp"]: (r["n"], r["sum_value"], r["avg_value"])
            for r in read_view(spark, view).collect()
        }

    def rebuilt_state(version=None):
        return {
            r["grp"]: (r["n"], float(r["s"]), float(r["s"]) / r["n"])
            for r in read_snapshot(spark, path, version)
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("amount").cast("decimal(28,8)")).alias("s"),
            )
            .collect()
        }

    pos = 0
    for v in (1, 2):
        feed = changes_since(spark, path, pos, ["id"], v)
        assert refresh_from_feed(spark, view, feed, "grp", "amount") > 0
        pos = v

    assert view_state() == rebuilt_state(2)

    # deletes: roll back to v0 — group "c" (born in v1) vanishes
    # ENTIRELY, so its hash bucket holds no surviving groups; "a"/"b"
    # revert to their v0 aggregates. This drives the -1 branch of the
    # signed delta AND the emptied-bucket erase (dynamic partition
    # overwrite alone would leave the stale bucket=… directory and a
    # phantom "c" in the view).
    v3 = rollback(spark, path, 0)
    feed = changes_since(spark, path, pos, ["id"], v3)
    assert refresh_from_feed(spark, view, feed, "grp", "amount") > 0
    got = view_state()
    assert "c" not in got, got
    assert got == rebuilt_state(v3), (got, rebuilt_state(v3))


def test_hive_escape_parity_with_jvm(spark):
    """The sinks name partition directories with the pure-Python
    ``escape_path_name`` only; it must match Spark's own (private)
    ExternalCatalogUtils.escapePathName bit-for-bit on reserved
    characters, or a probe would miss the directory the writer made and
    the rewrite would silently drop that partition's carried rows."""
    from ua2sql_spark.operators.merge import escape_path_name

    jvm_esc = (
        spark.sparkContext._jvm.org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName
    )
    tricky = [
        "plain",
        "with space",
        "a/b",
        "a\\b",
        "a:b=c",
        'q"uote',
        "per%cent",
        "hash#star*",
        "quo'te",
        "br[ack]ets{^}",
        "quest?ion",
        "tab\there",
        "new\nline",
        "del\x7f",
        "\x01ctl\x1f",
        "unicode-é-日本",
        "",
    ]
    for s in tricky:
        assert escape_path_name(s) == jvm_esc(s), repr(s)


def test_upsert_cow_rejects_batch_missing_target_columns(spark, tmp_path):
    """ADVICE r6 #2: a batch missing a target data column must fail
    loudly — projecting carried rows onto batch.columns would silently
    drop that column for every rewritten partition."""
    from ua2sql_spark.operators.snapshot import read_snapshot, upsert_cow

    path = str(tmp_path / "tbl")
    full = spark.createDataFrame(
        [(1, "d1", 10.0, "x")], "id bigint, day string, val double, note string"
    )
    upsert_cow(full, path, ["id"], "day")
    narrow = spark.createDataFrame(
        [(2, "d1", 5.0)], "id bigint, day string, val double"
    )
    with pytest.raises(ValueError, match="missing target columns.*note"):
        upsert_cow(narrow, path, ["id"], "day")
    # the failed upsert committed nothing: still one version, one row
    snap = read_snapshot(spark, path)
    assert snap.count() == 1 and "note" in snap.columns


def test_ivm_versioned_refresh_is_atomic(spark, tmp_path):
    """ADVICE r6 #3: the view is manifest-versioned — an orphan data
    directory (a refresh that crashed before its manifest commit) is
    invisible to readers, and vacuum reclaims unreferenced data dirs
    without disturbing the live version."""
    from ua2sql_spark.operators.ivm import (
        build_view,
        list_view_versions,
        read_view,
        refresh_from_feed,
        vacuum_view,
    )
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, grp string, amount double"
    )
    upsert_cow(mk([(1, "a", 10.0), (2, "b", 4.0)]), path, ["id"], "grp")  # v0
    build_view(read_snapshot(spark, path, 0), "grp", "amount", view)
    assert list_view_versions(spark, view) == [0]
    before = {r["grp"]: r["n"] for r in read_view(spark, view).collect()}

    # simulate a torn refresh: a data dir lands but no manifest commit
    orphan = tmp_path / "view" / "d-deadbeef" / "bucket=3"
    orphan.mkdir(parents=True)
    from decimal import Decimal

    spark.createDataFrame(
        [("zz", 99, Decimal("1.0"))], "grp string, n bigint, sum_value decimal(28,8)"
    ).coalesce(1).write.mode("overwrite").parquet(str(orphan))
    after = {r["grp"]: r["n"] for r in read_view(spark, view).collect()}
    assert after == before  # reader never sees the torn write

    upsert_cow(mk([(3, "a", 2.0)]), path, ["id"], "grp")  # v1
    feed = changes_since(spark, path, 0, ["id"], 1)
    assert refresh_from_feed(spark, view, feed, "grp", "amount") > 0
    assert list_view_versions(spark, view) == [0, 1]
    got = {r["grp"]: r["n"] for r in read_view(spark, view).collect()}
    assert got == {"a": 2, "b": 1}
    # pinned read of the old version still works (time travel)
    old = {r["grp"]: r["n"] for r in read_view(spark, view, version=0).collect()}
    assert old == {"a": 1, "b": 1}

    # vacuum keep=1: v0 manifest + the orphan dir go; latest survives
    assert vacuum_view(spark, view, keep_versions=1) >= 1
    assert list_view_versions(spark, view) == [1]
    assert {r["grp"]: r["n"] for r in read_view(spark, view).collect()} == got


def test_upsert_cow_rejects_narrow_batch_touching_only_new_partitions(
    spark, tmp_path
):
    """ADVICE r7 #3: the missing-column guard must hold even when the
    batch touches ONLY brand-new partitions (live_touched empty) — the
    schema is validated against the latest committed version's FULL
    schema (manifest sidecar), not the touched-partition slice."""
    from ua2sql_spark.operators.snapshot import (
        read_snapshot,
        table_schema,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    full = spark.createDataFrame(
        [(1, "d1", 10.0, "x")], "id bigint, day string, val double, note string"
    )
    upsert_cow(full, path, ["id"], "day")
    # the commit recorded the logical schema
    sch = table_schema(spark, path, 0)
    assert sch is not None and set(sch.names) == {"id", "day", "val", "note"}
    # a narrow batch into a NEVER-SEEN partition must still fail
    narrow = spark.createDataFrame(
        [(2, "d9", 5.0)], "id bigint, day string, val double"
    )
    with pytest.raises(ValueError, match="missing target columns.*note"):
        upsert_cow(narrow, path, ["id"], "day")
    snap = read_snapshot(spark, path)
    assert snap.count() == 1 and "note" in snap.columns
    # widening into a new partition is fine, and the sidecar evolves
    wide = spark.createDataFrame(
        [(3, "d9", 1.0, "y", 7)],
        "id bigint, day string, val double, note string, extra bigint",
    )
    upsert_cow(wide, path, ["id"], "day")
    assert "extra" in table_schema(spark, path, 1).names


def test_vacuum_view_survives_path_respelling_and_bigint_groups(spark, tmp_path):
    """ADVICE r7 #5 + VERDICT r7 wrong-#3: vacuum liveness compares
    d-<uuid> basenames (a file:// or trailing-slash spelling of the
    view path must not delete live data), and a BIGINT group column
    round-trips through the all-groups-deleted empty case with its
    real type, not a hardcoded string."""
    from ua2sql_spark.operators.ivm import (
        build_view,
        read_view,
        refresh_from_feed,
        vacuum_view,
    )
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, grp bigint, amount double"
    )
    upsert_cow(mk([(1, 10, 4.0), (2, 20, 6.0)]), path, ["id"], "grp")  # v0
    build_view(read_snapshot(spark, path, 0), "grp", "amount", view)
    upsert_cow(mk([(3, 10, 1.0)]), path, ["id"], "grp")                # v1
    refresh_from_feed(spark, view, changes_since(spark, path, 0, ["id"], 1),
                      "grp", "amount")
    live = {r["grp"]: r["n"] for r in read_view(spark, view).collect()}
    assert live == {10: 2, 20: 1}

    # vacuum with a differently-spelled (file:// + trailing slash) view
    # path: with full-string comparison every live dir would "mismatch"
    # and be deleted — basename comparison keeps the view readable
    assert vacuum_view(spark, f"file://{view}/", keep_versions=1) >= 0
    assert {r["grp"]: r["n"] for r in read_view(spark, view).collect()} == live

    # delete every row via a synthetic change feed -> EMPTY view whose
    # grp column still reads back as BIGINT (not the old hardcoded
    # "grp string" fallback)
    feed = spark.createDataFrame(
        [(1, 10, 4.0, "delete"), (3, 10, 1.0, "delete"), (2, 20, 6.0, "delete")],
        "id bigint, grp bigint, amount double, _change_type string",
    )
    pre_dtype = dict(read_view(spark, view).dtypes)["grp"]
    refresh_from_feed(spark, view, feed, "grp", "amount")
    empty = read_view(spark, view)
    assert empty.count() == 0
    # the empty view reports the view's own committed group type (an
    # integer width here), never the old hardcoded "grp string"
    assert dict(empty.dtypes)["grp"] == pre_dtype != "string"


def test_versioned_data_skipping(spark, tmp_path):
    """read_snapshot(where=...) prunes files via the version's COMMITTED
    stats: exact results, strict file subset, per-version independence
    (time travel prunes with the old version's stats), conservative
    keep for files never covered by stats, and propagation through
    compaction and rollback."""
    from ua2sql_spark.operators.manifest import prune_files
    from ua2sql_spark.operators.snapshot import (
        compact_snapshot,
        read_manifest,
        read_snapshot,
        rollback,
        snapshot_stats,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val double")

    # v0 committed WITHOUT stats (the pre-stats legacy case)
    upsert_cow(mk([(i, "d1", float(i)) for i in range(0, 100)]), path, ["id"], "day")
    assert snapshot_stats(spark, path, 0) is None
    # where= on a stats-less version: exact, nothing pruned
    got = read_snapshot(spark, path, 0, where=("id", 10, 19)).count()
    assert got == 10

    # v1 adds a disjoint id range in a new partition, WITH stats
    upsert_cow(
        mk([(i, "d2", float(i)) for i in range(1000, 1100)]),
        path, ["id"], "day", stats_cols=["id"],
    )
    s1 = snapshot_stats(spark, path, 1)
    assert s1 is not None
    # only the v1-written file is covered; v0's carried file is absent
    n_files = read_manifest(spark, path, 1).count()
    assert s1.select("file").distinct().count() < n_files

    # pruned read: exact rows from the covered range...
    assert read_snapshot(spark, path, 1, where=("id", 1000, 1009)).count() == 10
    # ...and the UNCOVERED file is kept conservatively (v0 rows found)
    assert read_snapshot(spark, path, 1, where=("id", 10, 19)).count() == 10

    # v2 rewrites d1 with stats -> now every file is covered
    upsert_cow(
        mk([(i, "d1", float(i)) for i in range(0, 100)]),
        path, ["id"], "day", stats_cols=["id"],
    )
    s2 = snapshot_stats(spark, path, 2)
    files2 = {r["file"] for r in read_manifest(spark, path, 2).collect()}
    assert {r["file"] for r in s2.select("file").distinct().collect()} == files2
    # the prune decision is a strict subset for a range hitting one file
    kept = prune_files(s2, "id", 1000, 1009)
    assert kept is not None and 0 < len(kept) < len(files2)
    assert read_snapshot(spark, path, 2, where=("id", 1000, 1009)).count() == 10
    # zero-overlap range -> empty, schema intact
    empty = read_snapshot(spark, path, 2, where=("id", 10**9, 2 * 10**9))
    assert empty.count() == 0 and set(empty.columns) == {"id", "day", "val"}
    # time travel still prunes with v1's OWN stats
    assert read_snapshot(spark, path, 1, where=("id", 1000, 1009)).count() == 10

    # compaction recomputes stats for coalesced files, carries the rest
    v3, compacted = compact_snapshot(spark, path, "day")
    if compacted:  # d1 may or may not be fragmented enough
        s3 = snapshot_stats(spark, path, v3)
        files3 = {r["file"] for r in read_manifest(spark, path, v3).collect()}
        assert {r["file"] for r in s3.select("file").distinct().collect()} == files3
        assert read_snapshot(spark, path, v3, where=("id", 1000, 1009)).count() == 10

    # rollback propagates the restored version's stats
    v_rb = rollback(spark, path, 2)
    assert snapshot_stats(spark, path, v_rb) is not None
    assert read_snapshot(spark, path, v_rb, where=("id", 0, 9)).count() == 10


def test_delete_cow_compliance_path(spark, tmp_path):
    """Row-level CoW DELETE: matching rows gone from the new version,
    prior versions intact (time travel), fully-emptied partitions
    vanish by manifest absence, the change feed emits the erasure as
    delete events (so IVM applies it), NULL predicate rows are KEPT
    (SQL DELETE semantics), stats propagate, and vacuum afterwards
    hard-erases the pre-delete files."""
    from ua2sql_spark.operators.ivm import build_view, read_view, refresh_from_feed
    from ua2sql_spark.operators.layout import vacuum_orphans
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        delete_cow,
        delete_versions_before,
        read_manifest,
        read_snapshot,
        snapshot_stats,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    view = str(tmp_path / "view")
    mk = lambda rows: spark.createDataFrame(
        rows, "id bigint, day string, user string, val double"
    )
    upsert_cow(
        mk([
            (1, "d1", "alice", 1.0), (2, "d1", "bob", 2.0),
            (3, "d2", "alice", 3.0), (4, "d3", None, 4.0),
        ]),
        path, ["id"], "day", stats_cols=["id"],
    )                                                                     # v0
    build_view(read_snapshot(spark, path, 0), "day", "val", view)

    # forget alice: rows 1 and 3 go; d2 empties entirely; NULL user kept
    v, n = delete_cow(spark, path, F.col("user") == "alice", "day")
    assert (v, n) == (1, 2)
    left = {r["id"] for r in read_snapshot(spark, path).collect()}
    assert left == {2, 4}
    # time travel: v0 still has alice (until vacuumed)
    assert {r["id"] for r in read_snapshot(spark, path, 0).collect()} == {1, 2, 3, 4}
    # the emptied partition has no manifest entry at v1
    parts = {r["partition"] for r in read_manifest(spark, path, 1).collect()}
    assert "day=d2" not in parts and "day=d1" in parts and "day=d3" in parts
    # stats propagated and cover exactly v1's files
    s1 = snapshot_stats(spark, path, 1)
    files1 = {r["file"] for r in read_manifest(spark, path, 1).collect()}
    assert {r["file"] for r in s1.select("file").distinct().collect()} == files1
    # the change feed carries the erasure...
    feed = changes_since(spark, path, 0, ["id"], 1)
    deletes = {r["id"] for r in feed.filter(F.col("_change_type") == "delete").collect()}
    assert deletes == {1, 3}
    # ...and IVM applies it
    refresh_from_feed(spark, view, feed, "day", "val")
    got = {r["grp"]: r["n"] for r in read_view(spark, view).collect()}
    assert got == {"d1": 1, "d3": 1}

    # matching nothing commits nothing
    v2, n2 = delete_cow(spark, path, F.col("user") == "nobody", "day")
    assert (v2, n2) == (1, 0)

    # hard erasure: drop pre-delete manifests, vacuum orphans
    from ua2sql_spark.operators.snapshot import live_files_union

    delete_versions_before(spark, path, 1)
    gone = vacuum_orphans(
        spark, path, live_files_union(spark, path), max_age_hours=0.0, dry_run=False
    )
    assert gone, "pre-delete files should be vacuumable"
    assert {r["id"] for r in read_snapshot(spark, path).collect()} == {2, 4}


def test_stats_coverage_is_judged_per_column(spark, tmp_path):
    """ADVICE r8 high: a file whose stats rows cover only OTHER columns
    must be conservatively KEPT when pruning on a column it has no
    [min,max] for — the old whole-file "covered" set silently dropped
    its rows. Repro: v0 commits stats on 'a' only, v1 commits a second
    partition with stats on 'b' only; where=('a',...) must equal the
    exact filter."""
    from ua2sql_spark.operators.snapshot import read_snapshot, upsert_cow

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, a bigint, b bigint")
    upsert_cow(
        mk([(i, "d1", i, 1000 - i) for i in range(0, 20)]),
        path, ["id"], "day", stats_cols=["a"],
    )
    upsert_cow(
        mk([(i, "d2", i, 1000 - i) for i in range(100, 120)]),
        path, ["id"], "day", stats_cols=["b"],
    )
    # the v0 file has stats rows (for 'a') but NONE for 'b': pruning on
    # 'b' must keep it
    exact_b = read_snapshot(spark, path, 1).filter(F.col("b").between(981, 1000)).count()
    assert exact_b == 20
    assert read_snapshot(spark, path, 1, where=("b", 981, 1000)).count() == exact_b
    # and pruning on 'a' keeps the v1 file (stats only for 'b')
    exact_a = read_snapshot(spark, path, 1).filter(F.col("a").between(0, 119)).count()
    assert exact_a == 40
    assert read_snapshot(spark, path, 1, where=("a", 0, 119)).count() == exact_a


def test_delete_cow_accepts_keys_dataframe(spark, tmp_path):
    """ADVICE r8 low: delete_cow(condition=<keys DataFrame>) deletes by
    semi-join — same result as the predicate form, no driver-side isin
    literal — and an empty/no-match keys frame commits nothing."""
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        latest_version,
        read_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    rows = [(i, "d1" if i % 2 == 0 else "d2", float(i)) for i in range(40)]
    upsert_cow(
        spark.createDataFrame(rows, "id bigint, day string, v double"),
        path, ["id"], "day",
    )
    keys = spark.createDataFrame([(i,) for i in range(0, 40, 5)], "id bigint")
    v, n = delete_cow(spark, path, keys, "day", key_cols=["id"])
    assert n == 8 and v == 1
    left = {r["id"] for r in read_snapshot(spark, path).collect()}
    assert left == {i for i in range(40) if i % 5 != 0}
    # replay the same tombstones: nothing matches, nothing commits
    v2, n2 = delete_cow(spark, path, keys, "day", key_cols=["id"])
    assert n2 == 0 and latest_version(spark, path) == 1
    # missing key_cols is a loud error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key_cols"):
        delete_cow(spark, path, keys, "day")


def test_view_survives_integer_width_drift(spark, tmp_path):
    """ADVICE r8 medium: bucket files must stay readable when the
    caller's group column width drifts between refreshes (int feed vs
    bigint base) — write-time canonicalization widens integral grp to
    bigint, so mergeSchema never sees int-vs-bigint."""
    from ua2sql_spark.operators.ivm import build_view, read_view, refresh_from_feed

    view = str(tmp_path / "view")
    base = spark.createDataFrame(
        [(1, 10, 4.0), (2, 10, 6.0)], "id int, grp int, amount double"
    )
    build_view(base, "grp", "amount", view)
    assert dict(read_view(spark, view).dtypes)["grp"] == "bigint"

    feed = spark.createDataFrame(
        [(3, 20, 8.0, "insert")],
        "id bigint, grp bigint, amount double, _change_type string",
    )
    refresh_from_feed(spark, view, feed, "grp", "amount")
    got = {(r["grp"], r["n"]) for r in read_view(spark, view).collect()}
    assert got == {(10, 2), (20, 1)}


def test_check_constraints_enforced_persisted_and_dropped(spark, tmp_path):
    """Delta-style CHECK constraints: violations abort the commit
    before anything lands; the set persists in the manifest sidecar and
    is enforced on LATER upserts that never mention it; NULL passes
    (SQL CHECK semantics); metadata-oblivious commits (delete) carry
    the set; drop_constraint removes one via a metadata-only version."""
    import pytest as _pytest

    from ua2sql_spark.operators.snapshot import (
        ConstraintViolation,
        delete_cow,
        drop_constraint,
        latest_version,
        read_snapshot,
        table_constraints,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, bal double")
    upsert_cow(
        mk([(1, "d1", 10.0), (2, "d2", 20.0)]),
        path, ["id"], "day",
        constraints={"bal_nonneg": "bal >= 0", "id_pos": "id > 0"},
    )
    assert table_constraints(spark, path) == {
        "bal_nonneg": "bal >= 0", "id_pos": "id > 0",
    }

    # a later upsert that never mentions constraints is still checked
    with _pytest.raises(ConstraintViolation, match="bal_nonneg"):
        upsert_cow(mk([(3, "d1", -5.0)]), path, ["id"], "day")
    # nothing committed by the failed upsert
    assert latest_version(spark, path) == 0
    assert read_snapshot(spark, path).count() == 2

    # NULL passes (SQL CHECK: only FALSE violates)
    upsert_cow(
        spark.createDataFrame([(4, "d1", None)], "id bigint, day string, bal double"),
        path, ["id"], "day",
    )
    assert read_snapshot(spark, path).count() == 3

    # delete commits carry the constraint sidecar forward
    delete_cow(spark, path, F.col("id") == 4, "day")
    assert latest_version(spark, path) == 2
    assert set(table_constraints(spark, path)) == {"bal_nonneg", "id_pos"}

    # drop one: metadata-only commit, data unchanged, other kept
    v = drop_constraint(spark, path, "bal_nonneg")
    assert v == 3
    assert table_constraints(spark, path) == {"id_pos": "id > 0"}
    assert read_snapshot(spark, path).count() == 2
    upsert_cow(mk([(5, "d2", -1.0)]), path, ["id"], "day")  # now allowed
    with _pytest.raises(ConstraintViolation, match="id_pos"):
        upsert_cow(mk([(-6, "d2", 1.0)]), path, ["id"], "day")
    with _pytest.raises(KeyError):
        drop_constraint(spark, path, "nope")
    # time travel still sees both constraints on the old version
    assert set(table_constraints(spark, path, 0)) == {"bal_nonneg", "id_pos"}


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    """ADVICE r9 #1 (Delta ADD CONSTRAINT semantics): adding a NEW
    constraint via upsert_cow(constraints=...) on a non-empty table must
    scan the stored rows too — otherwise table_constraints() advertises
    an invariant the data already violates. Re-sending the identical
    persisted set stays cheap (no existing-data job needed), and a
    constraint on a column the batch INTRODUCES sees stored rows as
    NULL (which passes CHECK)."""
    import pytest as _pytest

    from ua2sql_spark.operators.snapshot import (
        ConstraintViolation,
        latest_version,
        table_constraints,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, bal double")
    upsert_cow(mk([(1, "d1", -10.0), (2, "d2", 20.0)]), path, ["id"], "day")

    # stored row id=1 violates the incoming constraint -> whole commit
    # aborts, nothing written, constraint NOT persisted
    with _pytest.raises(ConstraintViolation, match="bal_nonneg"):
        upsert_cow(
            mk([(3, "d1", 5.0)]), path, ["id"], "day",
            constraints={"bal_nonneg": "bal >= 0"},
        )
    assert latest_version(spark, path) == 0
    assert table_constraints(spark, path) == {}

    # fix the stored violation, then the same ADD succeeds
    upsert_cow(mk([(1, "d1", 10.0)]), path, ["id"], "day")
    upsert_cow(
        mk([(3, "d1", 5.0)]), path, ["id"], "day",
        constraints={"bal_nonneg": "bal >= 0"},
    )
    assert table_constraints(spark, path) == {"bal_nonneg": "bal >= 0"}

    # re-sending the identical persisted set is not an ADD; and a
    # CHANGED predicate under the same name re-validates stored rows
    upsert_cow(
        mk([(4, "d2", 1.0)]), path, ["id"], "day",
        constraints={"bal_nonneg": "bal >= 0"},
    )
    with _pytest.raises(ConstraintViolation, match="bal_nonneg"):
        upsert_cow(
            mk([(5, "d2", 100.0)]), path, ["id"], "day",
            constraints={"bal_nonneg": "bal >= 50"},
        )

    # constraint on a batch-introduced column: stored rows lack it ->
    # NULL -> passes; the batch's own rows are still checked
    wide = spark.createDataFrame(
        [(6, "d1", 1.0, "ok")], "id bigint, day string, bal double, tag string"
    )
    upsert_cow(
        wide, path, ["id"], "day",
        constraints={"tag_ok": "tag IN ('ok', 'meh')"},
    )
    assert "tag_ok" in table_constraints(spark, path)


def test_describe_history_tags_every_operation(spark, tmp_path):
    """Every commit path stamps a _commit_info sidecar: DESCRIBE
    HISTORY reports version/operation/metrics newest-first, including
    metadata-only commits; pre-tagging versions degrade to UNKNOWN."""
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        describe_history,
        drop_constraint,
        rollback,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v double")
    upsert_cow(
        mk([(i, "d1", float(i)) for i in range(10)]),
        path, ["id"], "day", constraints={"vpos": "v >= 0"},
    )
    upsert_cow(mk([(10, "d2", 10.0)]), path, ["id"], "day")
    delete_cow(spark, path, F.col("id") == 3, "day")
    rollback(spark, path, 1)
    drop_constraint(spark, path, "vpos")

    hist = describe_history(spark, path)
    ops = [(h["version"], h["operation"]) for h in hist]
    assert ops == [
        (4, "DROP_CONSTRAINT"),
        (3, "RESTORE"),
        (2, "DELETE"),
        (1, "UPSERT"),
        (0, "UPSERT"),
    ]
    by_v = {h["version"]: h for h in hist}
    assert by_v[0]["metrics"]["rows_written"] == "10"
    assert by_v[2]["metrics"]["rows_deleted"] == "1"
    assert by_v[3]["metrics"]["to_version"] == "1"
    assert by_v[4]["metrics"]["constraint"] == "vpos"
    assert all(h["timestamp"] for h in hist)


def test_read_view_mixed_width_fallback_still_reachable(spark, tmp_path):
    """ADVICE r9 #4 follow-up: the per-dir widening fallback must fire
    on the REAL exception this Spark build raises for a mergeSchema
    width conflict (a Py4J-wrapped SparkException, NOT
    AnalysisException — an isinstance gate would make the fallback dead
    code). Build a pre-canonicalization mixed-width view by hand: one
    bucket dir with grp int, one with grp bigint, a hand-committed
    manifest referencing both."""
    import pyspark.sql.utils  # noqa: F401
    import pytest as _pytest

    from ua2sql_spark.operators.ivm import (
        _commit_view_manifest,
        read_view,
    )

    view = str(tmp_path / "view")
    d_int = str(tmp_path / "b_int")
    d_big = str(tmp_path / "b_big")
    from decimal import Decimal

    spark.createDataFrame(
        [(1, 2, Decimal("10.0"))], "grp int, n bigint, sum_value decimal(28,8)"
    ).write.parquet(d_int)
    spark.createDataFrame(
        [(2, 3, Decimal("20.0"))], "grp bigint, n bigint, sum_value decimal(28,8)"
    ).write.parquet(d_big)
    _commit_view_manifest(spark, view, 0, [(0, d_int), (1, d_big)])

    # sanity: the fast path really does throw on this layout (otherwise
    # this test would silently stop guarding the fallback)
    with _pytest.raises(Exception, match="MERGE|merge"):
        spark.read.option("mergeSchema", "true").parquet(d_int, d_big).collect()

    got = {r["grp"]: (r["n"], r["sum_value"]) for r in read_view(spark, view).collect()}
    assert got == {1: (2, 10.0), 2: (3, 20.0)}

    # and an unrelated failure is NOT swallowed into the fallback
    _commit_view_manifest(spark, view, 1, [(0, str(tmp_path / "missing_dir"))])
    with _pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist|Path does not"):
        read_view(spark, view, 1).collect()


def test_tags_pin_versions_and_protect_retention(spark, tmp_path):
    """Tags (VERDICT r10 #7): named pointers readable via
    read_snapshot(version=name), immutable while they exist, and
    retention pins — delete_versions_before refuses to age out a
    tagged version."""
    from ua2sql_spark.operators.snapshot import (
        delete_tag,
        delete_versions_before,
        list_tags,
        read_snapshot,
        tag_snapshot,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val string")
    upsert_cow(mk([(1, "d1", "a")]), path, ["id"], "day")          # v0
    upsert_cow(mk([(1, "d1", "b")]), path, ["id"], "day")          # v1
    upsert_cow(mk([(1, "d1", "c")]), path, ["id"], "day")          # v2

    assert tag_snapshot(spark, path, "train-run-7", version=1) == 1
    assert tag_snapshot(spark, path, "latest-blessed") == 2  # default latest
    assert list_tags(spark, path) == {"train-run-7": 1, "latest-blessed": 2}
    assert _rows(read_snapshot(spark, path, "train-run-7")) == {(1, "d1"): "b"}

    # immutable while present; version must exist; name syntax guarded
    with pytest.raises(ValueError, match="already points"):
        tag_snapshot(spark, path, "train-run-7", version=2)
    with pytest.raises(ValueError, match="does not exist"):
        tag_snapshot(spark, path, "ghost", version=9)
    with pytest.raises(ValueError, match="version syntax"):
        tag_snapshot(spark, path, "v000001")
    with pytest.raises(ValueError, match="no tag"):
        read_snapshot(spark, path, "nope")

    # retention refuses to drop a tagged version...
    with pytest.raises(ValueError, match="train-run-7"):
        delete_versions_before(spark, path, keep_from=2)
    # ...until the tag is deleted
    assert delete_tag(spark, path, "train-run-7") == 1
    assert delete_versions_before(spark, path, keep_from=2) == [0, 1]
    assert _rows(read_snapshot(spark, path, "latest-blessed")) == {(1, "d1"): "c"}


def test_shallow_clone_reads_time_travels_and_localizes(spark, tmp_path):
    """Shallow clone (VERDICT r10 #7): a manifest-only v0 referencing
    the source's live files at a pinned version — zero data copied;
    reads work through the per-root grouped reader; CoW mutations
    localize touched partitions into the clone's own directory and
    leave the source untouched."""
    from ua2sql_spark.operators.snapshot import (
        clone_snapshot,
        describe_history,
        read_manifest,
        read_snapshot,
        tag_snapshot,
        upsert_cow,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val string")
    upsert_cow(mk([(1, "d1", "a"), (2, "d2", "b")]), src, ["id"], "day")  # v0
    upsert_cow(mk([(3, "d3", "c")]), src, ["id"], "day")                  # v1
    tag_snapshot(spark, src, "blessed", version=1)

    assert clone_snapshot(spark, src, dst, version="blessed") == 0
    # zero data copied: every clone manifest entry points into src
    files = [r["file"] for r in read_manifest(spark, dst, 0).collect()]
    assert files and all("/src/" in f for f in files)
    assert _rows(read_snapshot(spark, dst)) == {
        (1, "d1"): "a", (2, "d2"): "b", (3, "d3"): "c",
    }
    hist = describe_history(spark, dst)
    assert hist[0]["operation"] == "CLONE"
    assert hist[0]["metrics"]["source_version"] == "1"

    # source keeps moving; the clone stays pinned
    upsert_cow(mk([(1, "d1", "MUTATED")]), src, ["id"], "day")            # src v2
    assert _rows(read_snapshot(spark, dst))[(1, "d1")] == "a"

    # CoW upsert on the clone: touched partition localizes under dst,
    # untouched partitions still reference src files; src unchanged
    upsert_cow(mk([(2, "d2", "B2"), (4, "d2", "d")]), dst, ["id"], "day")  # dst v1
    assert _rows(read_snapshot(spark, dst)) == {
        (1, "d1"): "a", (2, "d2"): "B2", (3, "d3"): "c", (4, "d2"): "d",
    }
    m1 = {r["file"] for r in read_manifest(spark, dst, 1).collect()}
    assert any("/clone/" in f and "day=d2" in f for f in m1)
    assert all("/src/" in f for f in m1 if "day=d2" not in f)
    assert _rows(read_snapshot(spark, src))[(2, "d2")] == "b"
    # the clone's own time travel works
    assert _rows(read_snapshot(spark, dst, 0))[(2, "d2")] == "b"

    # a clone must land in a fresh directory
    with pytest.raises(ValueError, match="already has snapshots"):
        clone_snapshot(spark, src, dst)


def test_shallow_clone_vacuum_contract(spark, tmp_path):
    """Clone-safe vacuum is the DEFAULT (VERDICT r11 #3): clone_snapshot
    registers the clone in the source's sidecar, so the plain recipe
    vacuum_orphans(live_files_union(src)) keeps every clone readable
    with ZERO caller bookkeeping, even after the clone diverges.
    Source-only vacuum is the explicit include_clones=False opt-in (the
    documented clone-invalidating mode)."""
    from ua2sql_spark.operators.layout import vacuum_orphans
    from ua2sql_spark.operators.snapshot import (
        clone_snapshot,
        delete_versions_before,
        list_clones,
        live_files_union,
        read_snapshot,
        upsert_cow,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "clone")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val string")
    upsert_cow(mk([(1, "d1", "a"), (2, "d2", "x")]), src, ["id"], "day")  # src v0
    clone_snapshot(spark, src, dst)                         # pins src v0's files
    assert list_clones(spark, src) == [dst]
    # the clone DIVERGES (localizes d2) but still references src's d1
    upsert_cow(mk([(2, "d2", "X2")]), dst, ["id"], "day")   # dst v1
    upsert_cow(mk([(1, "d1", "b")]), src, ["id"], "day")    # src v1 rewrites d1
    # source shortens retention to v1 only: v0's file is now orphaned
    # FROM THE SOURCE'S OWN point of view, but the clone still needs it
    delete_versions_before(spark, src, keep_from=1)

    # DEFAULT recipe — no clone bookkeeping at the call site
    gone = vacuum_orphans(
        spark, src, live_files_union(spark, src), max_age_hours=0, dry_run=False
    )
    assert gone == []
    assert _rows(read_snapshot(spark, dst)) == {(1, "d1"): "a", (2, "d2"): "X2"}

    # EXPLICIT source-only opt-in sweeps the clone's foreign file —
    # the documented clone-invalidating mode
    gone2 = vacuum_orphans(
        spark,
        src,
        live_files_union(spark, src, include_clones=False),
        max_age_hours=0,
        dry_run=False,
    )
    assert len(gone2) >= 1
    with pytest.raises(Exception):
        read_snapshot(spark, dst).collect()


def test_clone_registry_fails_vacuum_closed_and_unregisters(spark, tmp_path):
    """A registered clone that was deleted from disk must make
    live_files_union RAISE (fail closed) rather than silently skip —
    skipping would hand vacuum a live set missing the clone's
    references. unregister_clone retires it consciously; clones of
    clones are unioned recursively."""
    import shutil

    from ua2sql_spark.operators.snapshot import (
        clone_snapshot,
        list_clones,
        live_files_union,
        unregister_clone,
        upsert_cow,
    )

    src = str(tmp_path / "src")
    c1 = str(tmp_path / "c1")
    c2 = str(tmp_path / "c1_of_c1")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val string")
    upsert_cow(mk([(1, "d1", "a")]), src, ["id"], "day")
    clone_snapshot(spark, src, c1)
    clone_snapshot(spark, c1, c2)  # grandclone registers on c1, not src
    assert list_clones(spark, src) == [c1]
    assert list_clones(spark, c1) == [c2]
    # recursive union: src's live set covers the grandclone's files too
    n_with = live_files_union(spark, src).count()
    assert n_with >= live_files_union(spark, src, include_clones=False).count()

    shutil.rmtree(c2)
    with pytest.raises(ValueError, match="unreadable"):
        live_files_union(spark, src).count()
    unregister_clone(spark, c1, c2)
    assert live_files_union(spark, src).count() == n_with  # same files: c2 was zero-copy
    with pytest.raises(ValueError, match="not a registered clone"):
        unregister_clone(spark, c1, c2)


def test_snapshot_layout_health_agrees_with_compaction(spark, tmp_path):
    """snapshot_layout_health is the compaction trigger (the
    ivf_health/lsh_health discipline for table layout): would_compact
    must name exactly the partitions compact_snapshot rewrites, and the
    post-compaction report must read one file per touched partition."""
    from ua2sql_spark.operators.snapshot import (
        compact_snapshot,
        snapshot_layout_health,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v string")
    upsert_cow(mk([(1, "d1", "a"), (2, "d2", "b")]), path, ["id"], "day")  # v0
    upsert_cow(mk([(3, "d1", "c")]), path, ["id"], "day")                   # v1: d1 again
    upsert_cow(mk([(4, "d1", "d")]), path, ["id"], "day")                   # v2: d1 again

    h = {r["partition"]: r for r in snapshot_layout_health(spark, path).collect()}
    d1 = next(k for k in h if "d1" in k)
    d2 = next(k for k in h if "d2" in k)
    # d1 was rewritten whole each CoW commit -> 1 file; CoW upsert
    # coalesces the partition, so fragmentation here comes from the
    # APPEND-shaped writes compact_snapshot targets. Check the report's
    # arithmetic instead of assuming a layout: files/rows/bytes are
    # positive and would_compact == (n_files >= 2) for every partition.
    for r in h.values():
        assert r["n_files"] >= 1 and r["total_bytes"] > 0
        # manifest may not carry per-file row counts: NULL, never 0
        assert r["n_rows"] is None or r["n_rows"] >= 1
        assert r["would_compact"] == (r["n_files"] >= 2)
    assert d1 != d2

    # agreement contract: compact rewrites exactly the would_compact set
    expected = sorted(k for k, r in h.items() if r["would_compact"])
    _v, compacted = compact_snapshot(spark, path, "day")
    assert sorted(compacted) == expected
    if expected:
        h2 = {
            r["partition"]: r
            for r in snapshot_layout_health(spark, path).collect()
        }
        for part in expected:
            assert h2[part]["n_files"] == 1
            assert not h2[part]["would_compact"]
        # the data itself survives the rewrite
        from ua2sql_spark.operators.snapshot import read_snapshot

        assert read_snapshot(spark, path).count() == 4


def test_manifest_records_exact_row_counts(spark, tmp_path):
    """Round 13: every committer records per-file footer row counts
    (the Delta numRecords stat) via ONE distributed footer pass, so
    snapshot_layout_health's n_rows is exact instead of NULL and
    carried entries propagate counts forward."""
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        compact_snapshot,
        delete_cow,
        read_manifest,
        snapshot_layout_health,
        upsert_cow,
    )

    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v string")

    # bootstrap adoption records counts
    path = str(tmp_path / "adopted")
    mk([(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")]).coalesce(1).write.partitionBy(
        "day"
    ).parquet(path)
    bootstrap_snapshot(spark, path, "day")
    per_part = {
        r["partition"]: r["row_count"]
        for r in read_manifest(spark, path, 0).collect()
    }
    assert per_part == {"day=d1": 2, "day=d2": 1}

    # upsert / delete / compact all record counts; carried entries keep
    # their previous version's counts
    path2 = str(tmp_path / "cow")
    upsert_cow(mk([(1, "d1", "a"), (2, "d2", "b")]), path2, ["id"], "day")
    upsert_cow(mk([(3, "d1", "c")]), path2, ["id"], "day")  # d1 -> 2 rows
    m1 = read_manifest(spark, path2, 1).collect()
    assert all(r["row_count"] is not None for r in m1)
    assert sum(r["row_count"] for r in m1) == 3
    delete_cow(spark, path2, F.col("id") == 3, "day")
    m2 = read_manifest(spark, path2, 2).collect()
    assert sum(r["row_count"] for r in m2) == 2
    compact_snapshot(spark, path2, "day")
    h = {
        r["partition"]: r
        for r in snapshot_layout_health(spark, path2).collect()
    }
    assert h["day=d1"]["n_rows"] == 1 and h["day=d2"]["n_rows"] == 1


def test_layout_health_min_files_matches_compaction_threshold(spark, tmp_path):
    """ADVICE r12 #2: would_compact must agree with
    compact_snapshot(min_files=k) for ANY k, not only the default 2."""
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        compact_snapshot,
        snapshot_layout_health,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v string")
    # three single-task appends into d1, one into d2 -> 3 + 1 files
    for rows in ([(1, "d1", "a")], [(2, "d1", "b")], [(3, "d1", "c")], [(4, "d2", "d")]):
        mk(rows).coalesce(1).write.mode("append").partitionBy("day").parquet(path)
    bootstrap_snapshot(spark, path, "day")

    h3 = {
        r["partition"]: r["would_compact"]
        for r in snapshot_layout_health(spark, path, min_files=3).collect()
    }
    assert h3 == {"day=d1": True, "day=d2": False}
    _v, compacted = compact_snapshot(spark, path, "day", min_files=3)
    assert compacted == ["day=d1"]


def test_sidecar_writes_are_staged_and_fail_closed(spark, tmp_path):
    """ADVICE r12 #1: _clones.json mutates via stage + rename; a crash
    between delete and rename (simulated: stage present, final gone)
    makes readers raise instead of reporting an empty registry — the
    empty answer is exactly the vacuum data loss the sidecar prevents."""
    import os

    from ua2sql_spark.operators.snapshot import (
        clone_snapshot,
        list_clones,
        upsert_cow,
    )

    src = str(tmp_path / "src")
    upsert_cow(
        spark.createDataFrame([(1, "d1", "a")], "id bigint, day string, v string"),
        src,
        ["id"],
        "day",
    )
    clone_snapshot(spark, src, str(tmp_path / "c1"))
    assert list_clones(spark, src) == [str(tmp_path / "c1")]
    snap_root = os.path.join(src, "_snapshots")
    # no stage residue after a clean write
    assert not [
        n for n in os.listdir(snap_root) if n.startswith(".tmp-_clones.json-")
    ]
    # simulate the crash window: stage exists, final missing (drop the
    # local FS's checksum twin too, or the recovery read would validate
    # the new bytes against the OLD file's crc)
    with open(os.path.join(snap_root, ".tmp-_clones.json-deadbeef"), "w") as fh:
        fh.write("[]")
    os.remove(os.path.join(snap_root, "_clones.json"))
    crc = os.path.join(snap_root, "._clones.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="crashed between delete and rename"):
        list_clones(spark, src)
    # recovery: rename the stage into place
    os.rename(
        os.path.join(snap_root, ".tmp-_clones.json-deadbeef"),
        os.path.join(snap_root, "_clones.json"),
    )
    assert list_clones(spark, src) == []


def test_live_files_union_names_clone_registry_cycles(spark, tmp_path):
    """ADVICE r12 #4: a hand-corrupted _clones.json (self-registration)
    must surface as a named diagnostic on the vacuum path, not an
    unbounded RecursionError."""
    import json
    import os

    from ua2sql_spark.operators.snapshot import live_files_union, upsert_cow

    src = str(tmp_path / "src")
    upsert_cow(
        spark.createDataFrame([(1, "d1", "a")], "id bigint, day string, v string"),
        src,
        ["id"],
        "day",
    )
    with open(os.path.join(src, "_snapshots", "_clones.json"), "w") as fh:
        json.dump([src], fh)  # self-registration: the simplest cycle
    with pytest.raises(ValueError, match="clone registry cycle"):
        live_files_union(spark, src).count()


def test_compact_snapshot_partition_allowlist(spark, tmp_path):
    """Round 13 OPTIMIZE-WHERE: compact_snapshot(partitions=[...])
    rewrites ONLY the allowlisted partitions even when others are also
    fragmented, and the health report drives the allowlist."""
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        compact_snapshot,
        read_snapshot,
        snapshot_layout_health,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v string")
    # both d1 and d2 fragmented (2 files each)
    for rows in (
        [(1, "d1", "a")], [(2, "d1", "b")],
        [(3, "d2", "c")], [(4, "d2", "d")],
    ):
        mk(rows).coalesce(1).write.mode("append").partitionBy("day").parquet(path)
    bootstrap_snapshot(spark, path, "day")

    flagged = [
        r["partition"]
        for r in snapshot_layout_health(spark, path).collect()
        if r["would_compact"] and "d1" in r["partition"]
    ]
    _v, compacted = compact_snapshot(spark, path, "day", partitions=flagged)
    assert compacted == ["day=d1"]
    h = {
        r["partition"]: r["n_files"]
        for r in snapshot_layout_health(spark, path).collect()
    }
    assert h["day=d1"] == 1 and h["day=d2"] == 2  # d2 untouched
    assert read_snapshot(spark, path).count() == 4
