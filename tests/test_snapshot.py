"""Copy-on-write snapshots: time-travel reads, version diffs, commit
atomicity, change feeds and compaction (operators/snapshot.py)."""

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


def test_commits_write_the_manifest_and_schema_sidecar_only(spark, tmp_path):
    """The on-disk format: every kind of commit leaves a version
    directory holding the manifest's parquet files and the schema
    sidecar, and nothing else under ``_snapshots/``."""
    import os

    from ua2sql_spark.operators.snapshot import (
        _snap_root,
        compact_snapshot,
        delete_cow,
        rollback,
        upsert_cow,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, val string")
    upsert_cow(mk([(1, "d1", "a"), (2, "d2", "b")]), path, ["id"], "day")  # v0
    upsert_cow(mk([(2, "d2", "B")]), path, ["id"], "day")                   # v1
    delete_cow(spark, path, F.col("id") == 2, "day")                        # v2
    upsert_cow(mk([(4, "d1", "d")]), path, ["id"], "day")                   # v3
    assert compact_snapshot(spark, path, "day", min_files=1)[0] == 4        # v4
    assert rollback(spark, path, 0) == 5                                     # v5
    root = _snap_root(path)
    assert sorted(os.listdir(root)) == [f"v{v:06d}" for v in range(6)]
    for name in os.listdir(root):
        entries = os.listdir(os.path.join(root, name))
        meta = {e for e in entries if e.startswith("_")}
        assert meta == {"_SUCCESS", "_table_schema.json"}, (name, entries)
        data = [e for e in entries if not e.startswith((".", "_"))]
        assert data and all(e.endswith(".parquet") for e in data), (name, entries)


def test_manifest_spanning_two_table_roots_is_rejected(spark, tmp_path):
    """One ``basePath`` cannot read files under two table roots (a
    shallow clone's manifest): the read fails with a clear error instead
    of Spark's conflicting-directory one."""
    from ua2sql_spark.operators.snapshot import _read_manifest_files

    files = [f"{tmp_path}/a/day=d1/x.parquet", f"{tmp_path}/b/day=d1/y.parquet"]
    with pytest.raises(ValueError, match="span 2 table roots"):
        _read_manifest_files(spark, files)


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

    # a never-committed base version must fail with the
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
    invisible to readers, before and after the next refresh commits."""
    from ua2sql_spark.operators.ivm import (
        build_view,
        list_view_versions,
        read_view,
        refresh_from_feed,
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


def test_delete_cow_compliance_path(spark, tmp_path):
    """Row-level CoW DELETE: matching rows gone from the new version,
    prior versions intact (time travel), fully-emptied partitions
    vanish by manifest absence, the change feed emits the erasure as
    delete events (so IVM applies it), and NULL predicate rows are KEPT
    (SQL DELETE semantics)."""
    from ua2sql_spark.operators.ivm import build_view, read_view, refresh_from_feed
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        delete_cow,
        read_manifest,
        read_snapshot,
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
        path, ["id"], "day",
    )                                                                     # v0
    build_view(read_snapshot(spark, path, 0), "day", "val", view)

    # forget alice: rows 1 and 3 go; d2 empties entirely; NULL user kept
    v, n = delete_cow(spark, path, F.col("user") == "alice", "day")
    assert (v, n) == (1, 2)
    left = {r["id"] for r in read_snapshot(spark, path).collect()}
    assert left == {2, 4}
    # time travel: v0 still has alice
    assert {r["id"] for r in read_snapshot(spark, path, 0).collect()} == {1, 2, 3, 4}
    # the emptied partition has no manifest entry at v1
    parts = {r["partition"] for r in read_manifest(spark, path, 1).collect()}
    assert "day=d2" not in parts and "day=d1" in parts and "day=d3" in parts
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

    # a feed that deletes every group leaves an EMPTY view whose grp
    # column still reads back as the committed integer type, not the old
    # hardcoded "grp string" fallback
    gone = spark.createDataFrame(
        [(1, 10, 4.0, "delete"), (2, 10, 6.0, "delete"), (3, 20, 8.0, "delete")],
        "id bigint, grp bigint, amount double, _change_type string",
    )
    pre_dtype = dict(read_view(spark, view).dtypes)["grp"]
    refresh_from_feed(spark, view, gone, "grp", "amount")
    empty = read_view(spark, view)
    assert empty.count() == 0
    assert dict(empty.dtypes)["grp"] == pre_dtype != "string"


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
    """ADVICE r12 #1: a mutable sidecar (``ivm_join``'s cursor) changes
    via stage + rename, so a clean write leaves no stage behind; a crash
    between delete and rename (simulated: stage present, final gone)
    makes readers raise instead of reading "never written", and renaming
    the stage into place recovers."""
    import json
    import os

    from ua2sql_spark.operators.ivm_join import (
        _CURSOR_SIDECAR,
        _read_cursor,
        _write_cursor,
        build_join_view,
    )
    from ua2sql_spark.operators.snapshot import upsert_cow

    a, b, view = (str(tmp_path / n) for n in ("a", "b", "view"))
    upsert_cow(
        spark.createDataFrame([(1, "g0", "x")], "k bigint, grp string, v string"),
        a, ["k"], "grp",
    )
    upsert_cow(spark.createDataFrame([(1, 1.0)], "k bigint, w double"), b, ["k"], "k")
    build_join_view(spark, a, b, "k", "grp", view)
    cur = _read_cursor(spark, view)
    _write_cursor(spark, view, {**cur, "a_version": 7})  # replaces the file
    assert _read_cursor(spark, view) == {**cur, "a_version": 7}
    snap_root = os.path.join(view, "_snapshots")
    assert not [n for n in os.listdir(snap_root) if n.startswith(f".tmp-{_CURSOR_SIDECAR}-")]
    # simulate the crash window: stage exists, final missing (drop the
    # local FS's checksum twin too, or the recovery read would validate
    # the new bytes against the OLD file's crc)
    stage = os.path.join(snap_root, f".tmp-{_CURSOR_SIDECAR}-deadbeef")
    with open(stage, "w") as fh:
        fh.write(json.dumps(cur, sort_keys=True))
    os.remove(os.path.join(snap_root, _CURSOR_SIDECAR))
    crc = os.path.join(snap_root, f".{_CURSOR_SIDECAR}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="crashed between delete and rename"):
        _read_cursor(spark, view)
    # recovery: rename the stage into place
    os.rename(stage, os.path.join(snap_root, _CURSOR_SIDECAR))
    assert _read_cursor(spark, view) == cur


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
