"""Partition-scoped upsert on plain parquet (operators/merge.py): key
matches replaced, new keys appended, untouched partitions left
byte-identical, and the target read lists only touched partitions."""

from __future__ import annotations

import pathlib

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _partition_files(path):
    """partition dir name -> {data file name: its bytes}"""
    return {
        part.name: {
            f.name: f.read_bytes()
            for f in part.iterdir()
            if f.is_file() and not f.name.startswith(("_", "."))
        }
        for part in pathlib.Path(path).iterdir()
        if part.is_dir()
    }


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """MERGE-shaped upsert: matched keys replaced, new keys appended,
    untouched partitions byte-identical (also under a static session
    overwrite mode, which the upsert leaves as it found it), return
    value = rows written."""
    from ua2sql_spark.operators.merge import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "id bigint, day string, val string",
    )
    base.write.partitionBy("day").parquet(path)
    files0 = _partition_files(path)

    batch = spark.createDataFrame(
        [(3, "d2", "C2"), (5, "d2", "e"), (5, "d2", "e")],  # replace, insert, dup
        "id bigint, day string, val string",
    )
    spark.conf.set(_OVERWRITE_MODE, "static")
    written = upsert_parquet(batch, path, key_cols=["id"], partition_col="day")
    assert written == 2  # the deduped batch; no carried rows (id=3 replaced)
    assert spark.conf.get(_OVERWRITE_MODE) == "static"

    got = {
        (r["id"], r["day"]): r["val"] for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "d1"): "a",
        (2, "d1"): "b",
        (3, "d2"): "C2",
        (4, "d3"): "d",
        (5, "d2"): "e",
    }
    files1 = _partition_files(path)
    assert files1["day=d1"] == files0["day=d1"]
    assert files1["day=d3"] == files0["day=d3"]

    # First-write path: absent table.
    path2 = str(tmp_path / "tbl2")
    assert upsert_parquet(batch, path2, ["id"], "day") == 2
    assert spark.read.parquet(path2).count() == 2

    # Latest-wins inside one batch: two versions of id=6, the older one
    # first and then last. The greater submit_time lands in both orders,
    # although the older row is the greater whole row ("old" > "new").
    old, new = (6, "d4", "old", 1), (6, "d4", "new", 2)
    for n, versions in enumerate([[old, new], [new, old]]):
        b = spark.createDataFrame(
            versions, "id bigint, day string, val string, submit_time bigint"
        )
        p = str(tmp_path / f"latest{n}")
        assert upsert_parquet(b, p, ["id"], "day") == 1
        assert [r["val"] for r in spark.read.parquet(p).collect()] == ["new"]


def test_upsert_scan_lists_only_touched_partitions(spark, tmp_path):
    """VERDICT r5 next-round #6: the upsert's target read must be
    partition-path-constructed — the scan lists ONLY the batch's
    touched partition directories, never the table root (at a 10⁶-file
    table the root listing, not the data, dominates each micro-batch)."""
    from ua2sql_spark.operators.merge import _read_touched_slice, upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"d{i % 5}", "v") for i in range(50)],
        "id bigint, day string, val string",
    )
    base.write.partitionBy("day").parquet(path)

    sl = _read_touched_slice(spark, path, "day", ["d2"])
    files = sl.inputFiles()
    assert files and all("day=d2" in f for f in files), files
    # partition column present in the slice schema (basePath)
    assert set(sl.columns) == {"id", "day", "val"}

    # mixed existing + brand-new partition values: only the existing
    # directory is listed; the new value contributes nothing to carry
    sl2 = _read_touched_slice(spark, path, "day", ["d3", "d999"])
    assert all("day=d3" in f for f in sl2.inputFiles())
    # all-new partitions (or absent table) -> None, pure-append batch
    assert _read_touched_slice(spark, path, "day", ["d999"]) is None
    assert _read_touched_slice(spark, str(tmp_path / "nope"), "day", ["d1"]) is None

    # e2e: a batch introducing a new partition + replacing in an old one
    batch = spark.createDataFrame(
        [(2, "d2", "NEW"), (100, "d9", "fresh")],
        "id bigint, day string, val string",
    )
    assert upsert_parquet(batch, path, ["id"], "day") == 2 + 9  # 9 carried in d2
    got = {(r["id"], r["day"]): r["val"] for r in spark.read.parquet(path).collect()}
    assert got[(2, "d2")] == "NEW" and got[(100, "d9")] == "fresh"
    assert len(got) == 51
