"""Data-layout maintenance (operators/layout.py): compaction touches
only fragmented partitions and preserves content exactly; clustered
writes produce files with disjoint min/max stats (the property any
stats-aware reader needs for skipping)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.operators.layout import (
    compact_partitions,
    fragmented_partitions,
    layout_stats,
    write_clustered,
)
from tests.conftest import SF_DIR

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _orders_with_month(spark):
    return load_table(spark, SF_DIR, "orders").withColumn(
        "mon", F.date_format("o_orderdate", "yyyy-MM")
    )


def _snapshot(df):
    rows = df.orderBy(*sorted(df.columns)).collect()
    return [tuple(str(v) for v in r) for r in rows]


def _files_of(stats, partition):
    return {s.partition: (s.num_files, s.total_bytes) for s in stats}[partition]


def test_compaction_rewrites_only_fragmented_partitions(spark, tmp_path):
    path = str(tmp_path / "orders_by_month")
    o = _orders_with_month(spark)
    months = sorted(r["mon"] for r in o.select("mon").distinct().collect())
    frag_months, intact_month = months[:-1], months[-1]

    # Fragment all months but the last (12 files each — a year of daily
    # micro-batch appends); the last lands as one healthy file.
    (
        o.filter(F.col("mon") != intact_month)
        .repartition(12)
        .write.partitionBy("mon")
        .parquet(path)
    )
    (
        o.filter(F.col("mon") == intact_month)
        .coalesce(1)
        .write.mode("append")
        .partitionBy("mon")
        .parquet(path)
    )

    before = _snapshot(spark.read.parquet(path))
    stats0 = layout_stats(spark, path)
    intact_before = _files_of(stats0, f"mon={intact_month}")
    assert all(
        _files_of(stats0, f"mon={m}")[0] > 1 for m in frag_months
    ), stats0

    target = 64 * 1024 * 1024  # every month fits one file at this target
    # Dynamic overwrite must come from the write itself: a write that
    # fell back to the static session mode would wipe the intact month,
    # and the session conf must read as it did before the call.
    spark.conf.set(_OVERWRITE_MODE, "static")
    rewritten = compact_partitions(spark, path, ["mon"], target_file_bytes=target)
    assert spark.conf.get(_OVERWRITE_MODE) == "static"
    assert sorted(s.partition for s in rewritten) == [
        f"mon={m}" for m in frag_months
    ]

    stats1 = layout_stats(spark, path)
    for m in frag_months:
        n_files, _ = _files_of(stats1, f"mon={m}")
        assert n_files < 12, (m, stats1)
    # The healthy partition was not rewritten: same file count AND bytes.
    assert _files_of(stats1, f"mon={intact_month}") == intact_before

    # Content identical row-for-row.
    assert _snapshot(spark.read.parquet(path)) == before

    # Second pass: nothing left to do.
    assert compact_partitions(spark, path, ["mon"], target_file_bytes=target) == []


def test_fragmented_partitions_ideal_count():
    from ua2sql_spark.operators.layout import PartitionStats

    stats = [
        PartitionStats("day=a", num_files=10, total_bytes=100),  # ideal 1
        PartitionStats("day=b", num_files=2, total_bytes=300),   # ideal 2 -> fine
        PartitionStats("day=c", num_files=1, total_bytes=5),     # single file
    ]
    frag = fragmented_partitions(stats, target_file_bytes=200)
    assert [s.partition for s in frag] == ["day=a"]


def test_write_clustered_files_have_disjoint_ranges(spark, tmp_path):
    path = str(tmp_path / "orders_clustered")
    o = load_table(spark, SF_DIR, "orders")
    write_clustered(o, path, cluster_cols=["o_custkey"], num_files=8)

    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_custkey").alias("lo"), F.max("o_custkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(per_file) == 8
    # Ranges overlap at most at the boundary value (range partitioner
    # ties), so a predicate o_custkey = K scans at most 2 of 8 files.
    for a, b in zip(per_file, per_file[1:]):
        assert a["hi"] <= b["lo"], per_file

    # Clustering preserved content.
    assert (
        spark.read.parquet(path).count() == o.count()
    )


def test_manifest_prunes_clustered_files_exactly(spark, tmp_path):
    """Footer-stats manifest over a range-clustered table: a point-ish
    predicate survives to ≤2 of 8 files, and the pruned scan returns
    exactly the full-scan answer."""
    from ua2sql_spark.operators.manifest import (
        build_file_manifest,
        prune_files,
        read_pruned,
    )

    path = str(tmp_path / "orders_clustered")
    o = load_table(spark, SF_DIR, "orders")
    write_clustered(o, path, cluster_cols=["o_custkey"], num_files=8)

    manifest = build_file_manifest(spark, path, columns=["o_custkey"]).cache()
    assert manifest.filter(F.col("col") == "o_custkey").count() == 8
    total_rows = manifest.filter(F.col("col") == "o_custkey").agg(
        F.sum("row_count")
    ).collect()[0][0]
    assert total_rows == o.count()

    lo = o.agg(F.min("o_custkey")).collect()[0][0]
    files = prune_files(manifest, "o_custkey", lo, lo + 5)
    assert 1 <= len(files) <= 2, files

    got = read_pruned(spark, manifest, "o_custkey", lo, lo + 5)
    expect = o.filter(F.col("o_custkey").between(lo, lo + 5))
    assert sorted(r["o_orderkey"] for r in got.collect()) == sorted(
        r["o_orderkey"] for r in expect.collect()
    )


def test_manifest_skips_files_for_zordered_box_query(spark, tmp_path):
    """The z-order payoff: after write_zordered on (custkey, day), a box
    predicate on EITHER dimension alone skips files via the manifest —
    a single-column sort can only do this for its leading column."""
    from ua2sql_spark.operators.layout import write_zordered
    from ua2sql_spark.operators.manifest import build_file_manifest, prune_files

    path = str(tmp_path / "orders_z")
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", F.dayofyear("o_orderdate").alias("day")
    )
    write_zordered(o, path, ["o_custkey", "day"], num_files=16)

    manifest = build_file_manifest(spark, path, columns=["o_custkey", "day"]).cache()
    custs = o.agg(F.min("o_custkey"), F.max("o_custkey")).collect()[0]
    c_lo, c_hi = custs[0], custs[1]
    quarter = (c_hi - c_lo) // 4
    f_cust = prune_files(manifest, "o_custkey", c_lo, c_lo + quarter)
    f_day = prune_files(manifest, "day", 1, 60)
    assert len(f_cust) < 16, "custkey box should skip files"
    assert len(f_day) < 16, "day box should skip files too (z-order property)"


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
    stats0 = {s.partition: (s.num_files, s.total_bytes) for s in layout_stats(spark, path)}

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
    stats1 = {s.partition: (s.num_files, s.total_bytes) for s in layout_stats(spark, path)}
    assert stats1["day=d1"] == stats0["day=d1"]
    assert stats1["day=d3"] == stats0["day=d3"]

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


def test_vacuum_orphans_deletes_only_aged_unreferenced(spark, tmp_path):
    """VACUUM contract: only files that are BOTH absent from the commit
    manifest AND older than the retention window go; manifest-listed
    data files, young orphans (possible in-flight writes), and commit
    markers all survive. A fresh read over the vacuumed table matches
    the manifest'd content exactly (the orphans' duplicate rows are
    gone with them)."""
    import os
    import shutil

    from ua2sql_spark.operators.layout import vacuum_orphans
    from ua2sql_spark.operators.manifest import build_file_manifest

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "id % 3 AS day").write.partitionBy(
        "day"
    ).parquet(path)
    # the commit record: manifest built when the write landed
    manifest = build_file_manifest(spark, path, columns=["id"]).cache()
    manifest.count()
    expect = {(i, i % 3) for i in range(100)}

    # Fabricate orphans from an interrupted rewrite: stale part-files
    # that match the data glob but postdate the manifest.
    part = os.path.join(path, "day=0")
    live_file = next(f for f in os.listdir(part) if f.endswith(".parquet"))
    old_orphan = os.path.join(part, "part-orphan-old.parquet")
    young_orphan = os.path.join(part, "part-orphan-young.parquet")
    shutil.copy(os.path.join(part, live_file), old_orphan)
    shutil.copy(os.path.join(part, live_file), young_orphan)
    stale = 10 * 24 * 3600
    os.utime(old_orphan, (os.path.getatime(old_orphan) - stale,
                          os.path.getmtime(old_orphan) - stale))

    # dry run reports, touches nothing
    reported = vacuum_orphans(spark, path, manifest, max_age_hours=168)
    assert reported == [old_orphan]
    assert os.path.exists(old_orphan)

    deleted = vacuum_orphans(
        spark, path, manifest, max_age_hours=168, dry_run=False
    )
    assert deleted == [old_orphan]
    assert not os.path.exists(old_orphan)
    assert os.path.exists(young_orphan)  # inside retention: kept

    # age the young orphan past retention -> second vacuum removes it,
    # and a FRESH listing of the table equals the committed content
    os.utime(young_orphan, (os.path.getatime(young_orphan) - stale,
                            os.path.getmtime(young_orphan) - stale))
    assert vacuum_orphans(
        spark, path, manifest, max_age_hours=168, dry_run=False
    ) == [young_orphan]
    spark.catalog.clearCache()
    fresh = {
        (r["id"], r["day"])
        for r in spark.read.option(
            "modifiedAfter", "1900-01-01T00:00:00"
        ).parquet(path).collect()
    }
    assert fresh == expect
    manifest.unpersist()


def test_manifest_keeps_stats_less_files(spark, tmp_path):
    """Files whose columns carry no statistics must surface as NULL
    min/max in the manifest and be conservatively KEPT by prune_files —
    data skipping may only skip what stats PROVE absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ua2sql_spark.operators.manifest import build_file_manifest, prune_files

    path = tmp_path / "tbl"
    path.mkdir()
    spark.range(0, 50).selectExpr("id AS k").coalesce(1).write.mode(
        "append"
    ).parquet(str(path))
    # a second file written WITHOUT statistics, holding k in [1000, 1010)
    t = pa.table({"k": pa.array(range(1000, 1010), pa.int64())})
    pq.write_table(t, path / "nostats.parquet", write_statistics=False)

    manifest = build_file_manifest(spark, str(path), columns=["k"])
    rows = {r["file"].split("/")[-1]: r for r in manifest.collect()}
    assert rows["nostats.parquet"]["min_val"] is None
    # a probe far outside the stats-bearing file's range must still
    # keep the stats-less file (it might hold matches — and does)
    kept = prune_files(manifest, "k", 1005, 1006)
    assert any(f.endswith("nostats.parquet") for f in kept), kept
    assert not any("nostats" not in f for f in kept), kept


def test_prune_files_returns_none_when_column_has_no_stats(spark, tmp_path):
    """Regression (round-6 review): prune_files distinguishes 'manifest
    has no rows for this column' (None — caller cannot prune) from
    'no file overlaps' (empty list), in one collect."""
    from ua2sql_spark.catalog import load_table
    from ua2sql_spark.operators.manifest import build_file_manifest, prune_files

    src = load_table(spark, SF_DIR, "documents").limit(50)
    table_dir = str(tmp_path / "t.parquet")
    src.write.parquet(table_dir)
    manifest = build_file_manifest(spark, table_dir, columns=["doc_id"])
    assert prune_files(manifest, "lang", 0, 1) is None
    assert prune_files(manifest, "doc_id", 10**12, 2 * 10**12) == []
    # string stats probed with the default bigint cast: try_cast nulls
    # keep every file conservatively (never an empty, data-losing list)
    by_lang = build_file_manifest(spark, table_dir, columns=["lang"])
    kept = prune_files(by_lang, "lang", 0, 1)
    assert kept and len(kept) == len(spark.read.parquet(table_dir).inputFiles())
