"""Data-layout maintenance for the parquet lakehouse zones.

The ingest sinks (`sources/ingest.py` raw-zone archive, the reference's
daily batch cadence — ua2sql.py:257,293) produce one small file batch
per run per partition; at 100 TB / 1000 executors that becomes the
classic small-files problem: million-file listings, footer-read storms,
one task per tiny file. The reference never deals with this (it appends
rows to PostgreSQL), so this module is engine infrastructure, not
operator parity.

``layout_stats``      — per-partition file count / bytes via the Hadoop
                        FileSystem API (works on any scheme the cluster
                        mounts, not just ``file:``).
``compact_partitions``— rewrite ONLY fragmented partitions to
                        target-sized files; untouched partitions keep
                        their files byte-identical (verified by test).
``write_clustered``   — range-cluster + sort rows into files whose
                        min/max column stats are pairwise disjoint, so
                        any stats-aware reader (parquet row-group
                        pruning, file skipping with a manifest) can
                        drop data without reading it.

Scale notes:
* Compaction reads and writes only the fragmented partitions — the
  rewrite cost is proportional to the fragmentation, never to the
  table. Partition listing is driver-side metadata only.
* ``write_clustered`` costs exactly one range shuffle (sampling pass +
  exchange); the in-file sort is a spillable local sort. This is the
  standard "cluster by" layout pass run after compaction.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PartitionStats:
    partition: str  # relative path, e.g. "day=2024-01-01" (or "" unpartitioned)
    num_files: int
    total_bytes: int


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def layout_stats(spark: SparkSession, path: str) -> list[PartitionStats]:
    """Per-leaf-directory data-file stats (driver-side metadata walk)."""
    fs, root = _fs_and_path(spark, path)
    root_str = fs.makeQualified(root).toString()
    out: dict[str, PartitionStats] = {}
    it = fs.listFiles(root, True)  # recursive remote iterator
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, hidden
        parent = p.getParent().toString()
        rel = parent[len(root_str):].strip("/") if parent.startswith(root_str) else parent
        prev = out.get(rel)
        out[rel] = PartitionStats(
            partition=rel,
            num_files=(prev.num_files if prev else 0) + 1,
            total_bytes=(prev.total_bytes if prev else 0) + st.getLen(),
        )
    return sorted(out.values(), key=lambda s: s.partition)


def fragmented_partitions(
    stats: list[PartitionStats],
    target_file_bytes: int,
    min_files: int = 2,
) -> list[PartitionStats]:
    """Partitions worth rewriting: more files than the data needs at the
    target file size (and at least ``min_files`` — a lone small file
    can't be improved by compaction)."""
    out = []
    for s in stats:
        ideal = max(1, math.ceil(s.total_bytes / target_file_bytes))
        if s.num_files >= min_files and s.num_files > ideal:
            out.append(s)
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> list[PartitionStats]:
    """Rewrite fragmented partitions of a hive-partitioned parquet
    dataset into ~target-sized files; returns the partitions rewritten.

    Only fragmented partitions are read or written: the rewrite runs
    with dynamic partition overwrite, and the input is filtered to the
    fragmented partition values — so a 10 PB table with one noisy day
    costs one day of IO. Unpartitioned datasets (``partition_cols=[]``)
    compact whole-or-nothing."""
    frag = fragmented_partitions(layout_stats(spark, path), target_file_bytes, min_files)
    if not frag:
        return []

    df = spark.read.parquet(path)
    if not partition_cols:
        # Whole-dataset rewrite: coalesce to the ideal file count.
        total = sum(s.total_bytes for s in frag)
        n = max(1, math.ceil(total / target_file_bytes))
        df.coalesce(n).write.mode("overwrite").parquet(path + "__compact_tmp")
        tmp_df = spark.read.parquet(path + "__compact_tmp")
        tmp_df.write.mode("overwrite").parquet(path)
        fs, tmp = _fs_and_path(spark, path + "__compact_tmp")
        fs.delete(tmp, True)
        return frag

    # partition dir "a=1/b=2" -> filter (a='1' AND b='2'); the inferred
    # partition type (date/int/string) round-trips through CAST AS
    # STRING to the same literal form the directory name uses.
    def part_filter(s: PartitionStats):
        cond = F.lit(True)
        for kv in s.partition.split("/"):
            k, v = kv.split("=", 1)
            cond = cond & (F.col(k).cast("string") == v)
        return cond

    keep = None
    for s in frag:
        keep = part_filter(s) if keep is None else (keep | part_filter(s))

    # Per-partition output file counts from one aggregation over just
    # the fragmented slice (rows→bytes density is global: fragmented
    # bytes / fragmented rows). Rows are then bucketed inside each
    # partition by a deterministic row hash, and the exchange keys on
    # (partition, bucket) — so compaction parallelism equals the OUTPUT
    # file count, never the partition count: a skewed 1 TB day rewrites
    # as ~8000 concurrent 128 MB tasks, not one.
    slice_df = df.filter(keep)
    bytes_total = sum(s.total_bytes for s in frag)
    counts = slice_df.groupBy(*partition_cols).agg(F.count(F.lit(1)).alias("__n")).collect()
    rows = sum(r["__n"] for r in counts)
    if rows == 0:
        return []
    rows_per_file = max(1, int(rows * target_file_bytes / max(1, bytes_total)))
    nfiles_rows = [
        tuple(str(r[c]) for c in partition_cols)
        + (max(1, math.ceil(r["__n"] / rows_per_file)),)
        for r in counts
    ]
    nfiles_df = spark.createDataFrame(
        nfiles_rows, [f"__p_{c}" for c in partition_cols] + ["__nfiles"]
    )
    join_cond = None
    for c in partition_cols:
        eq = F.col(c).cast("string") == F.col(f"__p_{c}")
        join_cond = eq if join_cond is None else (join_cond & eq)
    total_files = sum(n[-1] for n in nfiles_rows)
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.col("__nfiles"))

    # Per-write dynamic overwrite (as merge.py's upsert_parquet): only
    # the fragmented partitions are replaced, and the session conf is
    # never touched.
    (
        slice_df.join(F.broadcast(nfiles_df), join_cond)
        .withColumn("__bucket", bucket)
        .repartition(total_files, *[F.col(c) for c in partition_cols], F.col("__bucket"))
        .drop("__bucket", "__nfiles", *[f"__p_{c}" for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", rows_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return frag


# Bit-spreading (shift, mask) schedules for Morton/z-order interleave.
# 2-D: 31-bit inputs spread to even bit positions of a 62-bit code;
# 3-D: 21-bit inputs spread to every third position of a 63-bit code.
# Classic magic-number spreading — each step doubles the gap between
# occupied bit groups. Masks are decimal so the identical expression
# text also runs as the DuckDB oracle.
_SPREAD_2D = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)
_SPREAD_3D = (
    (32, 0x1F00000000FFFF),
    (16, 0x1F0000FF0000FF),
    (8, 0x100F00F00F00F00F),
    (4, 0x10C30C30C30C30C3),
    (2, 0x1249249249249249),
)


def zorder_column(*cols: "F.Column | str") -> F.Column:
    """Morton (z-order) interleave of 2 or 3 non-negative integer
    columns into one BIGINT sort key. Entirely JVM-side bit arithmetic
    (shiftleft/and/or — whole-stage codegen), no UDF.

    Domains: 2-D inputs must fit 31 bits, 3-D inputs 21 bits; callers
    map wider domains down first (e.g. epoch-day instead of epoch-ms).
    Sorting by the result clusters rows so that *every* interleaved
    dimension has narrow min/max per file — the multi-dimensional
    data-skipping layout (one range shuffle via
    :func:`write_zordered`), where a single-column sort only prunes
    its leading column."""
    n = len(cols)
    if n not in (2, 3):
        raise ValueError(f"zorder_column takes 2 or 3 columns, got {n}")
    schedule = _SPREAD_2D if n == 2 else _SPREAD_3D
    limit = 31 if n == 2 else 21

    def spread(c: "F.Column | str") -> F.Column:
        x = (F.col(c) if isinstance(c, str) else c).cast("bigint")
        x = x.bitwiseAND(F.lit((1 << limit) - 1))
        for shift, mask in schedule:
            x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
        return x

    z = spread(cols[0])
    for i in range(1, n):
        z = z.bitwiseOR(F.shiftleft(spread(cols[i]), i))
    return z


def zorder_sql(*exprs: str, dims: int | None = None) -> str:
    """The DuckDB-oracle twin of :func:`zorder_column`: an SQL string
    computing the identical Morton code over ``exprs`` (each a
    non-negative integer SQL expression). Shared schedule constants
    guarantee the two engines agree bit-for-bit."""
    n = dims or len(exprs)
    if n not in (2, 3):
        raise ValueError(f"zorder_sql takes 2 or 3 expressions, got {n}")
    schedule = _SPREAD_2D if n == 2 else _SPREAD_3D
    limit = 31 if n == 2 else 21

    def spread(e: str) -> str:
        x = f"(CAST({e} AS BIGINT) & {(1 << limit) - 1})"
        for shift, mask in schedule:
            x = f"((({x} | ({x} << {shift}))) & {mask})"
        return x

    parts = [spread(exprs[0])]
    for i in range(1, n):
        parts.append(f"({spread(exprs[i])} << {i})")
    return "(" + " | ".join(parts) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    num_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` clustered on the Morton code of ``zorder_cols``:
    one range exchange on the z-value + in-file sort, so per-file
    min/max stats are narrow on ALL interleaved columns at once and a
    stats-aware reader skips files for predicates on any of them. The
    z column itself is not persisted."""
    z = zorder_column(*zorder_cols).alias("__z")
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode(mode).parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: rows land in
    ``num_files`` files whose per-file min/max stats on the cluster
    columns are pairwise disjoint (up to range-boundary ties), and rows
    inside each file are sorted — parquet row groups inherit monotone
    stats. One range exchange + local sort; no global sort."""
    cols = [F.col(c) for c in cluster_cols]
    out = df.repartitionByRange(num_files, *cols).sortWithinPartitions(*cols)
    writer = out.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def vacuum_orphans(
    spark: SparkSession,
    path: str,
    manifest,
    max_age_hours: float = 168.0,
    dry_run: bool = True,
) -> list[str]:
    """Delete (or, with ``dry_run=True``, just report) data files under
    ``path`` that the table's file MANIFEST does not reference and that
    are older than ``max_age_hours`` — the lakehouse VACUUM discipline.

    Plain parquet directories have no transaction log, so the reader's
    own listing can never distinguish a committed data file from a
    stale one left by an interrupted rewrite (compaction,
    dynamic-partition overwrite, upsert_parquet) — both match the same
    glob. The file manifest (operators/manifest.py,
    ``build_file_manifest`` run at commit time) IS this table layout's
    commit record, and is already what scan pruning trusts
    (``read_pruned``); vacuum trusts the same source: orphan = on disk,
    not in manifest, older than the retention window. The age floor
    keeps in-flight writes safe — the same contract as Delta VACUUM's
    retention window.

    ``manifest`` is the manifest DataFrame (or any DataFrame with a
    ``file`` column of qualified paths). Its distinct file list is
    collected driver-side — bounded by the table's FILE count, which
    scales with partitioning discipline, not data bytes (the
    layout_stats bound). The disk walk is the same driver-side
    metadata iteration as ``layout_stats``.
    """
    import time

    jvm = spark.sparkContext._jvm

    def _norm(f: str) -> str:
        # Manifest entries are Hadoop Path.toString() values — fully
        # qualified AND URI-escaped (a space is %20). The disk walk
        # below compares p.toUri().getPath(), which strips
        # scheme+authority and DECODES escapes — so both sides must go
        # through the exact same JVM Path → URI → path pipeline, or a
        # live file whose name Hadoop escapes would never match and be
        # deleted as an orphan once aged.
        return jvm.org.apache.hadoop.fs.Path(f).toUri().getPath()

    live = {_norm(r["file"]) for r in manifest.select("file").distinct().collect()}
    fs, root = _fs_and_path(spark, path)
    cutoff_ms = (time.time() - max_age_hours * 3600.0) * 1000.0
    orphans: list[str] = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.startswith("_") or name.startswith("."):
            continue  # commit markers / checksums are not data files
        raw = p.toUri().getPath()
        rel = raw[len(root.toUri().getPath()):]
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")[:-1]):
            # files under _-prefixed directories are table METADATA
            # (snapshot manifests _snapshots/v*, streaming
            # _spark_metadata) — Spark's own hidden-dir convention;
            # never vacuum candidates
            continue
        if raw in live:
            continue
        if st.getModificationTime() > cutoff_ms:
            continue  # possibly an in-flight write: retention window
        orphans.append(raw)
        if not dry_run:
            fs.delete(p, False)
    return sorted(orphans)
