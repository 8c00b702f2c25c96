"""CLI entry: ``python -m ua2sql_spark <config.json>`` — the reference's
``python ua2sql.py config.json`` invocation (ua2sql.py:15-17, 280-295)
on the Spark engine.

Flow parity: load + validate config → startup staging wipe (crash
hygiene, ua2sql.py:285-286) → for each feed: checkpoint lookup, export
job create/poll/download, optional raw backup, landing read, sink
write, checkpoint append (strictly after the sink commits).

Sink selection (SURVEY §3): with ``lakehouse_root`` set the feeds land
as parquet (the 100 TB path); otherwise the reference's PostgreSQL
tables via the batched JDBC appender. The JobId checkpoint lives in a
driver-local parquet directory either way (the reference keeps it in a
PG table; ours is local so ingest works even when the sink database is
down — documented deviation, SURVEY §4).
"""

from __future__ import annotations

import os
import sys

from ua2sql_spark.config import ConfigError, IngestConfig, load_config


def _jdbc_sink(cfg: IngestConfig):
    from ua2sql_spark.sources.jdbc import write_feed_jdbc

    def sink(df, feed: str) -> int:
        return write_feed_jdbc(
            df, cfg.jdbc_url, feed, feed, properties=cfg.jdbc_properties
        )

    return sink


def _pipeline_main(argv: list[str], spark=None) -> int:
    """``python -m ua2sql_spark pipeline <sf_dir> <out_dir> [n_shards]``
    — the composed corpus build (read → NFC → quality gate → exact+near
    dedup → pack → WebDataset export) as a runnable job, printing the
    stage-count record as one JSON line (the bench/driver convention)."""
    import json

    from ua2sql_spark.pipeline import corpus_pipeline
    from ua2sql_spark.session import get_spark

    if len(argv) < 2:
        print("usage: python -m ua2sql_spark pipeline <sf_dir> <out_dir> [n_shards]")
        return 1
    sf_dir, out_dir = argv[0], argv[1]
    n_shards = int(argv[2]) if len(argv) > 2 else 16
    spark = spark or get_spark("ua2sql_spark-pipeline")
    m = corpus_pipeline(spark, sf_dir, out_dir, n_shards=n_shards)
    m.pop("manifest")
    print(json.dumps(m))
    return 0


def _maintain_main(argv: list[str], spark=None) -> int:
    """``python -m ua2sql_spark maintain <table_path> <partition_col>
    [--min-files N] [--compact]`` — the measure-first maintenance loop
    for a CoW snapshot table as a runnable job: print the per-partition
    layout-health report as JSON lines, then (only with ``--compact``)
    rewrite EXACTLY the would_compact set via the partitions allowlist.
    The operator pair guarantees report/rewrite agreement for any
    ``--min-files``; the default is report-only (dry-run by default:
    rewriting is the opt-in)."""
    import json

    from ua2sql_spark.operators.snapshot import (
        compact_snapshot,
        snapshot_layout_health,
    )
    from ua2sql_spark.session import get_spark

    def _usage() -> int:
        print(
            "usage: python -m ua2sql_spark maintain <table_path> "
            "<partition_col> [--min-files N] [--compact]"
        )
        return 1

    min_files = 2
    compact = False
    args: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--min-files":
            # ADVICE r13 #2: a trailing or non-integer --min-files is a
            # usage error, not an IndexError/ValueError traceback.
            if i + 1 >= len(argv):
                return _usage()
            try:
                min_files = int(argv[i + 1])
            except ValueError:
                return _usage()
            i += 2
        elif argv[i] == "--compact":
            compact = True
            i += 1
        else:
            args.append(argv[i])
            i += 1
    if len(args) != 2:
        return _usage()
    path, partition_col = args
    spark = spark or get_spark("ua2sql_spark-maintain")
    health = snapshot_layout_health(spark, path, min_files=min_files)
    flagged = []
    for r in health.collect():
        print(json.dumps(r.asDict()))
        if r["would_compact"]:
            flagged.append(r["partition"])
    if compact and flagged:
        version, compacted = compact_snapshot(
            spark, path, partition_col, min_files=min_files,
            partitions=flagged,
        )
        print(json.dumps({"compacted": compacted, "new_version": version}))
    return 0


def main(argv: list[str] | None = None, client=None, spark=None) -> int:
    """Returns a process exit code. ``client``/``spark`` are injectable
    for tests; production builds both from the config."""
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        # ua2sql.py:18-19
        print("please provide path to configuration file. see README.md for specs.")
        return 1
    if argv[0] == "pipeline":
        return _pipeline_main(argv[1:], spark=spark)
    if argv[0] == "maintain":
        return _maintain_main(argv[1:], spark=spark)
    try:
        cfg = load_config(argv[0])
    except ConfigError as exc:
        print(f"bad config: {exc}")  # ua2sql.py:24-31, one clean message
        return 1

    from ua2sql_spark.session import get_spark
    from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
    from ua2sql_spark.sources.ingest import parquet_sink, run_ingest

    spark = spark or get_spark("ua2sql_spark-ingest")
    client = client or cfg.http_client()
    checkpoint = JobIdCheckpoint(
        spark,
        cfg.checkpoint_path
        or os.path.join(cfg.local_collection_path, "_jobid_checkpoint"),
    )
    sink = (
        parquet_sink(cfg.lakehouse_root) if cfg.lakehouse_root else _jdbc_sink(cfg)
    )
    results = run_ingest(
        spark,
        client,
        cfg.local_collection_path,
        checkpoint,
        sink,
        backup_root=cfg.backup_collection_path,
        parity_ts=True,  # reference truncates ts to seconds (ua2sql.py:232-233)
    )
    for r in results:
        print(f"{r.feed}: job={r.job_id or '<none>'} rows={r.rows}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
