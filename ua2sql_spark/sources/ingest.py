"""Ingestion controller — the reference's end-to-end pipeline on Spark.

Reference flow per feed (ua2sql.py:250-278): checkpoint lookup → request
export job (continueFrom=prev jobId | 30-day backfill) → poll → download
+ gunzip to staging → optional backup archive → batched insert →
staging cleanup → checkpoint append.

Spark mapping (SURVEY §3): the HTTP legs (S1–S3) are driver-side Python
behind the ``ExportClient`` protocol (injectable; the tests inject
``LocalFileExportClient`` from ``tests/helpers.py``, which copies
pre-staged local files); everything from the landing dir onward is
Spark. The download step keeps files compressed — Spark gunzips on read,
so the reference's in-memory ``gzip.GzipFile`` stage (ua2sql.py:157-158)
disappears.

Delivery contract: checkpoint append happens strictly after the sink
write returns (at-least-once, ua2sql.py:274-278). Pair with an
idempotent sink (content-hash dedup, x41) for effective exactly-once.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
from ua2sql_spark.sources.unity import FEEDS, read_feed

BACKFILL_DAYS = 30      # ua2sql.py:257
POLL_INTERVAL_S = 5.0   # ua2sql.py:265


class ExportClient(Protocol):
    """The Unity Raw Data Export API surface the reference consumes
    (S1–S3). Production implementation:
    ``ua2sql_spark.sources.http_export.HttpExportClient`` (`requests`)."""

    def request_export(
        self, feed: str, start_date: date | None, continue_from: str | None
    ) -> str | None:
        """POST …/rawdataexports (ua2sql.py:95-113) → job id, None on error."""
        ...

    def is_complete(self, job_id: str) -> bool:
        """GET job status == 'completed' (ua2sql.py:117-124)."""
        ...

    def download_results(self, job_id: str, staging_dir: str) -> list[str]:
        """GET each result.fileList url into staging (ua2sql.py:128-161);
        files may stay .gz — Spark reads them transparently."""
        ...


def remove_files_in_directory(path: str) -> None:
    """Staging hygiene (ua2sql.py:180-184): delete files, keep subdirs."""
    if not os.path.isdir(path):
        return
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isfile(p):
            os.remove(p)


def backup_job_results(staging_dir: str, backup_root: str, feed: str) -> None:
    """Raw-zone archive partitioned by jobType/date (ua2sql.py:188-204,
    partitioning mirrors ua2sql.py:196) — keeps the original dumps for
    replay, the lakehouse raw zone."""
    dst = os.path.join(backup_root, feed, date.today().isoformat())
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(staging_dir):
        src = os.path.join(staging_dir, name)
        if os.path.isfile(src):
            shutil.copyfile(src, os.path.join(dst, name))


@dataclass
class IngestResult:
    feed: str
    job_id: str | None
    rows: int


def process_raw_dump(
    spark: SparkSession,
    client: ExportClient,
    feed: str,
    staging_dir: str,
    checkpoint: JobIdCheckpoint,
    sink: Callable[[DataFrame, str], int],
    backup_root: str | None = None,
    parity_ts: bool = False,
    poll_interval_s: float = POLL_INTERVAL_S,
    poll_timeout_s: float = 600.0,
) -> IngestResult:
    """One feed's ingest cycle (reference process_raw_dump,
    ua2sql.py:250-278). ``sink(df, feed) -> row count`` abstracts the
    JDBC/parquet write so tests and lakehouse mode share the pipeline."""
    prev = checkpoint.find_previous_job_id(feed)
    start = None if prev else date.today() - timedelta(days=BACKFILL_DAYS)
    job_id = client.request_export(feed, start, prev)
    if job_id is None:
        # Unlike the reference (which crashes concatenating None,
        # ua2sql.py:261 — documented bug we don't reproduce, SURVEY §4),
        # a failed/empty export is a clean no-op.
        return IngestResult(feed=feed, job_id=None, rows=0)

    deadline = time.monotonic() + poll_timeout_s
    while not client.is_complete(job_id):
        if time.monotonic() > deadline:
            raise TimeoutError(f"export job {job_id} did not complete")
        time.sleep(poll_interval_s)

    os.makedirs(staging_dir, exist_ok=True)
    client.download_results(job_id, staging_dir)
    if backup_root:
        backup_job_results(staging_dir, backup_root, feed)

    df = read_feed(spark, staging_dir, feed, parity_ts=parity_ts)
    rows = sink(df, feed)
    # Order matters: cleanup + checkpoint only after the sink committed
    # (at-least-once, ua2sql.py:274-278).
    remove_files_in_directory(staging_dir)
    checkpoint.append(job_id, feed)
    return IngestResult(feed=feed, job_id=job_id, rows=rows)


def run_ingest(
    spark: SparkSession,
    client: ExportClient,
    staging_root: str,
    checkpoint: JobIdCheckpoint,
    sink: Callable[[DataFrame, str], int],
    feeds: tuple[str, ...] = FEEDS,
    backup_root: str | None = None,
    parity_ts: bool = False,
    poll_interval_s: float = POLL_INTERVAL_S,
) -> list[IngestResult]:
    """Full run over all feeds (reference main, ua2sql.py:280-295).

    Startup staging wipe reproduces the reference's crash hygiene
    (ua2sql.py:285-286). Feeds process sequentially for parity; each
    feed's Spark job is internally parallel (the reference was strictly
    single-threaded end to end)."""
    results = []
    for feed in feeds:
        staging = os.path.join(staging_root, feed)
        os.makedirs(staging, exist_ok=True)
        remove_files_in_directory(staging)
        results.append(
            process_raw_dump(
                spark,
                client,
                feed,
                staging,
                checkpoint,
                sink,
                backup_root=backup_root,
                parity_ts=parity_ts,
                poll_interval_s=poll_interval_s,
            )
        )
    return results


def parquet_sink(root: str) -> Callable[[DataFrame, str], int]:
    """Lakehouse-mode sink: append to parquet per feed. The JDBC-parity
    sink is ua2sql_spark.sources.jdbc.write_feed_jdbc."""

    def _sink(df: DataFrame, feed: str) -> int:
        from pyspark.sql import Observation

        # The inserted-count the reference prints (ua2sql.py:239-241) —
        # collected from the WRITE job's own metrics via observe(), not
        # a second count() execution of the whole pipeline (at 100 TB a
        # separate count() is a full second pass over the feed).
        obs = Observation(f"ingest_rows_{feed}")
        out = os.path.join(root, feed)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "append"
        ).parquet(out)
        return int(obs.get["rows"])

    return _sink
