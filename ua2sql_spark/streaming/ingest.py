"""Streaming ingest (SURVEY §2.9 T1–T4).

The reference is a poll-based micro-batch consumer: request export,
poll, land files, insert, record offset in the JobId table
(ua2sql.py:250-278). Structured Streaming collapses that machinery:

* file source over the landing dir = the export download target (S3)
* ``checkpointLocation`` offset log = the JobId table (T1) — resume
  "exactly where it left off" (README.md:30) is free
* ``Trigger.AvailableNow`` = the run-once-daily cadence (T3,
  README.md:30) — drain everything new, then stop
* ``foreachBatch`` = the batched JDBC insert (S7); at-least-once by
  default, same as the reference's checkpoint-after-commit (T4)

A JDBC stream sink with an exactly-once effect is :func:`stream_feed`
with a ``foreachBatch`` closure over
``ua2sql_spark.sources.jdbc.upsert_feed_jdbc``: the checkpoint gives
at-least-once micro-batches and the upsert's key anti-join makes a
redelivered row a no-op (``tests/test_ingest.py``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ua2sql_spark.sources.unity import read_feed_stream


def stream_feed(
    spark: SparkSession,
    landing_dir: str,
    feed: str,
    checkpoint_dir: str,
    batch_sink: Callable[[DataFrame, int], None],
    parity_ts: bool = False,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental ingest of one feed's landing directory.

    ``batch_sink(df, epoch_id)`` receives each micro-batch — pass a JDBC
    append (`write_feed_jdbc`) for PG parity or a parquet/Delta write for
    lakehouse mode. With ``available_now`` the query drains pending files
    and stops — the reference's one-shot daily run."""
    src = read_feed_stream(spark, landing_dir, feed, parity_ts=parity_ts)
    writer = (
        src.writeStream.foreachBatch(batch_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
