"""JobId checkpoint protocol — parity with the reference's offset log.

The reference tracks per-feed resume points in a ``JobId`` table
(ua2sql.py:39-44): ``find_previous_job_id`` reads the most recent jobId
for a jobType via SELECT … ORDER BY ts DESC LIMIT 1 (ua2sql.py:165-176),
and one row is appended after each successful ingest (ua2sql.py:278) —
*after* the insert commits, giving at-least-once delivery (SURVEY §2.9
T4).

Here the log is an append-only parquet directory on the driver's local
filesystem (local paths only, no URIs), read and written with pyarrow on
the driver: neither operation runs a Spark job. The on-disk format is
the one the Spark-written log always had, one snappy parquet file of one
(ts, jobId, jobType) row per job. Reads cast every file to one explicit
schema, so Spark's INT96 files (naive ``timestamp[ns]``, UTC) and
tz-aware ones mix. An append writes a dot-prefixed temp file, fsyncs it
and renames it to ``part-*.parquet``: a crash before the rename leaves
nothing a reader sees, because dataset discovery skips names starting
with ``.`` or ``_`` (which also hides ``_SUCCESS`` and ``.crc`` files).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

CHECKPOINT_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),    # ua2sql.py:41
        ("jobId", pa.string()),                  # ua2sql.py:42
        ("jobType", pa.string()),                # ua2sql.py:43
    ]
)


class JobIdCheckpoint:
    """Append-only (ts, jobId, jobType) log with latest-per-type lookup.

    ``spark`` is accepted for signature compatibility and not used: the
    log is driver-local, ``path`` a local directory."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def find_previous_job_id(self, job_type: str) -> str | None:
        """Latest jobId for ``job_type`` (reference ua2sql.py:165-176).
        Ties on ts break toward the lexicographically larger jobId so the
        answer is deterministic. A missing or empty log gives None."""
        if not os.path.isdir(self.path):
            return None
        rows = (
            ds.dataset(self.path, schema=CHECKPOINT_SCHEMA, format="parquet")
            .to_table(columns=["ts", "jobId"], filter=ds.field("jobType") == job_type)
        )
        if rows.num_rows == 0:
            return None
        latest = rows.sort_by([("ts", "descending"), ("jobId", "descending")])
        return latest["jobId"][0].as_py()

    def append(self, job_id: str, job_type: str, ts: datetime | None = None) -> None:
        """Record a completed ingest (reference ua2sql.py:278). Call only
        after the sink write succeeds — checkpoint-after-commit is the
        at-least-once contract (ua2sql.py:274-278). A naive ``ts`` is
        UTC."""
        ts = ts or datetime.now(timezone.utc)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        row = pa.table(
            {"ts": [ts], "jobId": [job_id], "jobType": [job_type]},
            schema=CHECKPOINT_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4()}.snappy.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(row, f, compression="snappy")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, name))
