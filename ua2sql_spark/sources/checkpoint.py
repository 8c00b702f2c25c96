"""JobId checkpoint protocol — parity with the reference's offset log.

The reference tracks per-feed resume points in a ``JobId`` table
(ua2sql.py:39-44): ``find_previous_job_id`` reads the most recent jobId
for a jobType via SELECT … ORDER BY ts DESC LIMIT 1 (ua2sql.py:165-176),
and one row is appended after each successful ingest (ua2sql.py:278) —
*after* the insert commits, giving at-least-once delivery (SURVEY §2.9
T4).

Here the log is a parquet directory on the driver's local filesystem
(local paths only, no URIs), read and written with pyarrow on the
driver: neither operation runs a Spark job. It holds one folded file of
every (ts, jobId, jobType) row, plus any files a crash or an older
writer left: Spark's log wrote one snappy parquet file per job. Reads
cast every file to one explicit schema, so Spark's INT96 files (naive
``timestamp[ns]``, UTC) and tz-aware ones mix. An append is a fold, as
Structured Streaming compacts its metadata log so readers open one
file: it reads the visible files, writes their rows plus the new one to
a dot-prefixed temp file, fsyncs it, renames it to ``part-*.parquet``,
fsyncs the directory and only then removes the files it read. The
file format is unchanged (same schema, plain ``part-*.parquet``), so
``spark.read.parquet`` and a schema-less ``pyarrow.dataset`` read it.

* A crash before the rename leaves nothing a reader sees, because
  dataset discovery skips names starting with ``.`` or ``_`` (which
  also hides ``_SUCCESS`` and ``.crc`` files).
* A crash after the rename leaves rows duplicated across the new file
  and the old ones. The max-of-``(ts, jobId)`` lookup gives the same
  answer, and the next append folds them into one file again.
* The directory fsync keeps the removals from outliving the rename
  after a power loss, which would empty the log.

One writer at a time, and no read during an append, as in the
reference's serial job (ua2sql.py:293-295): an append removes the files
it read.
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
    """(ts, jobId, jobType) log with latest-per-type lookup.

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
        UTC. Folds the log into one new file (module docstring)."""
        ts = ts or datetime.now(timezone.utc)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        row = pa.table(
            {"ts": [ts], "jobId": [job_id], "jobType": [job_type]},
            schema=CHECKPOINT_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        log = ds.dataset(self.path, schema=CHECKPOINT_SCHEMA, format="parquet")
        folded = pa.concat_tables([log.to_table(), row])
        name = f"part-{uuid.uuid4()}.snappy.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(folded, f, compression="snappy")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.path, name))
        fd = os.open(self.path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        for old in log.files:
            os.remove(old)
