"""Ingest-parity tests (SURVEY §5.3/§5.4, FIXTURES.md §2).

Fixture cases: (a) happy path, (b) missing fields → NULL, (c) extra
fields dropped, (d) sub-second ts truncation parity, (e) empty file,
(f) duplicate rows across runs → at-least-once, plus checkpoint
resume-from-offset semantics.
"""

from __future__ import annotations

import gzip
import json
import os
import stat
from datetime import datetime, timezone
from decimal import Decimal

import pytest

from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
from ua2sql_spark.sources.ingest import parquet_sink, run_ingest
from ua2sql_spark.sources.jdbc import jdbc_writer_options
from ua2sql_spark.sources.unity import FEEDS, landed_schema, read_feed
from tests.helpers import LocalFileExportClient


def write_jsonl_gz(path: str, rows: list[dict]) -> str:
    with gzip.open(path, "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return path


BASE_MS = 1_700_000_000_123  # 2023-11-14 22:13:20.123 UTC


def custom_rows():
    return [
        {  # happy path
            "ts": BASE_MS,
            "submit_time": BASE_MS + 5_000,
            "userid": "u1",
            "remote_ip": "203.0.113.7",
            "platform": "iOS",
            "user_agent": "ua/1",
            "sdk_ver": "5.0",
            "sessionid": 42,
            "name": "level_up",
            "custom_params": {"level": 3, "tags": ["a", "b"]},
        },
        {  # missing most fields → NULLs (ua2sql.py:229)
            "ts": BASE_MS + 60_000,
            "userid": "u2",
            "name": "ping",
            "unknown_extra_key": "dropped silently",  # ua2sql.py:226-235
        },
    ]


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    return str(d)


def test_happy_path_and_projection(spark, landing):
    write_jsonl_gz(os.path.join(landing, "dump.txt.gz"), custom_rows())
    df = read_feed(spark, landing, "custom")
    assert df.schema == landed_schema("custom")
    rows = {r["userid"]: r for r in df.collect()}
    r1 = rows["u1"]
    assert r1["ts"] == datetime(2023, 11, 14, 22, 13, 20, 123000)
    assert r1["submit_time"] == datetime(2023, 11, 14, 22, 13, 25, 123000)
    assert r1["sessionid"] == 42
    # JSONB island carried as raw JSON text (ua2sql.py:68)
    assert json.loads(r1["custom_params"]) == {"level": 3, "tags": ["a", "b"]}
    r2 = rows["u2"]
    # missing keys → NULL; extra keys dropped (no such column exists)
    assert r2["remote_ip"] is None and r2["sessionid"] is None
    assert "unknown_extra_key" not in df.columns


def test_ts_truncation_parity(spark, landing):
    write_jsonl_gz(os.path.join(landing, "dump.txt.gz"), custom_rows())
    df = read_feed(spark, landing, "custom", parity_ts=True)
    r1 = [r for r in df.collect() if r["userid"] == "u1"][0]
    # reference truncates to whole seconds (ua2sql.py:232-233)
    assert r1["ts"] == datetime(2023, 11, 14, 22, 13, 20)
    assert r1["submit_time"] == datetime(2023, 11, 14, 22, 13, 25)


def test_transaction_amount_is_exact_decimal(spark, landing):
    rows = [
        {
            "ts": BASE_MS,
            "userid": "u1",
            "sessionid": 1,
            "currency": "USD",
            "amount": 19.99,
            "transactionid": "t-1",
            "productid": "p-1",
            "receipt": {"store": "apple", "sig": "abc"},
        }
    ]
    write_jsonl_gz(os.path.join(landing, "tx.txt.gz"), rows)
    df = read_feed(spark, landing, "transaction")
    r = df.collect()[0]
    assert r["amount"] == Decimal("19.99")  # never a float (ua2sql.py:82)
    assert json.loads(r["receipt"])["store"] == "apple"


def test_empty_file(spark, landing):
    write_jsonl_gz(os.path.join(landing, "empty.txt.gz"), [])
    df = read_feed(spark, landing, "appStart")
    # the reference executes an empty INSERT here (documented bug,
    # ua2sql.py:244-245); we land zero rows cleanly
    assert df.count() == 0


def test_checkpoint_protocol(spark, tmp_path):
    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    assert cp.find_previous_job_id("custom") is None  # missing directory
    cp.append("custom-0", "custom", ts=datetime(2024, 1, 1, 10))
    cp.append("custom-1", "custom", ts=datetime(2024, 1, 2, 10))
    cp.append("appStart-7", "appStart", ts=datetime(2024, 1, 3, 10))
    assert cp.find_previous_job_id("custom") == "custom-1"  # latest ts
    assert cp.find_previous_job_id("appStart") == "appStart-7"
    assert cp.find_previous_job_id("transaction") is None
    # a ts tie breaks toward the larger jobId, whatever the append order
    cp.append("custom-9", "custom", ts=datetime(2024, 1, 5, 10))
    cp.append("custom-10", "custom", ts=datetime(2024, 1, 5, 10))
    assert cp.find_previous_job_id("custom") == "custom-9"
    # no Spark needed: a session-less instance reads and writes the log
    bare = JobIdCheckpoint(None, cp.path)
    assert bare.find_previous_job_id("custom") == "custom-9"
    bare.append("custom-11", "custom", ts=datetime(2024, 1, 6, 10))
    assert cp.find_previous_job_id("custom") == "custom-11"
    # a directory holding only Spark's _SUCCESS and .crc files is empty
    only_markers = tmp_path / "markers"
    only_markers.mkdir()
    (only_markers / "_SUCCESS").write_bytes(b"")
    (only_markers / ".part-00000-x-c000.snappy.parquet.crc").write_bytes(b"crc")
    assert JobIdCheckpoint(None, str(only_markers)).find_previous_job_id("custom") is None


def test_checkpoint_reads_logs_written_before_pyarrow(spark, tmp_path):
    """One log mixing every writer it has had: Spark's parquet writer
    (INT96 ts, naive in UTC), pyarrow's tz-aware files (as the
    benchmark's history generator writes them) and ``append``. The next
    append folds them all into one file and changes no answer."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    path = str(tmp_path / "jobid")
    cp = JobIdCheckpoint(spark, path)
    cp.append("transaction-0", "transaction", ts=datetime(2024, 1, 1, 4))
    spark_schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("jobId", StringType()),
            StructField("jobType", StringType()),
        ]
    )
    for row in [
        (datetime(2024, 1, 1, 3, 0, 0, 250000), "custom-0", "custom"),
        (datetime(2024, 1, 3, 3), "appStart-2", "appStart"),
    ]:
        spark.createDataFrame([row], spark_schema).coalesce(1).write.mode("append").parquet(path)
    tz_schema = pa.schema(
        [("ts", pa.timestamp("us", tz="UTC")), ("jobId", pa.string()), ("jobType", pa.string())]
    )
    pq.write_table(
        pa.table(
            {"ts": [datetime(2024, 1, 2, 3, tzinfo=timezone.utc)], "jobId": ["custom-1"], "jobType": ["custom"]},
            schema=tz_schema,
        ),
        os.path.join(path, "part-00000-0000abcd-0001-c000.snappy.parquet"),
        compression="snappy",
    )
    assert len(ds.dataset(path, format="parquet").files) == 4
    assert cp.find_previous_job_id("custom") == "custom-1"  # tz-aware beats INT96
    assert cp.find_previous_job_id("appStart") == "appStart-2"  # INT96 beats nothing
    cp.append("appStart-1", "appStart", ts=datetime(2024, 1, 2, 3))
    assert len(ds.dataset(path, format="parquet").files) == 1
    assert cp.find_previous_job_id("custom") == "custom-1"
    assert cp.find_previous_job_id("appStart") == "appStart-2"  # older append loses
    assert cp.find_previous_job_id("transaction") == "transaction-0"
    cp.append("custom-2", "custom", ts=datetime(2024, 1, 2, 3, 0, 0, 1))
    assert cp.find_previous_job_id("custom") == "custom-2"  # by one microsecond

    log = ds.dataset(path, format="parquet").to_table().to_pylist()
    assert sorted(r["jobId"] for r in log) == [
        "appStart-1", "appStart-2", "custom-0", "custom-1", "custom-2", "transaction-0",
    ]
    spark_read = spark.read.schema(spark_schema).parquet(path).collect()
    assert {(r["jobId"], r["ts"]) for r in spark_read} >= {
        ("custom-0", datetime(2024, 1, 1, 3, 0, 0, 250000)),
        ("custom-2", datetime(2024, 1, 2, 3, 0, 0, 1)),
    }


def test_checkpoint_crash_before_rename_leaves_no_record(tmp_path, monkeypatch):
    import pyarrow.dataset as ds

    cp = JobIdCheckpoint(None, str(tmp_path / "jobid"))
    cp.append("custom-0", "custom", ts=datetime(2024, 1, 1))
    real_replace = os.replace
    calls = []

    def crash_once(src, dst):
        calls.append(src)
        if len(calls) == 1:
            raise OSError("simulated crash before rename")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        cp.append("custom-1", "custom", ts=datetime(2024, 1, 2))
    assert os.path.exists(calls[0])  # the fsynced temp file is left behind...
    assert cp.find_previous_job_id("custom") == "custom-0"  # ...and unseen
    assert ds.dataset(cp.path, format="parquet").to_table().column("jobId").to_pylist() == ["custom-0"]

    cp.append("custom-1", "custom", ts=datetime(2024, 1, 2))
    assert cp.find_previous_job_id("custom") == "custom-1"


def test_checkpoint_crash_before_removal_keeps_answers(tmp_path, monkeypatch):
    """A crash after the fold's rename, before the files it read are
    removed, leaves duplicated rows that change no lookup; the next
    append folds the log into one file again. The directory is fsynced
    before any removal, so the removals cannot outlive the rename."""
    import pyarrow.dataset as ds

    cp = JobIdCheckpoint(None, str(tmp_path / "jobid"))
    cp.append("custom-0", "custom", ts=datetime(2024, 1, 1))
    cp.append("appStart-0", "appStart", ts=datetime(2024, 1, 1))
    real_fsync = os.fsync
    events = []

    def fsync(fd):
        events.append("fsync-dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync-file")
        real_fsync(fd)

    def crash(path):
        events.append("remove")
        raise OSError("simulated crash before removal")

    with monkeypatch.context() as m:
        m.setattr(os, "fsync", fsync)
        m.setattr(os, "remove", crash)
        with pytest.raises(OSError, match="simulated crash"):
            cp.append("custom-1", "custom", ts=datetime(2024, 1, 2))
    assert events == ["fsync-file", "fsync-dir", "remove"]
    assert len(ds.dataset(cp.path, format="parquet").files) == 2
    assert cp.find_previous_job_id("custom") == "custom-1"
    assert cp.find_previous_job_id("appStart") == "appStart-0"
    assert sorted(ds.dataset(cp.path, format="parquet").to_table().column("jobId").to_pylist()) == [
        "appStart-0", "appStart-0", "custom-0", "custom-0", "custom-1",
    ]

    cp.append("transaction-0", "transaction", ts=datetime(2024, 1, 3))
    assert len(ds.dataset(cp.path, format="parquet").files) == 1
    assert cp.find_previous_job_id("custom") == "custom-1"
    assert cp.find_previous_job_id("appStart") == "appStart-0"
    assert cp.find_previous_job_id("transaction") == "transaction-0"


def _two_custom_exports(tmp_path):
    fixtures = tmp_path / "fixtures"
    fixtures.mkdir()
    runs = [
        [write_jsonl_gz(str(fixtures / f"c{n}.txt.gz"), [{"ts": BASE_MS + n, "userid": f"u{n}", "name": "x"}])]
        for n in range(2)
    ]
    client = LocalFileExportClient(exports={"custom": runs})
    asked = []
    request = client.request_export
    client.request_export = lambda feed, start, cont: asked.append(cont) or request(feed, start, cont)
    return client, asked


def test_sink_failure_keeps_checkpoint_and_staging(spark, tmp_path):
    """Checkpoint-after-commit (ua2sql.py:274-278): a sink that raises
    leaves the checkpoint at the prior job and the staged dump in place;
    the next run asks to continue from the prior job and lands it."""
    client, asked = _two_custom_exports(tmp_path)
    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    staging = str(tmp_path / "staging")
    sink = parquet_sink(str(tmp_path / "warehouse"))
    run_ingest(spark, client, staging, cp, sink, feeds=("custom",), poll_interval_s=0.0)
    assert cp.find_previous_job_id("custom") == "custom-0"

    def failing_sink(df, feed):
        raise RuntimeError("sink down")

    with pytest.raises(RuntimeError, match="sink down"):
        run_ingest(spark, client, staging, cp, failing_sink, feeds=("custom",), poll_interval_s=0.0)
    assert cp.find_previous_job_id("custom") == "custom-0"
    assert os.listdir(os.path.join(staging, "custom")) == ["c1.txt.gz"]

    res = run_ingest(spark, client, staging, cp, sink, feeds=("custom",), poll_interval_s=0.0)
    assert asked == [None, "custom-0", "custom-0"]
    assert res[0].job_id == "custom-1" and res[0].rows == 1
    assert cp.find_previous_job_id("custom") == "custom-1"
    landed = spark.read.parquet(str(tmp_path / "warehouse" / "custom"))
    assert sorted(r["userid"] for r in landed.collect()) == ["u0", "u1"]


def test_checkpoint_failure_after_commit_redelivers(spark, tmp_path, monkeypatch):
    """A crash between the sink commit and the checkpoint append makes
    the next run re-deliver the same job: its rows land twice
    (at-least-once, never lost)."""
    client, asked = _two_custom_exports(tmp_path)
    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    staging = str(tmp_path / "staging")
    sink = parquet_sink(str(tmp_path / "warehouse"))

    def append_crashes(job_id, job_type, ts=None):
        raise OSError("crash after commit")

    monkeypatch.setattr(cp, "append", append_crashes)
    with pytest.raises(OSError, match="crash after commit"):
        run_ingest(spark, client, staging, cp, sink, feeds=("custom",), poll_interval_s=0.0)
    assert cp.find_previous_job_id("custom") is None
    monkeypatch.undo()

    res = run_ingest(spark, client, staging, cp, sink, feeds=("custom",), poll_interval_s=0.0)
    assert asked == [None, None]
    assert res[0].job_id == "custom-0"
    assert cp.find_previous_job_id("custom") == "custom-0"
    landed = spark.read.parquet(str(tmp_path / "warehouse" / "custom"))
    assert sorted(r["userid"] for r in landed.collect()) == ["u0", "u0"]


def test_full_ingest_resume_and_at_least_once(spark, tmp_path):
    """Two ingest cycles: run 2 resumes from the checkpoint (continueFrom
    semantics, ua2sql.py:101-104) and re-delivers an overlapping row —
    landed duplicates are expected (at-least-once, T4)."""
    fixtures = tmp_path / "fixtures"
    fixtures.mkdir()
    shared_row = {"ts": BASE_MS, "userid": "dup", "name": "overlap"}
    run0 = write_jsonl_gz(
        str(fixtures / "c0.txt.gz"),
        [shared_row, {"ts": BASE_MS + 1, "userid": "a", "name": "x"}],
    )
    run1 = write_jsonl_gz(
        str(fixtures / "c1.txt.gz"),
        [shared_row, {"ts": BASE_MS + 2, "userid": "b", "name": "y"}],
    )
    client = LocalFileExportClient(exports={"custom": [[run0], [run1]]})
    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    sink = parquet_sink(str(tmp_path / "warehouse"))

    r1 = run_ingest(
        spark, client, str(tmp_path / "staging"), cp, sink,
        feeds=("custom",), backup_root=str(tmp_path / "backup"),
        poll_interval_s=0.01,
    )
    assert r1[0].rows == 2 and r1[0].job_id == "custom-0"
    assert cp.find_previous_job_id("custom") == "custom-0"

    r2 = run_ingest(
        spark, client, str(tmp_path / "staging"), cp, sink,
        feeds=("custom",), poll_interval_s=0.01,
    )
    assert r2[0].rows == 2 and r2[0].job_id == "custom-1"

    landed = spark.read.parquet(str(tmp_path / "warehouse" / "custom"))
    assert landed.count() == 4  # at-least-once: the overlap row is duplicated
    assert landed.filter("userid = 'dup'").count() == 2

    # third run: no new exports → clean no-op (reference would crash here)
    r3 = run_ingest(
        spark, client, str(tmp_path / "staging"), cp, sink,
        feeds=("custom",), poll_interval_s=0.01,
    )
    assert r3[0].job_id is None and r3[0].rows == 0

    # backup archive kept the raw dump partitioned by feed/date (S9)
    backup_feed_dir = tmp_path / "backup" / "custom"
    assert backup_feed_dir.is_dir() and any(backup_feed_dir.iterdir())

    # staging was wiped after each successful ingest (S10)
    staging_files = [
        f for f in (tmp_path / "staging" / "custom").iterdir() if f.is_file()
    ]
    assert staging_files == []


def test_jdbc_options_parity():
    opts = jdbc_writer_options("transaction")
    assert opts["batchsize"] == "1000"  # ua2sql.py:238
    ddl = opts["createTableColumnTypes"]
    assert "remote_ip INET" in ddl and "receipt JSONB" in ddl
    assert "amount NUMERIC(38,18)" in ddl
    assert "createTableColumnTypes" not in jdbc_writer_options("JobId")


def test_all_feed_schemas_declared():
    for feed in FEEDS:
        s = landed_schema(feed)
        assert {"ts", "submit_time", "userid", "remote_ip"} <= set(s.names)


def test_perfbench_landed_schema_matches_the_engine(monkeypatch):
    """perfbench checks what ``land_feeds`` lands against its own Arrow
    declaration of the landed schema. It must be the engine's
    ``landed_schema``: the same names, in the same order, of the same
    types."""
    import importlib.util
    import sys

    from pyspark.sql.pandas.types import to_arrow_type

    from tests.conftest import REPO_ROOT

    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(REPO_ROOT, "perfbench", "gen.py"))
    gen = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, gen)  # its dataclasses look it up
    spec.loader.exec_module(gen)
    for feed in FEEDS:
        engine = [(f.name, to_arrow_type(f.dataType, timestamp_utc=False))
                  for f in landed_schema(feed).fields]
        bench = [(f.name, f.type) for f in gen.landed_schema(feed)]
        assert bench == engine, feed


def test_corrupt_record_quarantine(spark, landing):
    """A malformed line must not kill the ingest (the reference would
    raise at json.loads, ua2sql.py:222): PERMISSIVE capture routes it to
    the quarantine split verbatim; good rows are unaffected."""
    import gzip as _gzip

    from ua2sql_spark.sources.unity import split_corrupt

    path = os.path.join(landing, "dump.txt.gz")
    with _gzip.open(path, "wt") as f:
        for r in custom_rows():
            f.write(json.dumps(r) + "\n")
        f.write('{"ts": 123, "userid": "u3", BROKEN\n')
    df = read_feed(spark, landing, "custom", capture_corrupt=True)
    good, bad = split_corrupt(df)
    assert good.count() == 2
    assert set(r["userid"] for r in good.collect()) == {"u1", "u2"}
    quarantined = bad.collect()
    assert len(quarantined) == 1 and "BROKEN" in quarantined[0][0]


def test_jdbc_sink_roundtrip_embedded_derby(spark, landing, tmp_path):
    """Real end-to-end JDBC write+readback (S6/S7): Spark ships embedded
    Derby, so the append sink, 1000-row batching and auto-DDL run for
    real — only the PG-specific column types (INET/JSONB) stay
    integration-gated behind pg_types."""
    from ua2sql_spark.sources.jdbc import write_feed_jdbc

    write_jsonl_gz(os.path.join(landing, "dump.txt.gz"), custom_rows())
    df = read_feed(spark, landing, "custom")
    url = f"jdbc:derby:{tmp_path}/derby_db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    assert write_feed_jdbc(df, url, "custom_events", feed="custom",
                           properties=props, pg_types=False) == 2
    back = spark.read.jdbc(url, "custom_events", properties=props)
    assert back.count() == 2
    got = {r["USERID" if "USERID" in back.columns else "userid"]: r
           for r in back.collect()}
    assert set(got) == {"u1", "u2"}

    # append semantics: a second write doubles the rows (at-least-once,
    # reference T4 — no unique constraint on event tables, ua2sql.py:46-86)
    assert write_feed_jdbc(df, url, "custom_events", feed="custom",
                           properties=props, pg_types=False) == 2
    assert spark.read.jdbc(url, "custom_events", properties=props).count() == 4


def test_jdbc_idempotent_upsert(spark, landing, tmp_path):
    """T4 exactly-once upgrade: re-delivered rows are no-ops; a batch
    overlapping the target adds only its genuinely-new rows."""
    from ua2sql_spark.sources.jdbc import upsert_feed_jdbc

    write_jsonl_gz(os.path.join(landing, "dump.txt.gz"), custom_rows())
    df = read_feed(spark, landing, "custom")
    url = f"jdbc:derby:{tmp_path}/derby_ups;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    # first write: table auto-created, everything lands
    assert upsert_feed_jdbc(df, url, "custom_e1", "custom",
                            properties=props, pg_types=False) == 2
    # exact re-delivery (the reference's crash-between-insert-and-
    # checkpoint window, ua2sql.py:274-278): zero new rows
    assert upsert_feed_jdbc(df, url, "custom_e1", "custom",
                            properties=props, pg_types=False) == 0
    back = spark.read.jdbc(url, "custom_e1", properties=props)
    assert back.count() == 2

    # overlapping batch: one old row (u2/ping) + one new row
    overlap = [custom_rows()[1],
               {"ts": BASE_MS + 120_000, "userid": "u3", "name": "buy",
                "sessionid": 7}]
    write_jsonl_gz(os.path.join(landing, "dump2.txt.gz"), overlap)
    df2 = read_feed(spark, landing, "custom")  # re-reads all 4 rows
    assert upsert_feed_jdbc(df2, url, "custom_e1", "custom",
                            properties=props, pg_types=False) == 1
    back = spark.read.jdbc(url, "custom_e1", properties=props)
    assert back.count() == 3
    cols = {c.lower() for c in back.columns}
    assert {"userid", "ts", "name"} <= cols

    # Latest-wins inside one batch (an original and its correction
    # drained together): in either order, the greater submit_time is
    # the version inserted.
    orig = {"ts": BASE_MS + 240_000, "submit_time": BASE_MS + 250_000,
            "userid": "u4", "sessionid": 8, "name": "buy",
            "custom_params": {"v": 1}}
    fix = dict(orig, submit_time=BASE_MS + 260_000, custom_params={"v": 2})
    for n, rows in enumerate([[orig, fix], [fix, orig]]):
        d = tmp_path / f"versions{n}"
        d.mkdir()
        write_jsonl_gz(str(d / "dump.txt.gz"), rows)
        batch = read_feed(spark, str(d), "custom")
        assert upsert_feed_jdbc(batch, url, f"custom_v{n}", "custom",
                                properties=props, pg_types=False) == 1
        (row,) = spark.read.jdbc(url, f"custom_v{n}", properties=props).collect()
        row = {k.lower(): v for k, v in row.asDict().items()}
        assert json.loads(row["custom_params"]) == {"v": 2}


def test_stream_upsert_sink_end_to_end(spark, landing, tmp_path):
    """Streaming T1+T4: file-source checkpoint gives at-least-once
    micro-batches; the foreachBatch upsert makes duplicate rows inside
    later files no-ops — target converges to the distinct row set."""
    from ua2sql_spark.sources.jdbc import upsert_feed_jdbc
    from ua2sql_spark.streaming.ingest import stream_feed

    url = f"jdbc:derby:{tmp_path}/derby_stream;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    ckpt = str(tmp_path / "ckpt")

    def sink(batch_df, epoch_id):
        upsert_feed_jdbc(batch_df, url, "custom_s", "custom",
                         properties=props, pg_types=False)

    write_jsonl_gz(os.path.join(landing, "a.txt.gz"), custom_rows())
    q = stream_feed(spark, landing, "custom", ckpt, sink)
    q.awaitTermination(120)
    assert spark.read.jdbc(url, "custom_s", properties=props).count() == 2

    # second run: a file that re-ships row u2 plus a new row u9
    dup_and_new = [custom_rows()[1],
                   {"ts": BASE_MS + 300_000, "userid": "u9", "name": "x",
                    "sessionid": 1}]
    write_jsonl_gz(os.path.join(landing, "b.txt.gz"), dup_and_new)
    q = stream_feed(spark, landing, "custom", ckpt, sink)
    q.awaitTermination(120)
    back = spark.read.jdbc(url, "custom_s", properties=props)
    assert back.count() == 3


def test_webdataset_export_roundtrip_and_determinism(spark, tmp_path):
    """WebDataset tar shards: every sample lands exactly once with its
    members adjacent, the manifest is the write's own output, and a
    re-export produces byte-identical shards (mtime pinned, member
    order deterministic) — the reproducibility a training-data delivery
    needs."""
    import hashlib
    import tarfile

    from pyspark.sql import functions as F

    from ua2sql_spark.sources.corpus_export import write_webdataset
    from ua2sql_spark.catalog import load_table
    from tests.conftest import SF_DIR

    d = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text", F.encode("text", "utf-8").alias("payload"))
    )
    out1 = str(tmp_path / "wds1")
    manifest = write_webdataset(
        d, out1, n_shards=4, payload_col="payload"
    ).collect()
    assert sum(r["n_samples"] for r in manifest) == 100
    assert len(manifest) == 4

    expected = {str(r["doc_id"]): r["text"] for r in d.collect()}
    seen = {}
    for r in manifest:
        with tarfile.open(r["path"]) as tar:
            members = tar.getnames()
            for m in members:
                if m.endswith(".txt"):
                    key = m[:-4]
                    seen[key] = tar.extractfile(m).read().decode()
                    assert f"{key}.bin" in members  # payload member present
    assert seen == expected

    # byte-identical re-export
    out2 = str(tmp_path / "wds2")
    write_webdataset(d, out2, n_shards=4, payload_col="payload").collect()
    for r in manifest:
        name = r["path"].split("/")[-1]
        h1 = hashlib.sha256(open(r["path"], "rb").read()).hexdigest()
        h2 = hashlib.sha256(open(f"{out2}/{name}", "rb").read()).hexdigest()
        assert h1 == h2, name

    # the loader side: read_webdataset reproduces every sample
    from tests.helpers import read_webdataset

    back = {
        r["key"]: (r["text"], bytes(r["payload"]))
        for r in read_webdataset(spark, out1).collect()
    }
    assert back == {
        k: (v, v.encode("utf-8")) for k, v in expected.items()
    }
