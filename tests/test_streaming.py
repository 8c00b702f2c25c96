"""Streaming-path tests (SURVEY §5.4, §2.9 T1–T10).

All tests use the file source + Trigger.AvailableNow so they run
deterministically and fast; the checkpoint-resume test is the streaming
equivalent of the reference's continueFrom semantics.
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from pyspark.sql import functions as F

from ua2sql_spark.streaming.ingest import (
    dedup_within_watermark,
    session_windows,
    stream_feed,
    windowed_event_counts,
)

BASE_MS = 1_700_000_000_000


def write_rows(path, rows):
    with gzip.open(path, "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def land(landing, name, n0, count):
    rows = [
        {"ts": BASE_MS + i * 60_000, "userid": f"u{i}", "name": f"e{i}"}
        for i in range(n0, n0 + count)
    ]
    write_rows(os.path.join(landing, name), rows)


@pytest.fixture()
def dirs(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    return str(landing), str(out), str(ckpt)


def test_stream_ingest_and_offset_resume(spark, dirs):
    """T1/T3: availableNow drains pending files; the checkpoint dir is
    the offset log — a second run reprocesses nothing, a third run picks
    up only newly landed files (continueFrom parity, ua2sql.py:101-104)."""
    landing, out, ckpt = dirs
    land(landing, "a.txt.gz", 0, 3)

    def sink(df, epoch_id):
        df.persist()
        df.write.mode("append").parquet(out)
        df.unpersist()

    q = stream_feed(spark, landing, "custom", ckpt, sink)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3

    # run again with nothing new → no duplicate processing
    q = stream_feed(spark, landing, "custom", ckpt, sink)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3

    # land a second dump → only its rows are processed
    land(landing, "b.txt.gz", 10, 2)
    q = stream_feed(spark, landing, "custom", ckpt, sink)
    q.awaitTermination(120)
    landed = spark.read.parquet(out)
    assert landed.count() == 5
    assert landed.select("userid").distinct().count() == 5


def _events_stream(spark, tmp_path, rows):
    src = tmp_path / "events_src"
    src.mkdir(exist_ok=True)
    with open(src / "part.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    return spark.readStream.schema(schema).json(str(src))


def _run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


EVENTS = [
    {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
    {"event_id": 2, "ts": "2024-01-01 10:04:00", "user_id": 1, "value": 2.0},
    {"event_id": 3, "ts": "2024-01-01 11:00:00", "user_id": 1, "value": 3.0},
    {"event_id": 4, "ts": "2024-01-01 10:01:00", "user_id": 2, "value": 4.0},
    # duplicate delivery of event 2 (at-least-once re-ingest)
    {"event_id": 2, "ts": "2024-01-01 10:04:00", "user_id": 1, "value": 2.0},
]


def test_windowed_counts_with_watermark(spark, tmp_path):
    stream = _events_stream(spark, tmp_path, EVENTS)
    agg = windowed_event_counts(stream, window="10 minutes", watermark="1 hour", key_col="user_id")
    # append mode would emit only watermark-expired windows; complete mode
    # lets the test observe every window after the availableNow drain
    _run_to_memory(agg, "win_counts", "complete")
    got = {
        (str(r["window_start"]), r["user_id"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2024-01-01 10:00:00", 1)] == 3  # includes the dup delivery
    assert got[("2024-01-01 11:00:00", 1)] == 1
    assert got[("2024-01-01 10:00:00", 2)] == 1


def test_session_windows(spark, tmp_path):
    stream = _events_stream(spark, tmp_path, EVENTS)
    sess = session_windows(stream, gap="30 minutes", watermark="2 hours")
    _run_to_memory(sess, "sessions", "complete")
    rows = spark.sql(
        "SELECT user_id, n_events FROM sessions ORDER BY user_id, session_start"
    ).collect()
    # user 1: events at 10:00/10:04 (+dup) then 11:00 → two sessions
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(1, 3), (1, 1), (2, 1)]


def test_dedup_within_watermark(spark, tmp_path):
    stream = _events_stream(spark, tmp_path, EVENTS)
    deduped = dedup_within_watermark(stream, keys=["event_id"], watermark="1 hour")
    _run_to_memory(deduped, "deduped", "append")
    n = spark.sql("SELECT count(*) AS n FROM deduped").collect()[0]["n"]
    assert n == 4  # the re-delivered event 2 is dropped (T10)


def test_stateful_running_totals(spark, tmp_path):
    from ua2sql_spark.streaming.stateful import running_user_totals

    stream = _events_stream(spark, tmp_path, EVENTS).select("user_id", "value")
    totals = running_user_totals(stream)
    _run_to_memory(totals, "totals", "update")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM totals").collect()
    }
    assert got[1] == (4, 8.0)  # includes the duplicate delivery
    assert got[2] == (1, 4.0)


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: enrich a streaming feed with a broadcastable
    dimension without breaking incremental execution — the standard
    pattern for joining 100 TB/day streams against small dims (the
    static side is re-read per micro-batch, never stateful)."""
    stream = _events_stream(spark, tmp_path, EVENTS)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id BIGINT, tier STRING"
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", "tier", "value"
    )
    _run_to_memory(enriched, "enriched", "append")
    rows = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT * FROM enriched").collect()
    }
    assert (1, "gold") in rows and (4, "silver") in rows
    assert len(rows) == 4  # dup event 2 arrives twice but same (id, tier)


def test_media_seam_contract():
    """The codec seam: uncompressed containers decode for real
    (tests/test_media_codecs.py), compressed formats raise
    NotImplementedError with the dependency named; fakes are
    deterministic and shape-compatible."""
    import pytest as _pytest

    from ua2sql_spark.functions import media

    with _pytest.raises(NotImplementedError):
        media.decode_image_real(b"\x89PNG....")  # compressed: needs PIL
    with _pytest.raises(NotImplementedError):
        media.sample_frames_real(b"x")  # video: needs ffmpeg
    assert media.resize_real(10, 10, 5) == (5, 5)  # pure arithmetic
    assert media.resize_dims(640, 480, 320) == (320, 240)
    assert media.resize_dims(100, 50, 320) == (100, 50)  # never upscales
    d = media.fake_decode_image(b"\x00" * 1000)
    assert set(d) == {"width", "height", "mean_pixel"}
    frames = media.fake_sample_frames(7, b"\x00" * 1000)
    assert [f["frame_no"] for f in frames] == [0]
    assert media.fake_sample_frames(7, b"\x00" * 1000) == frames  # deterministic


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream inner join (impression→click attribution): a click
    joins the same user's impression iff it lands within the interval;
    the two-sided watermark + time-range condition bounds join state."""
    from ua2sql_spark.streaming.ingest import stream_stream_interval_join

    def src(name, rows):
        d = tmp_path / name
        d.mkdir(exist_ok=True)
        with open(d / "part.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        schema = "user_id BIGINT, ts TIMESTAMP, kind STRING"
        return spark.readStream.schema(schema).json(str(d))

    imps = src("imps", [
        {"user_id": 1, "ts": "2024-01-01 10:00:00", "kind": "imp"},
        {"user_id": 2, "ts": "2024-01-01 10:00:00", "kind": "imp"},
    ])
    clicks = src("clicks", [
        {"user_id": 1, "ts": "2024-01-01 10:05:00", "kind": "click"},  # match
        {"user_id": 1, "ts": "2024-01-01 10:30:00", "kind": "click"},  # too late
        {"user_id": 3, "ts": "2024-01-01 10:01:00", "kind": "click"},  # no imp
    ])
    joined = stream_stream_interval_join(
        imps, clicks, key="user_id", within="10 minutes"
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("imp_ts"),
        F.col("r.ts").alias("click_ts"),
    )
    _run_to_memory(joined, "attributed", "append")
    rows = spark.sql("SELECT * FROM attributed").collect()
    assert len(rows) == 1
    assert rows[0]["user_id"] == 1
    assert str(rows[0]["click_ts"]).startswith("2024-01-01 10:05")


def test_incremental_rollup_maintenance(spark, tmp_path):
    """Hypertable-rollup pattern: a foreachBatch sink maintains a
    day-partitioned aggregate table incrementally; after two runs the
    rollup equals a from-scratch batch recompute, and late data for an
    existing day rewrites (not duplicates) that day's partition."""
    from ua2sql_spark.streaming.ingest import stream_feed  # noqa: F401
    from ua2sql_spark.streaming.rollup import read_rollup, rollup_sink

    src = tmp_path / "ev_src"
    src.mkdir()
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rckpt")
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"

    def land(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            stream.writeStream.foreachBatch(rollup_sink(rollup))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land("a.json", [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "event_type": "view", "value": 1.5},
        {"event_id": 2, "ts": "2024-01-01 11:00:00", "event_type": "view", "value": 2.5},
        {"event_id": 3, "ts": "2024-01-02 09:00:00", "event_type": "buy", "value": 10.0},
    ])
    run()
    got = {
        (str(r["day"]), r["key"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert got == {
        ("2024-01-01", "view"): (2, 4.0),
        ("2024-01-02", "buy"): (1, 10.0),
    }

    # second run: late event for day 1 + a new day — only those two
    # day-partitions are rewritten, counts accumulate exactly
    land("b.json", [
        {"event_id": 4, "ts": "2024-01-01 23:00:00", "event_type": "view", "value": 1.0},
        {"event_id": 5, "ts": "2024-01-03 08:00:00", "event_type": "view", "value": 7.0},
    ])
    run()
    got = {
        (str(r["day"]), r["key"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, rollup).collect()
    }
    assert got == {
        ("2024-01-01", "view"): (3, 5.0),
        ("2024-01-02", "buy"): (1, 10.0),
        ("2024-01-03", "view"): (1, 7.0),
    }


def test_rollup_merge_equals_batch_recompute(spark, tmp_path):
    """Monoid property on real data: feeding the sf0.001 events table
    through merge_rollup in three arbitrary chunks produces exactly the
    same (day, key) -> (count, sum) table as one direct aggregation."""
    from ua2sql_spark.catalog import load_table
    from ua2sql_spark.streaming.rollup import merge_rollup, read_rollup, _partial

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rollup = str(tmp_path / "rollup2")
    for chunk in [
        ev.filter(F.col("event_id") % 3 == 0),
        ev.filter(F.col("event_id") % 3 == 1),
        ev.filter(F.col("event_id") % 3 == 2),
    ]:
        merge_rollup(spark, _partial(chunk, "ts", "event_type", "value"), rollup)

    got = {
        (str(r["day"]), r["key"]): (r["n_events"], r["sum_value"])
        for r in read_rollup(spark, rollup).collect()
    }
    direct = {
        (str(r["day"]), r["key"]): (r["n"], r["s"])
        for r in ev.groupBy(
            F.to_date("ts").alias("day"), F.col("event_type").alias("key")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,8)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == direct


def test_transform_with_state_running_totals(spark, tmp_path):
    """T10 on the Spark 4 API: transformWithStateInPandas + typed
    ValueState + RocksDB state store reproduces the legacy operator's
    semantics (including duplicate delivery) and adds the max tracker.

    Skips when protobuf is absent (this container): the API's Python
    state-server protocol needs it at runtime. The operator itself is
    plain PySpark and runs on any properly-provisioned cluster."""
    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        running_user_totals_tws,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = _events_stream(spark, tmp_path, EVENTS).select("user_id", "value")
        totals = running_user_totals_tws(stream)
        _run_to_memory(totals, "tws_totals", "update")
        got = {
            r["user_id"]: (r["n_events"], r["total_value"], r["max_value"])
            for r in spark.sql("SELECT * FROM tws_totals").collect()
        }
        assert got[1] == (4, 8.0, 3.0)
        assert got[2] == (1, 4.0, 4.0)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_streaming_tumbling_equals_batch_q40(spark, tmp_path):
    """Stream-batch parity on REAL data: the sf0.001 events table pushed
    through Structured Streaming (availableNow file source) with the
    same 6-hour tumbling-window aggregation as batch q40 must produce
    byte-identical rows — the micro-batch partial-agg/merge path and the
    batch hash-agg path compute the same monoid."""
    from ua2sql_spark.catalog import load_table
    from ua2sql_spark.queries.common import dsum
    from ua2sql_spark.registry import all_queries

    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in all_queries()["q40_tumbling_window"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }

    # Land the events in a streaming source dir (normalized ts via the
    # catalog, several files so multiple list batches exercise merging).
    src = str(tmp_path / "events_stream")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.repartition(4).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("q40_stream_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM q40_stream_parity").collect()
    }
    assert got == batch


def test_stream_upsert_parquet_exactly_once_effect(spark, tmp_path):
    """T4 lakehouse leg: streaming foreachBatch -> parquet MERGE upsert.
    A re-delivered key is a no-op replace, a new key appends, and
    replaying the whole stream from a fresh checkpoint (at-least-once
    redelivery of everything) leaves the table unchanged."""
    from ua2sql_spark.operators.merge import parquet_upsert_sink
    from ua2sql_spark.streaming.ingest import stream_feed

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "tbl")
    sink0 = parquet_upsert_sink(table, key_cols=["userid"], partition_col="day")

    def sink(df, epoch_id):
        # derive the date partition at write, the usual lakehouse shape
        sink0(df.withColumn("day", F.to_date("ts")), epoch_id)

    def run(ckpt):
        q = stream_feed(spark, str(landing), "custom", str(tmp_path / ckpt), sink)
        q.awaitTermination(120)

    land(landing, "a.txt.gz", 0, 3)
    run("ck1")
    assert {r["userid"] for r in spark.read.parquet(table).collect()} == {
        "u0", "u1", "u2"
    }

    # second dump: one overlapping key (re-delivery) + one new
    land(landing, "b.txt.gz", 2, 2)
    run("ck1")
    got = spark.read.parquet(table)
    assert {r["userid"] for r in got.collect()} == {"u0", "u1", "u2", "u3"}
    assert got.count() == 4

    # full replay from a fresh checkpoint: every row re-delivered
    run("ck2")
    again = spark.read.parquet(table)
    assert again.count() == 4
    assert {r["userid"] for r in again.collect()} == {"u0", "u1", "u2", "u3"}

    # Backlog: an original delivery and a later correction of one of its
    # rows land as two files before one availableNow run. Spark packs
    # the larger (original) file first, so "first row met" is the stale
    # one; the table must keep the correction (greater submit_time).
    orig = {"ts": BASE_MS, "submit_time": BASE_MS + 1_000, "userid": "u7",
            "name": "e7", "custom_params": {"v": 1}}
    other = {"ts": BASE_MS, "submit_time": BASE_MS + 1_000, "userid": "u8",
             "name": "e8"}
    write_rows(os.path.join(landing, "c.txt.gz"), [orig, other])
    write_rows(os.path.join(landing, "d.txt.gz"),
               [dict(orig, submit_time=BASE_MS + 2_000, custom_params={"v": 2})])
    run("ck1")
    got = {r["userid"]: r["custom_params"] for r in spark.read.parquet(table).collect()}
    assert set(got) == {"u0", "u1", "u2", "u3", "u7", "u8"}
    assert json.loads(got["u7"]) == {"v": 2}


def test_stream_upsert_reads_each_batch_once(spark, tmp_path):
    """The foreachBatch upsert scans its micro-batch once: the source's
    ``numInputRows`` over the run equals the rows delivered (a second
    scan would count them twice), and the table still keeps the latest
    version of each key."""
    from ua2sql_spark.operators.merge import parquet_upsert_sink
    from ua2sql_spark.streaming.ingest import stream_feed

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "tbl")
    sink0 = parquet_upsert_sink(table, key_cols=["userid"], partition_col="day")

    def sink(df, epoch_id):
        sink0(df.withColumn("day", F.to_date("ts")), epoch_id)

    def run():
        q = stream_feed(spark, str(landing), "custom", str(tmp_path / "ck"), sink)
        q.awaitTermination(120)
        return sum(p["numInputRows"] for p in q.recentProgress)

    def row(i, submit, v):
        return {"ts": BASE_MS + i * 86_400_000, "submit_time": submit, "userid": f"u{i}",
                "name": f"e{i}", "custom_params": {"v": v}}

    first = [row(i, BASE_MS, 1) for i in range(4)]
    write_rows(os.path.join(landing, "a.txt.gz"), first)
    assert run() == 4
    # one backlogged batch: a redelivery of u0-u3, a correction of u1
    # and a new key u4
    backlog = first + [row(1, BASE_MS + 1, 2), row(4, BASE_MS, 1)]
    write_rows(os.path.join(landing, "b.txt.gz"), backlog)
    assert run() == len(backlog)
    got = {r["userid"]: json.loads(r["custom_params"]) for r in spark.read.parquet(table).collect()}
    assert got == {"u0": {"v": 1}, "u1": {"v": 2}, "u2": {"v": 1}, "u3": {"v": 1}, "u4": {"v": 1}}


def test_stream_snapshot_upsert_versions_every_batch(spark, tmp_path):
    """Versioned twin of the T4 lakehouse leg: each micro-batch commits
    one snapshot version; earlier versions stay readable (time travel),
    and the latest view carries the exactly-once MERGE effect."""
    from ua2sql_spark.operators.snapshot import (
        read_snapshot,
        latest_version,
        snapshot_upsert_sink,
    )
    from ua2sql_spark.streaming.ingest import stream_feed

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "tbl")
    sink0 = snapshot_upsert_sink(table, key_cols=["userid"], partition_col="day")

    def sink(df, epoch_id):
        sink0(df.withColumn("day", F.to_date("ts")), epoch_id)

    def run(ckpt):
        q = stream_feed(spark, str(landing), "custom", str(tmp_path / ckpt), sink)
        q.awaitTermination(120)

    land(landing, "a.txt.gz", 0, 3)
    run("ck1")
    assert latest_version(spark, table) == 0
    assert {r["userid"] for r in read_snapshot(spark, table).collect()} == {
        "u0", "u1", "u2"
    }

    land(landing, "b.txt.gz", 2, 2)  # one re-delivered key + one new
    run("ck1")
    assert latest_version(spark, table) == 1
    latest = read_snapshot(spark, table)
    assert latest.count() == 4
    # v0 still shows the pre-merge state: the training-run pinning story
    assert read_snapshot(spark, table, 0).count() == 3


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter stream-stream join: the unconverted impression emits
    with a NULL click only after the global watermark (min across both
    inputs) passes its join window — proving both the outer emission
    and the state eviction it depends on. Watermark state persists in
    the checkpoint across availableNow runs."""
    from ua2sql_spark.streaming.ingest import stream_stream_interval_join

    imp_dir = tmp_path / "imps"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(d, name, rows):
        with open(d / name, "w") as f:
            for user_id, ts in rows:
                f.write(json.dumps({"user_id": user_id, "ts": ts}) + "\n")

    schema = "user_id BIGINT, ts TIMESTAMP"

    def run():
        imps = spark.readStream.schema(schema).json(str(imp_dir))
        clicks = spark.readStream.schema(schema).json(str(clk_dir))
        joined = stream_stream_interval_join(
            imps, clicks, key="user_id", within="10 minutes",
            left_watermark="10 minutes", right_watermark="10 minutes",
            how="leftOuter",
        ).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.ts").alias("imp_ts"),
            F.col("r.ts").alias("click_ts"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # u1 converts inside the window; u2 never does.
    land(imp_dir, "a.json", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")])
    land(clk_dir, "a.json", [(1, "2024-01-01 10:05:00")])
    run()
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert 1 in got and str(got[1]["click_ts"]).startswith("2024-01-01 10:05")
    assert 2 not in got  # outer result must NOT emit while u2 could still match

    # Later traffic on BOTH inputs advances the global watermark past
    # u2's window (10:10); the run after that applies it and flushes u2.
    land(imp_dir, "b.json", [(9, "2024-01-01 11:00:00")])
    land(clk_dir, "b.json", [(9, "2024-01-01 11:00:30")])
    run()
    land(imp_dir, "c.json", [(10, "2024-01-01 11:30:00")])
    land(clk_dir, "c.json", [(10, "2024-01-01 11:30:30")])
    run()
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert 2 in got, sorted(got)
    assert got[2]["click_ts"] is None  # the unconverted impression


def test_timer_closed_sessions_tws(spark, tmp_path):
    """T10 timers: a per-user session closes exactly when the WATERMARK
    passes (last_seen + GAP) — handleExpiredTimer emits the summary and
    clears state. Three single-file microbatches (maxFilesPerTrigger=1)
    advance the watermark deterministically: user 1's timer (10:00:40)
    expires during batch 3 (watermark 10:10:00 from batch 2); user 2's
    (10:10:30) expires in the final AvailableNow flush batch (watermark
    10:20:00); user 3's (10:20:30) is beyond the final watermark and
    stays pending — exactly two emitted rows, user 3 absent."""
    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        session_timeout_tws,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    waves = [
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01 10:00:10", "user_id": 1, "value": 2.0},
        ],
        [{"event_id": 3, "ts": "2024-01-01 10:10:00", "user_id": 2, "value": 3.0}],
        [{"event_id": 4, "ts": "2024-01-01 10:20:00", "user_id": 3, "value": 4.0}],
    ]
    for i, rows in enumerate(waves):
        p = src / f"wave{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .select("user_id", "ts")
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        _run_to_memory(session_timeout_tws(stream), "timer_sessions", "append")
        got = {
            r["user_id"]: (r["n_events"], r["first_ms"], r["last_ms"])
            for r in spark.sql("SELECT * FROM timer_sessions").collect()
        }
        t0 = 1_704_103_200_000  # 2024-01-01 10:00:00 UTC in epoch ms
        assert got == {
            1: (2, t0, t0 + 10_000),
            2: (1, t0 + 600_000, t0 + 600_000),
        }, got
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_typed_state_map_and_list_profile(spark, tmp_path):
    """MapState (per-type counts, entry-local upserts) + ListState
    (last-3 recency buffer, appendList/truncate) — the remaining typed
    state handles, asserted across two microbatches so state genuinely
    persists between them."""
    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import ROCKSDB_PROVIDER, user_profiles_tws

    src = tmp_path / "prof_src"
    src.mkdir()
    waves = [
        [
            {"user_id": 1, "event_type": "buy", "value": 1.0},
            {"user_id": 1, "event_type": "view", "value": 2.0},
            {"user_id": 1, "event_type": "view", "value": 3.0},
        ],
        [
            {"user_id": 1, "event_type": "buy", "value": 4.0},
            {"user_id": 1, "event_type": "buy", "value": 5.0},
        ],
    ]
    for i, rows in enumerate(waves):
        p = src / f"w{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_100 + i, 1_700_000_100 + i))

    schema = "user_id BIGINT, event_type STRING, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        _run_to_memory(user_profiles_tws(stream), "profiles", "update")
        rows = spark.sql(
            "SELECT * FROM profiles"
        ).collect()
        # update mode memory sink keeps one row per batch; the LAST row
        # is the final profile: counts buy=3 > view=2, recency = last 3
        last = rows[-1]
        assert (last["n_types"], last["top_type"], last["top_type_n"]) == (2, "buy", 3)
        assert (last["recent_n"], last["recent_sum"]) == (3, 3.0 + 4.0 + 5.0)
        first = rows[0]
        assert (first["top_type"], first["top_type_n"]) == ("view", 2)
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_timer_sessions_split_within_one_batch(spark, tmp_path):
    """Batch-slicing invariance: a single AvailableNow batch holding
    two gap-separated bursts for one user emits the FIRST session
    immediately (closed inside the batch) and the second via the final
    watermark flush — the same two sessions a multi-batch run
    produces."""
    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        session_timeout_tws,
    )

    src = tmp_path / "split_src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01 10:00:05", "user_id": 1, "value": 1.0},
        # > 30 s gap: a new session, same batch
        {"event_id": 3, "ts": "2024-01-01 10:05:00", "user_id": 1, "value": 1.0},
    ]
    with open(src / "all.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    # a later second file advances the watermark past the 2nd session
    with open(src / "later.json", "w") as f:
        f.write(json.dumps(
            {"event_id": 9, "ts": "2024-01-01 11:00:00", "user_id": 2, "value": 0.0}
        ) + "\n")
    os.utime(src / "all.json", (1_700_000_200, 1_700_000_200))
    os.utime(src / "later.json", (1_700_000_201, 1_700_000_201))

    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .select("user_id", "ts")
    )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        _run_to_memory(session_timeout_tws(stream), "split_sessions", "append")
        got = sorted(
            (r["user_id"], r["n_events"], r["first_ms"], r["last_ms"])
            for r in spark.sql("SELECT * FROM split_sessions").collect()
        )
        t0 = 1_704_103_200_000
        assert got == [
            (1, 2, t0, t0 + 5_000),               # closed inside the batch
            (1, 1, t0 + 300_000, t0 + 300_000),   # closed by final flush
        ] or got == sorted([
            (1, 2, t0, t0 + 5_000),
            (1, 1, t0 + 300_000, t0 + 300_000),
        ]), got
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_typed_state_profile_survives_null_event_type(spark, tmp_path):
    """A nullable feed column must not kill the query: null event_type
    counts under a sentinel bucket and the profile still emits."""
    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import ROCKSDB_PROVIDER, user_profiles_tws

    src = tmp_path / "nulltype_src"
    src.mkdir()
    with open(src / "w.json", "w") as f:
        f.write(json.dumps({"user_id": 7, "event_type": None, "value": 2.5}) + "\n")
        f.write(json.dumps({"user_id": 7, "event_type": "buy", "value": 1.0}) + "\n")

    schema = "user_id BIGINT, event_type STRING, value DOUBLE"
    stream = spark.readStream.schema(schema).json(str(src))
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        _run_to_memory(user_profiles_tws(stream), "null_profiles", "update")
        rows = spark.sql("SELECT * FROM null_profiles").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["n_types"] == 2 and r["recent_sum"] == pytest.approx(3.5)
        assert r["top_type"] in ("__null__", "buy")  # tie at 1: lex-smaller wins
        assert r["top_type"] == "__null__"
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stream_full_outer_emits_both_unmatched(spark, tmp_path):
    """fullOuter stream-stream join completes the join matrix: an
    impression with no click AND a click with no impression both emit
    with NULLs once the global watermark evicts their windows."""
    from ua2sql_spark.streaming.ingest import stream_stream_interval_join

    imp_dir = tmp_path / "fo_imps"
    clk_dir = tmp_path / "fo_clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    out = str(tmp_path / "fo_out")
    ckpt = str(tmp_path / "fo_ckpt")

    def land(d, name, rows):
        with open(d / name, "w") as f:
            for user_id, ts in rows:
                f.write(json.dumps({"user_id": user_id, "ts": ts}) + "\n")

    schema = "user_id BIGINT, ts TIMESTAMP"

    def run():
        imps = spark.readStream.schema(schema).json(str(imp_dir))
        clicks = spark.readStream.schema(schema).json(str(clk_dir))
        joined = stream_stream_interval_join(
            imps, clicks, key="user_id", within="10 minutes",
            left_watermark="10 minutes", right_watermark="10 minutes",
            how="fullOuter",
        ).select(
            F.col("l.user_id").alias("imp_user"),
            F.col("r.user_id").alias("click_user"),
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # u1 matches; u2 = impression only; u3 = click only.
    land(imp_dir, "a.json", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")])
    land(clk_dir, "a.json", [(1, "2024-01-01 10:05:00"), (3, "2024-01-01 10:00:00")])
    run()
    # advance the global watermark on both inputs, twice (apply lag)
    for wave, ts in (("b", "11:00"), ("c", "11:30")):
        land(imp_dir, f"{wave}.json", [(9, f"2024-01-01 {ts}:00")])
        land(clk_dir, f"{wave}.json", [(9, f"2024-01-01 {ts}:30")])
        run()
    rows = spark.read.parquet(out).collect()
    pairs = {(r["imp_user"], r["click_user"]) for r in rows}
    assert (1, 1) in pairs                 # matched
    assert (2, None) in pairs              # left-unmatched emitted
    assert (None, 3) in pairs              # right-unmatched emitted


def test_streaming_psi_drift_monitor(spark, tmp_path):
    """Online drift monitoring (streaming/drift.py): a baseline frozen
    from a reference window scores every micro-batch; an identical
    stream reads ~0 PSI while a shifted stream reads clearly higher."""
    from ua2sql_spark.catalog import load_table
    from ua2sql_spark.streaming.drift import (
        batch_psi,
        psi_monitor_sink,
        train_baseline,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("event_id", "value")
    baseline = train_baseline(ev, "value", n_bins=10)
    assert sum(baseline["counts"]) == ev.count()

    # batch-level sanity before streaming: identical data ~ 0 drift,
    # a multiplicative shift is clearly larger
    same = batch_psi(ev, baseline)
    shifted = batch_psi(ev.withColumn("value", F.col("value") * 1.7), baseline)
    assert abs(same["psi"]) < 1e-12 and same["n_onesided"] == 0
    assert same["n_null"] == 0
    assert shifted["psi"] > 0.05

    # a NULL surge is drift, not an omission: half the batch nulled out
    # must register (null bin one-sided vs the null-free baseline) and
    # n_rows must still count the whole batch
    nulled = batch_psi(
        ev.withColumn(
            "value", F.when(F.col("event_id") % 2 == 0, F.col("value"))
        ),
        baseline,
    )
    assert nulled["n_null"] > 0 and nulled["n_rows"] == ev.count()
    assert nulled["n_onesided"] >= 1

    # stream the shifted half through the foreachBatch monitor
    src = str(tmp_path / "src")
    mon = str(tmp_path / "monitor")
    ev.withColumn("value", F.col("value") * 1.7).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    (
        stream.writeStream.foreachBatch(psi_monitor_sink(baseline, mon))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.read.parquet(mon).collect()
    assert len(rows) >= 1
    assert sum(r["n_rows"] for r in rows) == ev.count()
    total_psi = max(r["psi"] for r in rows)
    assert total_psi > 0.05

def test_tws_state_ttl_ages_out_idle_keys(spark, tmp_path):
    """T10 depth (VERDICT r7 next-round #5): per-key state TTL on the
    transformWithState processor — an idle key's state ages out of the
    RocksDB store while a repeatedly-refreshed key's survives — with
    changelog checkpointing enabled and verified to write changelog
    files under the checkpoint.

    ONE continuous query (processing-time trigger): phases are file
    drops, not query restarts, so the TTL clock is exercised inside a
    single run. Wall-clock by necessity (the TTL clock is
    processing-time by API contract); the idle key gets a 5 s margin
    past its TTL, the active key is refreshed every 4 s against a 15 s
    TTL (11 s margin)."""
    import glob
    import json as _json
    import time as _time

    pytest.importorskip("google.protobuf")
    from ua2sql_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        running_user_totals_tws,
    )

    TTL_MS = 15_000
    src = tmp_path / "ttl_src"
    src.mkdir()
    ck = str(tmp_path / "ttl_ck")
    schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"

    confs = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # 2 state partitions, not 32: each runs its own RocksDB store +
        # Python state server per batch — micro-batch latency must stay
        # far under the TTL for the timeline to mean anything
        "spark.sql.shuffle.partitions": "2",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    seq = [0]

    def drop(user_ids):
        seq[0] += 1
        with open(src / f"p{seq[0]}.json", "w") as f:
            for u in user_ids:
                f.write(_json.dumps({
                    "event_id": seq[0] * 100 + u,
                    "ts": "2024-01-01 10:00:00",
                    "user_id": u,
                    "value": 1.0,
                }) + "\n")

    def counts():
        rows = spark.sql("SELECT * FROM ttl_probe").collect()
        out = {}
        for r in rows:  # update-mode memory table: keep the max per key
            out[r["user_id"]] = max(out.get(r["user_id"], 0), r["n_events"])
        return out

    def wait_until(pred, timeout=60.0):
        deadline = _time.monotonic() + timeout
        while _time.monotonic() < deadline:
            if pred():
                return True
            _time.sleep(0.5)
        return False

    q = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        stream = (
            spark.readStream.schema(schema).json(str(src)).select("user_id", "value")
        )
        q = (
            running_user_totals_tws(stream, ttl_ms=TTL_MS)
            .writeStream.format("memory")
            .queryName("ttl_probe")
            .outputMode("update")
            .trigger(processingTime="1 second")
            .option("checkpointLocation", ck)
            .start()
        )
        drop([1, 2])
        assert wait_until(lambda: counts() == {1: 1, 2: 1}), counts()
        t_idle_start = _time.monotonic()  # key 2 never refreshed after this

        # refresh key 1 every 4 s until key 2 has been idle > TTL + 5 s
        n1 = 1
        while _time.monotonic() - t_idle_start < TTL_MS / 1000 + 5.0:
            _time.sleep(4.0)
            drop([1])
            n1 += 1
            assert wait_until(lambda: counts().get(1) == n1), (n1, counts())

        # final probe: both keys get one event. Key 1's state survived
        # (refreshed 4 s ago); key 2's aged out and restarts at 1 — if
        # TTL were broken it would resume at 2.
        drop([1, 2])
        n1 += 1
        assert wait_until(lambda: counts().get(1) == n1), (n1, counts())
        assert counts()[2] == 1, counts()

        # changelog checkpointing really wrote changelog files
        changelogs = glob.glob(f"{ck}/state/**/*.changelog", recursive=True)
        assert changelogs, "no RocksDB changelog files under the checkpoint"
    finally:
        if q is not None:
            q.stop()
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_dedup_ingest_sink_dedupes_across_batches(spark, tmp_path):
    """Continuous dedup ingest (streaming/dedup_ingest.py): each batch
    dedupes within itself AND against the fingerprint index of
    everything already committed; survivors land as CoW versions; a
    replayed batch converges (at-least-once, key-idempotent)."""
    from ua2sql_spark.operators.snapshot import read_snapshot
    from ua2sql_spark.streaming.dedup_ingest import (
        dedup_ingest_batch,
        dedup_ingest_sink,
    )

    tbl = str(tmp_path / "corpus")
    idx = str(tmp_path / "fp_index")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )

    # batch 1: one in-batch duplicate pair (ids 1,2) -> 2 survivors
    b1 = mk([(1, "d1", "alpha beta"), (2, "d1", "alpha beta"), (3, "d2", "gamma")])
    m1 = dedup_ingest_batch(b1, tbl, idx, "doc_id", "day")
    assert (m1["n_in"], m1["n_fresh"], m1["version"]) == (3, 2, 0)
    got1 = {r["doc_id"]: r["text"] for r in read_snapshot(spark, tbl).collect()}
    assert got1 == {1: "alpha beta", 3: "gamma"}

    # batch 2: one cross-batch dup (of id 1), one genuinely new doc
    b2 = mk([(10, "d1", "alpha beta"), (11, "d3", "delta")])
    m2 = dedup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    assert (m2["n_fresh"], m2["version"]) == (1, 1)
    got2 = {r["doc_id"] for r in read_snapshot(spark, tbl).collect()}
    assert got2 == {1, 3, 11}

    # replay of batch 2 (at-least-once delivery): nothing new, no
    # version committed, table unchanged
    m3 = dedup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    assert m3["n_fresh"] == 0 and m3["version"] is None
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == got2

    # the streaming wiring end-to-end: availableNow file stream through
    # the foreachBatch sink into fresh table+index paths
    import json as _json

    src = tmp_path / "stream_src"
    src.mkdir()
    with open(src / "p1.json", "w") as f:
        for r in [
            {"doc_id": 1, "day": "d1", "text": "alpha beta"},
            {"doc_id": 2, "day": "d1", "text": "alpha beta"},
            {"doc_id": 3, "day": "d2", "text": "gamma"},
        ]:
            f.write(_json.dumps(r) + "\n")
    tbl2, idx2 = str(tmp_path / "corpus2"), str(tmp_path / "idx2")
    stream = spark.readStream.schema("doc_id bigint, day string, text string").json(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            dedup_ingest_sink(tbl2, idx2, "doc_id", "day")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in read_snapshot(spark, tbl2).collect()} == {1, 3}


def test_tombstone_sink_erases_streamed_keys(spark, tmp_path):
    """Streaming compliance path: a tombstone stream drains into
    delete_cow commits; replayed tombstones are no-ops."""
    import json as _json

    from ua2sql_spark.operators.snapshot import (
        latest_version,
        read_snapshot,
        upsert_cow,
    )
    from ua2sql_spark.streaming.dedup_ingest import tombstone_sink

    tbl = str(tmp_path / "tbl")
    upsert_cow(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(20)],
            "id bigint, day string, val double",
        ),
        tbl, ["id"], "day",
    )
    src = tmp_path / "tombstones"
    src.mkdir()
    with open(src / "t1.json", "w") as f:
        for k in (3, 7, 11):
            f.write(_json.dumps({"id": k}) + "\n")
    stream = spark.readStream.schema("id bigint").json(str(src))
    q = (
        stream.writeStream.foreachBatch(tombstone_sink(tbl, "id", "day"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    left = {r["id"] for r in read_snapshot(spark, tbl).collect()}
    assert left == set(range(20)) - {3, 7, 11}
    v_after = latest_version(spark, tbl)

    # replaying the same tombstones (fresh checkpoint, same file)
    # matches nothing: no new version
    q2 = (
        spark.readStream.schema("id bigint").json(str(src))
        .writeStream.foreachBatch(tombstone_sink(tbl, "id", "day"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q2.awaitTermination(120)
    assert latest_version(spark, tbl) == v_after
    assert {r["id"] for r in read_snapshot(spark, tbl).collect()} == left


def test_dedup_ingest_empty_batch_is_noop(spark, tmp_path):
    """foreachBatch delivers empty frames on idle triggers — the sink
    must not commit versions or create the index for them."""
    from ua2sql_spark.streaming.dedup_ingest import dedup_ingest_batch

    tbl, idx = str(tmp_path / "t"), str(tmp_path / "i")
    empty = spark.createDataFrame([], "doc_id bigint, day string, text string")
    m = dedup_ingest_batch(empty, tbl, idx, "doc_id", "day")
    assert m == {"n_in": 0, "n_fresh": 0, "version": None, "n_skipped_join": 0}
    import os

    assert not os.path.exists(tbl) and not os.path.exists(idx)


def test_snapshot_upsert_sink_enforces_table_constraints(spark, tmp_path):
    """CHECK constraints persist on the table, so a STREAMING upsert
    sink enforces them automatically: a violating micro-batch fails the
    query and commits nothing; the table's last good version stands."""
    import pyspark.sql.utils  # noqa: F401
    import pytest as _pytest

    from ua2sql_spark.operators.snapshot import (
        latest_version,
        read_snapshot,
        snapshot_upsert_sink,
        upsert_cow,
    )

    table = str(tmp_path / "tbl")
    upsert_cow(
        spark.createDataFrame([(1, "d1", 5.0)], "id bigint, day string, v double"),
        table, ["id"], "day", constraints={"v_nonneg": "v >= 0"},
    )

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    import os

    os.makedirs(src)
    spark.createDataFrame(
        [(2, "d1", -1.0)], "id bigint, day string, v double"
    ).coalesce(1).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema("id bigint, day string, v double").json(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            snapshot_upsert_sink(table, key_cols=["id"], partition_col="day")
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception, match="v_nonneg"):
        q.awaitTermination()
    assert latest_version(spark, table) == 0
    assert read_snapshot(spark, table).count() == 1


def test_neardup_ingest_probes_index_and_converges(spark, tmp_path):
    """Continuous NEAR-dup ingest: within-batch LSH survivorship, then
    the batch probes the persisted band index (signatures minted for
    the batch only) and verified near-dups of HISTORY are dropped;
    survivors commit as CoW versions and fold into the index; a
    replayed batch converges (at-least-once)."""
    from ua2sql_spark.operators.snapshot import read_snapshot
    from ua2sql_spark.streaming.dedup_ingest import (
        neardup_ingest_batch,
        neardup_ingest_sink,
    )

    tbl = str(tmp_path / "corpus")
    idx = str(tmp_path / "lsh_index")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )
    base = "the quick brown fox jumps over the lazy dog by the still river"
    words = base.split()
    rot = lambda i: " ".join(words[i:] + words[:i])  # J=1 token sets

    # batch 1: ids 1,2 are near-dups of each other (rotations), 3 is
    # distinct -> survivors {1, 3}
    b1 = mk([(1, "d1", rot(0)), (2, "d1", rot(3)), (3, "d2", "gamma delta epsilon")])
    m1 = neardup_ingest_batch(b1, tbl, idx, "doc_id", "day")
    assert (m1["n_in"], m1["n_fresh"], m1["version"]) == (3, 2, 0)
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == {1, 3}

    # batch 2: id 10 is a near-dup of HISTORY (rotation of id 1, never
    # seen verbatim), id 11 fresh -> only 11 survives, via the index
    # probe (no corpus text read: verify="signature" default)
    b2 = mk([(10, "d1", rot(7)), (11, "d3", "zeta eta theta")])
    m2 = neardup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    assert (m2["n_dropped_hist"], m2["n_fresh"], m2["version"]) == (1, 1, 1)
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == {1, 3, 11}

    # replay of batch 2: nothing fresh, no commit, table unchanged
    m3 = neardup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    assert m3["n_fresh"] == 0 and m3["version"] is None
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == {1, 3, 11}

    # exact verify tier: candidate pairs check TRUE Jaccard against the
    # table's text — a band collision below threshold is NOT dropped
    b3 = mk([(20, "d1", " ".join(words[:6]) + " unrelated tail words here now")])
    m4 = neardup_ingest_batch(b3, tbl, idx, "doc_id", "day", verify="exact")
    assert m4["n_fresh"] == 1  # J vs id 1 is well below 0.9

    # streaming wiring e2e (availableNow + foreachBatch)
    import json as _json

    src = tmp_path / "nd_src"
    src.mkdir()
    with open(src / "p1.json", "w") as f:
        for r in [
            {"doc_id": 1, "day": "d1", "text": rot(0)},
            {"doc_id": 2, "day": "d1", "text": rot(5)},
            {"doc_id": 3, "day": "d2", "text": "gamma delta epsilon"},
        ]:
            f.write(_json.dumps(r) + "\n")
    tbl2, idx2 = str(tmp_path / "corpus2"), str(tmp_path / "nd_idx2")
    stream = spark.readStream.schema("doc_id bigint, day string, text string").json(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            neardup_ingest_sink(tbl2, idx2, "doc_id", "day")
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nd_ck"))
        .start()
    )
    q.awaitTermination(120)
    assert {r["doc_id"] for r in read_snapshot(spark, tbl2).collect()} == {1, 3}


def test_lsh_maintenance_loop_end_to_end(spark, tmp_path):
    """VERDICT r11 #4 — the full index-maintenance lifecycle: ingest
    accumulates replay debris (the crash-inside-append_lsh_index mode:
    a re-appended batch duplicates its band rows verbatim),
    lsh_index_health reports it, compact_lsh_index rewrites into a
    fresh path, the caller SWAPS (explicit adoption), and post-swap the
    index serves identically — probe candidate set unchanged pair for
    pair, a true near-dup of history still drops on ingest, a fresh doc
    still survives, and re-compacting the swapped index drops zero
    (idempotence)."""
    import shutil

    from ua2sql_spark.operators.dedup import (
        append_lsh_index,
        compact_lsh_index,
        lsh_index_health,
        probe_lsh_index,
    )
    from ua2sql_spark.operators.snapshot import read_snapshot
    from ua2sql_spark.streaming.dedup_ingest import neardup_ingest_batch

    tbl = str(tmp_path / "corpus")
    idx = str(tmp_path / "lsh_index")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )
    base = "the quick brown fox jumps over the lazy dog by the still river"
    words = base.split()
    rot = lambda i: " ".join(words[i:] + words[:i])  # J=1 token sets

    # two ingest batches build table + index
    b1 = mk([(1, "d1", rot(0)), (3, "d2", "gamma delta epsilon zeta")])
    neardup_ingest_batch(b1, tbl, idx, "doc_id", "day")
    b2 = mk([(11, "d3", "zeta eta theta iota kappa")])
    neardup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    # forced replays: re-append b2's rows twice, as a crash inside
    # append_lsh_index (after some band-row files landed) replays them
    append_lsh_index(b2, idx, "doc_id", "text")
    append_lsh_index(b2, idx, "doc_id", "text")

    h = lsh_index_health(spark, idx).collect()
    assert sum(r["n_dup_rows"] for r in h) > 0  # debris visible

    probe_batch = mk([(100, "d4", rot(5)), (101, "d4", "mu nu xi omicron")])
    cand_key = lambda df: {
        (r["index_id"], r["batch_id"], r["sig_agree"], r["n_bands"])
        for r in df.collect()
    }
    before = cand_key(probe_lsh_index(spark, idx, probe_batch))
    assert any(i == 1 and b == 100 for i, b, *_ in before)  # true pair found

    # compact into a fresh path, then SWAP (the explicit adoption step)
    stats = compact_lsh_index(spark, idx, str(tmp_path / "idx_compact"))
    assert stats["n_duplicates_dropped"] == sum(r["n_dup_rows"] for r in h)
    shutil.move(idx, str(tmp_path / "idx_old"))
    shutil.move(str(tmp_path / "idx_compact"), idx)

    # post-swap: zero debris, identical candidates, recall bit intact
    h2 = lsh_index_health(spark, idx).collect()
    assert sum(r["n_dup_rows"] for r in h2) == 0
    after = cand_key(probe_lsh_index(spark, idx, probe_batch))
    assert after == before

    # ingest through the swapped index: the near-dup of history drops,
    # the fresh doc survives and appends
    m = neardup_ingest_batch(probe_batch, tbl, idx, "doc_id", "day")
    assert (m["n_dropped_hist"], m["n_fresh"]) == (1, 1)
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == {1, 3, 11, 101}

    # compaction is idempotent on a clean index
    stats2 = compact_lsh_index(spark, idx, str(tmp_path / "idx_compact2"))
    assert stats2["n_duplicates_dropped"] == 0
    # the ingest above appended doc 101's band rows (16 hashes / band
    # size 8 = 2 bands), nothing else
    assert stats2["n_kept"] == stats["n_kept"] + 2


def test_dedup_ingest_bloom_sidecar_skips_join_and_converges(spark, tmp_path):
    """The persisted bloom sidecar in front of the fingerprint anti-join:
    definitely-new rows skip the join (n_skipped_join > 0), results are
    identical to the bloom-less path, replay converges, and the
    table->bloom->index crash ordering tolerates a bloom that ran ahead
    of the index (superset invariant: extra bloom bits only demote rows
    to the exact join — never a silent duplicate)."""
    from ua2sql_spark.operators.bloom import append_bloom_index
    from ua2sql_spark.operators.snapshot import read_snapshot
    from ua2sql_spark.streaming.dedup_ingest import dedup_ingest_batch

    tbl, idx, blm = (
        str(tmp_path / "corpus"),
        str(tmp_path / "fp_idx"),
        str(tmp_path / "fp_bloom"),
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )

    b1 = mk([(1, "d1", "alpha beta"), (2, "d1", "alpha beta"), (3, "d2", "gamma")])
    m1 = dedup_ingest_batch(b1, tbl, idx, "doc_id", "day", bloom_path=blm)
    assert (m1["n_fresh"], m1["version"]) == (2, 0)

    # batch 2: one cross-batch dup, two genuinely new -> the new rows
    # skip the anti-join via the bloom, the dup goes through it
    b2 = mk([(10, "d1", "alpha beta"), (11, "d3", "delta"), (12, "d3", "epsilon")])
    m2 = dedup_ingest_batch(b2, tbl, idx, "doc_id", "day", bloom_path=blm)
    assert m2["n_fresh"] == 2 and m2["n_skipped_join"] == 2
    got = {r["doc_id"] for r in read_snapshot(spark, tbl).collect()}
    assert got == {1, 3, 11, 12}

    # replay of batch 2: converges, nothing new
    m3 = dedup_ingest_batch(b2, tbl, idx, "doc_id", "day", bloom_path=blm)
    assert m3["n_fresh"] == 0 and m3["version"] is None
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == got

    # crash-window simulation: bloom ran AHEAD of the index (the
    # tolerated direction) — fps in the bloom but not the index must
    # flag "maybe" and fall through to the exact join, which still says
    # fresh -> committed exactly once
    ahead = mk([(20, "d2", "zeta")])
    append_bloom_index(
        ahead.withColumn(
            "__fp",
            F.sha2(
                F.concat(
                    F.length("text").cast("string"), F.lit(":"), F.col("text")
                ),
                256,
            ),
        ).select("__fp"),
        blm,
        "__fp",
    )
    m4 = dedup_ingest_batch(ahead, tbl, idx, "doc_id", "day", bloom_path=blm)
    assert m4["n_fresh"] == 1 and m4["n_skipped_join"] == 0
    assert 20 in {r["doc_id"] for r in read_snapshot(spark, tbl).collect()}
    # and a replay of it converges
    m5 = dedup_ingest_batch(ahead, tbl, idx, "doc_id", "day", bloom_path=blm)
    assert m5["n_fresh"] == 0


def test_dedup_ingest_bloom_bootstrap_covers_preexisting_index(spark, tmp_path):
    """Enabling bloom_path on a table whose fingerprint index ALREADY
    holds history must seed the bloom from the full index, not the
    first bloom-enabled batch — otherwise a duplicate of any old
    document reads 'definitely new', skips the exact join, and is
    silently re-committed (the superset-invariant violation)."""
    from ua2sql_spark.operators.snapshot import read_snapshot
    from ua2sql_spark.streaming.dedup_ingest import dedup_ingest_batch

    tbl, idx, blm = (
        str(tmp_path / "corpus"),
        str(tmp_path / "fp_idx"),
        str(tmp_path / "fp_bloom"),
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )
    # history ingested WITHOUT a bloom
    dedup_ingest_batch(
        mk([(1, "d1", "alpha beta"), (2, "d2", "gamma")]), tbl, idx, "doc_id", "day"
    )
    # first bloom-enabled batch: brand-new doc only
    m1 = dedup_ingest_batch(
        mk([(10, "d3", "delta")]), tbl, idx, "doc_id", "day", bloom_path=blm
    )
    assert m1["n_fresh"] == 1
    # a duplicate of PRE-BLOOM history must still be caught
    m2 = dedup_ingest_batch(
        mk([(20, "d1", "alpha beta")]), tbl, idx, "doc_id", "day", bloom_path=blm
    )
    assert m2["n_fresh"] == 0
    got = {r["doc_id"] for r in read_snapshot(spark, tbl).collect()}
    assert got == {1, 2, 10}


def test_neardup_ingest_rejects_index_geometry_drift(spark, tmp_path):
    """A caller whose (num_hashes, band_size) disagree with the saved
    index's params must fail fast — the signature-verify threshold
    would otherwise be silently unsatisfiable."""
    import pytest as _pytest

    from ua2sql_spark.streaming.dedup_ingest import neardup_ingest_batch

    tbl, idx = str(tmp_path / "c"), str(tmp_path / "i")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )
    neardup_ingest_batch(
        mk([(1, "d1", "alpha beta gamma")]), tbl, idx, "doc_id", "day",
        num_hashes=16, band_size=8,
    )
    with _pytest.raises(ValueError, match="num_hashes"):
        neardup_ingest_batch(
            mk([(2, "d1", "delta epsilon")]), tbl, idx, "doc_id", "day",
            num_hashes=32, band_size=8,
        )


def test_neardup_ingest_partial_index_append_replay_completes(spark, tmp_path):
    """ADVICE r10: a crash INSIDE append_lsh_index can leave a document
    partial band rows. On replay, those rows match the doc ITSELF —
    which must not count as drop evidence (or the doc would be dropped
    and its missing bands never written, a permanent probe-recall
    hole). The replayed doc must survive to the re-append, whose full
    band rows complete the partial set."""
    from ua2sql_spark.functions.text import word_set
    from ua2sql_spark.operators.dedup import lsh_band_rows
    from ua2sql_spark.operators.snapshot import read_snapshot, upsert_cow
    from ua2sql_spark.streaming.dedup_ingest import neardup_ingest_batch

    tbl = str(tmp_path / "corpus")
    idx = str(tmp_path / "lsh_index")
    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )

    # batch 1 commits fully and creates the index
    b1 = mk([(1, "d1", "alpha beta gamma delta")])
    neardup_ingest_batch(b1, tbl, idx, "doc_id", "day")

    # simulate batch 2's crash mid index append: table committed, but
    # only band_no=1 of the doc's band rows reached the index
    b2 = mk([(2, "d2", "epsilon zeta eta theta iota")])
    upsert_cow(b2, tbl, ["doc_id"], "day")
    params = spark.read.parquet(idx + "/params").collect()[0]
    partial = (
        lsh_band_rows(
            b2, "doc_id", "text", params["num_hashes"], params["band_size"],
            word_set, params["hash_family"],
        )
        .filter(F.col("band_no") == 1)
        .withColumn(
            "band_bucket",
            F.pmod(F.xxhash64(F.col("band_hash")), F.lit(params["num_buckets"]))
            .cast("int"),
        )
    )
    partial.write.mode("append").partitionBy("band_no", "band_bucket").parquet(
        idx + "/lists"
    )

    # replay of batch 2: the doc's only index match is itself -> NOT
    # dropped, table converges, and the re-append completes the bands
    m = neardup_ingest_batch(b2, tbl, idx, "doc_id", "day")
    assert m["n_dropped_hist"] == 0 and m["n_fresh"] == 1
    assert {r["doc_id"] for r in read_snapshot(spark, tbl).collect()} == {1, 2}
    bands_of_2 = {
        r["band_no"]
        for r in spark.read.parquet(idx + "/lists")
        .filter(F.col("doc_id") == 2)
        .select("band_no")
        .distinct()
        .collect()
    }
    num_bands = params["num_hashes"] // params["band_size"]
    assert bands_of_2 == set(range(1, num_bands + 1))


def test_dedup_ingest_bloom_bootstrap_geometry(spark, tmp_path):
    """ADVICE r10: the bloom bootstrap must honor explicit geometry and,
    left unspecified, size the shard count from the existing index's
    row count (~10 bits/fp) instead of hardcoding 4x2^14 — a large
    pre-existing corpus would saturate the default filter into pure
    overhead (correct but useless)."""
    from ua2sql_spark.streaming.dedup_ingest import dedup_ingest_batch

    mk = lambda rows: spark.createDataFrame(
        rows, "doc_id bigint, day string, text string"
    )

    # explicit geometry wins
    tbl, idx, blm = (str(tmp_path / "c1"), str(tmp_path / "i1"), str(tmp_path / "b1"))
    dedup_ingest_batch(
        mk([(1, "d1", "alpha"), (2, "d1", "beta")]), tbl, idx, "doc_id", "day",
        bloom_path=blm, bloom_shards=9, bloom_m_bits=1 << 10, bloom_k=2,
    )
    p = spark.read.parquet(blm + "/params").collect()[0]
    assert (p["n_shards"], p["m_bits"], p["k"]) == (9, 1 << 10, 2)

    # auto-sizing: 20 fps at m_bits=16 -> ceil(200/16) = 13 shards
    tbl, idx, blm = (str(tmp_path / "c2"), str(tmp_path / "i2"), str(tmp_path / "b2"))
    hist = mk([(i, "d1", f"text number {i}") for i in range(20)])
    dedup_ingest_batch(hist, tbl, idx, "doc_id", "day")
    dedup_ingest_batch(
        mk([(100, "d2", "brand new")]), tbl, idx, "doc_id", "day",
        bloom_path=blm, bloom_m_bits=16,
    )
    p = spark.read.parquet(blm + "/params").collect()[0]
    assert p["m_bits"] == 16 and p["n_shards"] == 14  # ceil(10*21/16)
    # and the sized bloom still upholds zero false negatives
    m = dedup_ingest_batch(
        mk([(200, "d1", "text number 5")]), tbl, idx, "doc_id", "day",
        bloom_path=blm,
    )
    assert m["n_fresh"] == 0
