"""Streaming-path tests (SURVEY §5.4, §2.9 T1–T4).

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

from ua2sql_spark.streaming.ingest import stream_feed

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
    (tests/test_media_codecs.py), anything else raises
    NotImplementedError; x83's frame fake is deterministic."""
    import pytest as _pytest

    from ua2sql_spark.functions import media

    with _pytest.raises(NotImplementedError):
        media.decode_raster(b"\x89PNG....")  # truncated PNG
    assert media.resize_dims(640, 480, 320) == (320, 240)
    assert media.resize_dims(100, 50, 320) == (100, 50)  # never upscales
    frames = media.fake_sample_frames(7, b"\x00" * 1000)
    assert [f["frame_no"] for f in frames] == [0]
    assert media.fake_sample_frames(7, b"\x00" * 1000) == frames  # deterministic


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
    from ua2sql_spark.operators.merge import upsert_parquet
    from ua2sql_spark.streaming.ingest import stream_feed

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "tbl")

    def sink(df, epoch_id):
        # derive the date partition at write, the usual lakehouse shape
        upsert_parquet(df.withColumn("day", F.to_date("ts")), table, ["userid"], "day")

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
    from ua2sql_spark.operators.merge import upsert_parquet
    from ua2sql_spark.streaming.ingest import stream_feed

    landing = tmp_path / "landing"
    landing.mkdir()
    table = str(tmp_path / "tbl")

    def sink(df, epoch_id):
        upsert_parquet(df.withColumn("day", F.to_date("ts")), table, ["userid"], "day")

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
