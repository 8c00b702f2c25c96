"""S1–S3 production HTTP legs + S11 config scan, against a local
`http.server` fixture (no network).

The fixture emulates the Unity Raw Data Export API surface the
reference drives (ua2sql.py:95-161): job create → status poll (first
poll 'running', then 'completed') → fileList download of gzip JSONL
dumps. Auth and request bodies are captured and asserted.
"""

from __future__ import annotations

import base64
import gzip
import json
import threading
from datetime import date
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from ua2sql_spark.config import ConfigError, load_config, parse_config
from ua2sql_spark.sources.http_export import HttpExportClient

PROJECT = "proj-123"
API_KEY = "key-456"


def _gz_jsonl(rows: list[dict]) -> bytes:
    return gzip.compress(
        ("".join(json.dumps(r) + "\n" for r in rows)).encode()
    )


class FakeUnityAPI:
    """In-memory state the handler serves: one export job whose status
    flips to 'completed' after `polls_until_done` status GETs."""

    def __init__(self, files: dict[str, bytes], polls_until_done: int = 1):
        self.files = files  # name -> gzip bytes
        self.polls_until_done = polls_until_done
        self.status_gets = 0
        self.create_bodies: list[dict] = []
        self.auth_headers: list[str | None] = []
        self.fail_create = False
        self.failing_files: set[str] = set()  # result files served as 500
        self.job_id = "job-1"
        self.port = 0  # set once the server binds

    def job_json(self) -> dict:
        done = self.status_gets >= self.polls_until_done
        out = {"id": self.job_id, "status": "completed" if done else "running"}
        if done:
            out["result"] = {
                "fileList": [
                    {
                        "name": name,
                        "url": f"http://127.0.0.1:{self.port}/files/{name}",
                    }
                    for name in self.files
                ]
            }
        return out


def _make_handler(api: FakeUnityAPI):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # keep pytest output clean
            pass

        def _send(self, code: int, payload: bytes, ctype="application/json"):
            self.send_response(code)
            self.send_header("content-type", ctype)
            self.send_header("content-length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_POST(self):
            api.auth_headers.append(self.headers.get("Authorization"))
            if api.fail_create:
                return self._send(500, b"{}")
            n = int(self.headers.get("content-length", 0))
            api.create_bodies.append(json.loads(self.rfile.read(n)))
            self._send(200, json.dumps({"id": api.job_id}).encode())

        def do_GET(self):
            if self.path.startswith("/files/"):
                name = self.path.rsplit("/", 1)[1]
                if name in api.failing_files:
                    return self._send(500, b"")
                return self._send(
                    200, api.files[name], ctype="application/octet-stream"
                )
            api.auth_headers.append(self.headers.get("Authorization"))
            payload = json.dumps(api.job_json()).encode()
            api.status_gets += 1
            self._send(200, payload)

    return Handler


@pytest.fixture()
def unity_api():
    rows = [
        {"ts": 1_700_000_000_123, "userid": "u1", "name": "level_up",
         "sessionid": 42},
        {"ts": 1_700_000_060_000, "userid": "u2", "name": "ping"},
    ]
    api = FakeUnityAPI(files={"dump0.txt.gz": _gz_jsonl(rows)})
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(api))
    api.port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield api
    server.shutdown()


def _client(api: FakeUnityAPI) -> HttpExportClient:
    return HttpExportClient(
        project_id=PROJECT,
        api_key=API_KEY,
        base_url=f"http://127.0.0.1:{api.port}",
    )


def expected_auth() -> str:
    return "Basic " + base64.b64encode(f"{PROJECT}:{API_KEY}".encode()).decode()


def test_request_export_fresh_sends_start_date_and_auth(unity_api):
    job = _client(unity_api).request_export(
        "custom", date(2024, 1, 2), continue_from=None
    )
    assert job == "job-1"
    assert unity_api.auth_headers[0] == expected_auth()  # ua2sql.py:106
    body = unity_api.create_bodies[0]
    assert body["dataset"] == "custom" and body["format"] == "json"
    assert body["startDate"] == "2024-01-02" and "continueFrom" not in body


def test_request_export_resume_sends_continue_from(unity_api):
    _client(unity_api).request_export("custom", None, continue_from="job-0")
    body = unity_api.create_bodies[0]
    # continueFrom XOR startDate (ua2sql.py:101-104)
    assert body["continueFrom"] == "job-0" and "startDate" not in body


def test_request_export_non_200_returns_none(unity_api):
    unity_api.fail_create = True
    assert (
        _client(unity_api).request_export("custom", date.today(), None) is None
    )  # ua2sql.py:113


def test_poll_then_download_keeps_gz(unity_api, tmp_path):
    c = _client(unity_api)
    assert not c.is_complete("job-1")  # first poll: running
    assert c.is_complete("job-1")
    got = c.download_results("job-1", str(tmp_path / "staging"))
    assert [g.rsplit("/", 1)[1] for g in got] == ["dump0.txt.gz"]
    with gzip.open(got[0], "rt") as f:  # bytes verbatim, still compressed
        assert json.loads(f.readline())["userid"] == "u1"


def test_download_before_completion_is_noop(unity_api, tmp_path):
    unity_api.polls_until_done = 10**9  # job never completes
    c = _client(unity_api)
    assert c.download_results("job-1", str(tmp_path)) == []  # ua2sql.py:144-146


def test_full_ingest_over_http(spark, unity_api, tmp_path):
    """End-to-end S1→S12: HTTP create/poll/download feeding the Spark
    landing pipeline and the checkpoint protocol."""
    from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
    from ua2sql_spark.sources.ingest import parquet_sink, run_ingest

    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    res = run_ingest(
        spark,
        _client(unity_api),
        str(tmp_path / "staging"),
        cp,
        parquet_sink(str(tmp_path / "warehouse")),
        feeds=("custom",),
        poll_interval_s=0.01,
    )
    assert res[0].job_id == "job-1" and res[0].rows == 2
    assert cp.find_previous_job_id("custom") == "job-1"
    landed = spark.read.parquet(str(tmp_path / "warehouse" / "custom"))
    assert {r["userid"] for r in landed.collect()} == {"u1", "u2"}
    # resume run: the fake API's create now carries continueFrom
    unity_api.create_bodies.clear()
    run_ingest(
        spark,
        _client(unity_api),
        str(tmp_path / "staging"),
        cp,
        parquet_sink(str(tmp_path / "warehouse")),
        feeds=("custom",),
        poll_interval_s=0.01,
    )
    assert unity_api.create_bodies[0]["continueFrom"] == "job-1"


def test_failed_download_keeps_checkpoint_and_empty_export_advances(
    spark, tmp_path
):
    """A result file that fails to download must fail the run before the
    sink (the reference skips it, ua2sql.py:156, and its checkpoint then
    moves past the lost rows): nothing lands, the checkpoint stays put,
    and the re-run lands every row exactly once. A completed job with an
    empty fileList is the opposite case, a genuine 'nothing new': 0 rows
    and the checkpoint advances to that job."""
    import requests

    from ua2sql_spark.sources.checkpoint import JobIdCheckpoint
    from ua2sql_spark.sources.ingest import parquet_sink, run_ingest

    api = FakeUnityAPI(
        files={
            "a.txt.gz": _gz_jsonl([{"ts": 1_700_000_000_000, "userid": "a1"}]),
            "b.txt.gz": _gz_jsonl(
                [
                    {"ts": 1_700_000_001_000, "userid": "b1"},
                    {"ts": 1_700_000_002_000, "userid": "b2"},
                ]
            ),
        },
        polls_until_done=0,
    )
    api.failing_files = {"b.txt.gz"}
    server = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(api))
    api.port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    cp = JobIdCheckpoint(spark, str(tmp_path / "jobid"))
    warehouse = tmp_path / "warehouse"

    def ingest():
        return run_ingest(
            spark,
            _client(api),
            str(tmp_path / "staging"),
            cp,
            parquet_sink(str(warehouse)),
            feeds=("custom",),
            poll_interval_s=0.01,
        )

    try:
        with pytest.raises(requests.HTTPError):
            ingest()
        assert cp.find_previous_job_id("custom") is None
        assert not (warehouse / "custom").exists()

        api.failing_files.clear()
        assert ingest()[0].rows == 3
        assert cp.find_previous_job_id("custom") == "job-1"
        landed = spark.read.parquet(str(warehouse / "custom"))
        assert sorted(r["userid"] for r in landed.collect()) == ["a1", "b1", "b2"]

        api.job_id, api.files = "job-2", {}
        res = ingest()
        assert (res[0].job_id, res[0].rows) == ("job-2", 0)
        assert cp.find_previous_job_id("custom") == "job-2"
        assert spark.read.parquet(str(warehouse / "custom")).count() == 3
    finally:
        server.shutdown()


# ---- S11 config scan ----

GOOD = {
    "user": "pg",
    "password": "secret",
    "postgres_server": "db.example.internal:5432",
    "database": "analytics",
    "local_collection_path": "~/collect",
    "unity_project_id": PROJECT,
    "unity_export_api_key": API_KEY,
}


def test_config_load_expands_home(tmp_path):
    p = tmp_path / "config.json"
    p.write_text(json.dumps(GOOD))
    cfg = load_config(str(p))
    assert "~" not in cfg.local_collection_path  # ua2sql.py:35
    assert cfg.local_collection_path.endswith("/collect")
    assert cfg.backup_collection_path is None  # optional (ua2sql.py:288-291)
    assert cfg.jdbc_url == "jdbc:postgresql://db.example.internal:5432/analytics"
    assert cfg.http_client().project_id == PROJECT


def test_config_missing_and_empty_keys_named():
    bad = {k: v for k, v in GOOD.items() if k != "password"}
    bad["database"] = ""
    with pytest.raises(ConfigError) as exc:
        parse_config(bad)
    assert "password" in str(exc.value) and "database" in str(exc.value)


@pytest.mark.parametrize("uri", ["file:///var/lib/ua2sql/jobid", "s3a://bucket/jobid"])
def test_config_checkpoint_path_uri_rejected(uri):
    """The JobId log is driver-local: a URI checkpoint_path would never
    be found again and every run would silently become a backfill."""
    with pytest.raises(ConfigError) as exc:
        parse_config(dict(GOOD, checkpoint_path=uri))
    assert "checkpoint_path" in str(exc.value)
    assert parse_config(dict(GOOD, checkpoint_path="~/jobid")).checkpoint_path.endswith("/jobid")


def test_cli_main_end_to_end(spark, unity_api, tmp_path):
    """``python -m ua2sql_spark config.json`` over the local API fixture:
    config scan → HTTP export → landing → parquet lakehouse sink →
    checkpoint, with only the feeds the fixture stocks producing rows."""
    from ua2sql_spark.__main__ import main

    cfg = dict(
        GOOD,
        local_collection_path=str(tmp_path / "staging"),
        lakehouse_root=str(tmp_path / "lake"),
        unity_api_base_url=f"http://127.0.0.1:{unity_api.port}",
    )
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    assert main([str(p)], spark=spark) == 0
    landed = spark.read.parquet(str(tmp_path / "lake" / "custom"))
    assert {r["userid"] for r in landed.collect()} == {"u1", "u2"}
    # parity_ts: CLI truncates to whole seconds like the reference
    assert all(r["ts"].microsecond == 0 for r in landed.collect())
    # the checkpoint landed under the staging root and carries the job id
    from ua2sql_spark.sources.checkpoint import JobIdCheckpoint

    cp = JobIdCheckpoint(spark, str(tmp_path / "staging" / "_jobid_checkpoint"))
    assert cp.find_previous_job_id("custom") == "job-1"


def test_cli_main_bad_args():
    from ua2sql_spark.__main__ import main

    assert main([]) == 1
    assert main(["/nonexistent/config.json"]) == 1


def test_config_unparseable_file(tmp_path):
    p = tmp_path / "broken.json"
    p.write_text("{nope")
    with pytest.raises(ConfigError):
        load_config(str(p))
    with pytest.raises(ConfigError):
        load_config(str(tmp_path / "absent.json"))


def test_cli_maintain_reports_then_compacts_flagged_only(spark, tmp_path, capsys):
    """``python -m ua2sql_spark maintain``: report-only by default,
    --compact rewrites exactly the would_compact set at the given
    --min-files threshold (the measure-first loop as one CLI verb)."""
    import json

    from ua2sql_spark.__main__ import main
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        snapshot_layout_health,
    )

    path = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(rows, "id bigint, day string, v string")
    for rows in (
        [(1, "d1", "a")], [(2, "d1", "b")], [(3, "d1", "c")],
        [(4, "d2", "d")], [(5, "d2", "e")],
    ):
        mk(rows).coalesce(1).write.mode("append").partitionBy("day").parquet(path)
    bootstrap_snapshot(spark, path, "day")

    # report-only: no mutation
    assert main(["maintain", path, "day", "--min-files", "3"], spark=spark) == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln]
    assert {r["partition"]: r["would_compact"] for r in out} == {
        "day=d1": True, "day=d2": False,
    }
    h = {r["partition"]: r["n_files"]
         for r in snapshot_layout_health(spark, path).collect()}
    assert h == {"day=d1": 3, "day=d2": 2}

    # --compact rewrites only the flagged partition
    assert main(
        ["maintain", path, "day", "--min-files", "3", "--compact"], spark=spark
    ) == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines() if ln]
    assert out[-1]["compacted"] == ["day=d1"]
    h = {r["partition"]: r["n_files"]
         for r in snapshot_layout_health(spark, path).collect()}
    assert h == {"day=d1": 1, "day=d2": 2}


def test_cli_maintain_malformed_min_files_is_usage_error(capsys):
    """ADVICE r13 #2: a trailing or non-integer --min-files prints the
    usage line and returns 1 — never an IndexError/ValueError traceback."""
    from ua2sql_spark.__main__ import main

    for argv in (
        ["maintain", "p", "day", "--min-files"],          # trailing flag
        ["maintain", "p", "day", "--min-files", "lots"],  # non-integer
    ):
        assert main(argv, spark=object()) == 1
        assert "usage:" in capsys.readouterr().out
