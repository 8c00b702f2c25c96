"""Production HTTP `ExportClient` — the Unity Raw Data Export API legs
(S1–S3) the reference drives with `requests`.

Reference parity (driver-side Python; none of this touches Spark):

* ``request_export`` — POST ``…/api/v2/projects/{pid}/rawdataexports``
  with HTTP basic auth (project id / export API key) and a JSON body of
  ``endDate`` + ``format`` + ``dataset``, plus EITHER ``continueFrom``
  (resume after a prior job) OR ``startDate`` (fresh backfill window) —
  never both (ua2sql.py:95-113). 200 → the job id from the response
  body; anything else → ``None`` (the caller treats that as "nothing to
  ingest", fixing the reference's crash-on-None bug, ua2sql.py:261).
* ``is_complete`` — GET the job resource; done iff 200 AND
  ``status == 'completed'`` (ua2sql.py:117-124). Non-200 polls return
  False (transient API errors just extend the poll, as the reference's
  loop does).
* ``download_results`` — GET the job resource, walk
  ``result.fileList``, GET each ``url`` into the staging dir
  (ua2sql.py:128-161). Design deviation (SURVEY §3): the reference
  gunzips in driver memory (``io.BytesIO`` + ``gzip.GzipFile``,
  ua2sql.py:157-158) — a single-node bottleneck at scale. We keep the
  files compressed on disk and let Spark's distributed readers
  decompress at scan time, so download is pure streamed I/O
  (``iter_content``, never the whole dump in RAM) and decompression
  parallelizes across executors.

  Second deviation: a failed fetch RAISES (``requests.HTTPError``) where
  the reference skips the file (ua2sql.py:156). A non-200 result-file
  GET, or a non-200 job GET after the poll saw the job completed, would
  otherwise land a partial dump and then append the checkpoint, so the
  next run would continue past the lost rows and never fetch them again.
  Raising stops the pipeline before the sink: the checkpoint does not
  move and the next run re-requests the same export. A job that is not
  completed still returns ``[]``.

The client is a plain dataclass satisfying the
``ua2sql_spark.sources.ingest.ExportClient`` protocol; tests point
``base_url`` at a local ``http.server`` fixture — no network.
"""

from __future__ import annotations

import os
import posixpath
from dataclasses import dataclass, field
from datetime import date
from typing import Any

import requests
from requests.auth import HTTPBasicAuth

DEFAULT_BASE_URL = "https://analytics.cloud.unity3d.com"


@dataclass
class HttpExportClient:
    """`requests`-backed ExportClient (S1–S3)."""

    project_id: str
    api_key: str
    base_url: str = DEFAULT_BASE_URL
    dump_format: str = "json"  # ua2sql.py:258 requests the json dump
    timeout_s: float = 60.0
    session: requests.Session = field(default_factory=requests.Session)

    @property
    def _auth(self) -> HTTPBasicAuth:
        # basic auth = (project id, export API key), ua2sql.py:106
        return HTTPBasicAuth(self.project_id, self.api_key)

    @property
    def _exports_url(self) -> str:
        return (
            f"{self.base_url.rstrip('/')}/api/v2/projects/"
            f"{self.project_id}/rawdataexports"
        )

    def request_export(
        self, feed: str, start_date: date | None, continue_from: str | None
    ) -> str | None:
        body: dict[str, Any] = {
            "endDate": date.today().isoformat(),
            "format": self.dump_format,
            "dataset": feed,
        }
        # continueFrom XOR startDate (ua2sql.py:101-104)
        if continue_from is not None:
            body["continueFrom"] = continue_from
        else:
            body["startDate"] = None if start_date is None else start_date.isoformat()
        r = self.session.post(
            self._exports_url,
            json=body,
            auth=self._auth,
            headers={"content-type": "application/json"},
            timeout=self.timeout_s,
        )
        if r.status_code == 200:
            return r.json()["id"]
        return None  # ua2sql.py:113

    def _job_response(self, job_id: str) -> requests.Response:
        return self.session.get(
            f"{self._exports_url}/{job_id}", auth=self._auth, timeout=self.timeout_s
        )

    def _get_job(self, job_id: str) -> dict[str, Any] | None:
        r = self._job_response(job_id)
        if r.status_code != 200:
            return None
        return r.json()

    def is_complete(self, job_id: str) -> bool:
        job = self._get_job(job_id)
        return job is not None and job.get("status") == "completed"

    def download_results(self, job_id: str, staging_dir: str) -> list[str]:
        r = self._job_response(job_id)
        r.raise_for_status()  # never mistake a failed fetch for "no files"
        job = r.json()
        if job.get("status") != "completed":
            return []  # ua2sql.py:139-146 prints-and-returns; we no-op
        file_list = (job.get("result") or {}).get("fileList")
        if not file_list:
            return []  # ua2sql.py:148-150 "no files for job"
        os.makedirs(staging_dir, exist_ok=True)
        out: list[str] = []
        for entry in file_list:
            # Keep the server's name verbatim (incl. .gz — Spark gunzips
            # at read); the reference strips the extension only because
            # it decompressed in-place (ua2sql.py:154).
            name = posixpath.basename(entry["name"])
            r = self.session.get(entry["url"], stream=True, timeout=self.timeout_s)
            r.raise_for_status()  # the reference skips it (ua2sql.py:156)
            dst = os.path.join(staging_dir, name)
            with open(dst, "wb") as f:
                for chunk in r.iter_content(chunk_size=1 << 20):
                    f.write(chunk)
            out.append(dst)
        return out
