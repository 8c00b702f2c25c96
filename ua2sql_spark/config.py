"""Config-file scan (S11) — JSON config load + validation, reference
parity with ua2sql.py:15-35.

The reference reads ``sys.argv[1]`` as a JSON file, checks seven
required keys, and ``os.path.expanduser``-expands
``local_collection_path``. Parity kept: same key set, same ``~``
expansion, ``backup_collection_path`` optional (reference wraps it in
try/except, ua2sql.py:288-291). Deviations (documented, SURVEY §4):

* Missing AND empty values both produce one clean ``ConfigError``
  naming every offending key — the reference raises a bare KeyError on
  the first absent key and conflates legitimately-falsy values with
  missing ones ("falsy-rejection": a password of ``""`` and an absent
  password are different operator errors; we name them distinctly).
* No ``exit(1)`` side effects — callers decide how fatal a bad config
  is (the reference's module-level exits make it untestable).
* ``checkpoint_path`` must be a local path: the JobId log is
  driver-local, and a URI (``file:///…``, ``s3a://…``) would never be
  found again, silently turning every run into a 30-day backfill.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Any
from urllib.parse import urlsplit

# ua2sql.py:28-31
REQUIRED_KEYS = (
    "user",
    "password",
    "postgres_server",
    "database",
    "local_collection_path",
    "unity_project_id",
    "unity_export_api_key",
)


class ConfigError(ValueError):
    """Unreadable, unparseable, or incomplete ingest config."""


@dataclass(frozen=True)
class IngestConfig:
    user: str
    password: str
    postgres_server: str
    database: str
    local_collection_path: str
    unity_project_id: str
    unity_export_api_key: str
    backup_collection_path: str | None = None
    # --- Spark-engine extensions (all optional, SURVEY §3) ---
    # Parquet-lakehouse sink root; when set, feeds land as parquet here
    # instead of the reference's Postgres tables.
    lakehouse_root: str | None = None
    # Override of the Unity API origin (tests point it at a local
    # fixture; production default is the real endpoint).
    unity_api_base_url: str | None = None
    # JobId checkpoint location, a local directory; defaults to a subdir
    # of the staging root (subdirs survive the reference's files-only
    # staging wipe).
    checkpoint_path: str | None = None

    @property
    def jdbc_url(self) -> str:
        """The reference's SQLAlchemy DSN (ua2sql.py:88-89) as the
        equivalent Spark JDBC url; credentials travel via properties,
        never the url."""
        return f"jdbc:postgresql://{self.postgres_server}/{self.database}"

    @property
    def jdbc_properties(self) -> dict[str, str]:
        return {
            "user": self.user,
            "password": self.password,
            "driver": "org.postgresql.Driver",
        }

    def http_client(self):
        """Production ExportClient wired from the config's Unity creds."""
        from ua2sql_spark.sources.http_export import (
            DEFAULT_BASE_URL,
            HttpExportClient,
        )

        return HttpExportClient(
            project_id=self.unity_project_id,
            api_key=self.unity_export_api_key,
            base_url=self.unity_api_base_url or DEFAULT_BASE_URL,
        )


def parse_config(raw: dict[str, Any]) -> IngestConfig:
    missing = [k for k in REQUIRED_KEYS if k not in raw]
    empty = [k for k in REQUIRED_KEYS if k in raw and not raw[k]]
    if missing or empty:
        parts = []
        if missing:
            parts.append(f"missing keys: {', '.join(missing)}")
        if empty:
            parts.append(f"empty values: {', '.join(empty)}")
        raise ConfigError("invalid ingest config — " + "; ".join(parts))
    backup = raw.get("backup_collection_path") or None  # ua2sql.py:288-291
    lakehouse = raw.get("lakehouse_root") or None
    checkpoint = raw.get("checkpoint_path") or None
    if checkpoint is not None and urlsplit(checkpoint).scheme:
        raise ConfigError(
            f"invalid ingest config — checkpoint_path must be a local path, got URI {checkpoint!r}"
        )
    return IngestConfig(
        user=raw["user"],
        password=raw["password"],
        postgres_server=raw["postgres_server"],
        database=raw["database"],
        # ~ expansion, ua2sql.py:35
        local_collection_path=os.path.expanduser(raw["local_collection_path"]),
        unity_project_id=raw["unity_project_id"],
        unity_export_api_key=raw["unity_export_api_key"],
        backup_collection_path=None if backup is None else os.path.expanduser(backup),
        lakehouse_root=None if lakehouse is None else os.path.expanduser(lakehouse),
        unity_api_base_url=raw.get("unity_api_base_url") or None,
        checkpoint_path=None if checkpoint is None else os.path.expanduser(checkpoint),
    )


def load_config(path: str) -> IngestConfig:
    """Read + parse + validate a JSON config file (ua2sql.py:20-26)."""
    try:
        with open(os.path.expanduser(path)) as f:
            raw = json.load(f)
    except OSError as exc:
        raise ConfigError(f"failed to read config file {path!r}: {exc}") from exc
    except (json.JSONDecodeError, UnicodeDecodeError, ValueError) as exc:
        # UnicodeDecodeError (non-UTF-8 bytes) is a ValueError, NOT a
        # JSONDecodeError — it must land inside the ConfigError contract
        # too, or the CLI crashes with a raw traceback instead of
        # 'bad config: ...'
        raise ConfigError(f"failed to parse config file {path!r}: {exc}") from exc
    if not isinstance(raw, dict):
        raise ConfigError(f"config file {path!r} must hold a JSON object")
    return parse_config(raw)
