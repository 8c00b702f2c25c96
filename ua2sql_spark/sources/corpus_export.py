"""Corpus delivery sinks: the formats training jobs actually consume.

``write_webdataset``  — WebDataset-style tar shards: each sample's
                        members (``{key}.txt``, optional ``{key}.bin``)
                        stored contiguously in a shard tar, so a
                        training loader streams samples with pure
                        sequential IO and shards shuffle as units.
                        The tests read shards back with
                        ``read_webdataset`` (``tests/helpers.py``).

Scale design:
* Shard assignment is a deterministic key hash — rerun/partitioning
  stable, so re-exports are reproducible and resumable per shard.
* One exchange keyed on the shard id; each shard tar is written by
  exactly ONE task (tar is a sequential format), so parallelism ==
  shard count — pick ``n_shards`` ≈ corpus_bytes / 1 GB like any
  WebDataset pipeline.
* Writers emit a MANIFEST row per shard (path, samples, bytes) as
  their dataflow output — the loader-side index and the audit trail,
  in one pass with the write (no second listing job).
* Tars are written to a temp name and atomically renamed, so a task
  retry never leaves a half shard visible.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MANIFEST_SCHEMA = "shard int, path string, n_samples long, n_bytes long"


def write_webdataset(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    payload_col: str | None = None,
) -> DataFrame:
    """Write WebDataset-style tar shards and return the shard manifest.

    Each row becomes one sample: member ``{key}.txt`` holds the utf-8
    text, and — when ``payload_col`` is given — ``{key}.bin`` holds the
    binary payload right after it (WebDataset groups a sample's members
    by their common basename). Shard = xxhash64(key) mod n_shards.
    The returned DataFrame IS the manifest; materializing it performs
    the export."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [key_col, text_col] + ([payload_col] if payload_col else [])
    staged = df.select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int").alias("__shard"),
        *cols,
    )

    def write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        import io as _io
        import tarfile

        # one task == one shard group (applyInPandas keys on __shard)
        shard = int(pdf["__shard"].iloc[0])
        final = os.path.join(out_dir, f"shard-{shard:05d}.tar")
        tmp = final + f".tmp-{os.getpid()}"
        pdf = pdf.sort_values(key_col)  # deterministic member order
        n = 0
        with tarfile.open(tmp, "w") as tar:
            for _, row in pdf.iterrows():
                key = str(row[key_col])
                data = str(row[text_col]).encode("utf-8")
                info = tarfile.TarInfo(name=f"{key}.txt")
                info.size = len(data)
                info.mtime = 0  # reproducible bytes
                tar.addfile(info, _io.BytesIO(data))
                if payload_col is not None and row[payload_col] is not None:
                    blob = bytes(row[payload_col])
                    binfo = tarfile.TarInfo(name=f"{key}.bin")
                    binfo.size = len(blob)
                    binfo.mtime = 0
                    tar.addfile(binfo, _io.BytesIO(blob))
                n += 1
        os.replace(tmp, final)  # atomic publish
        return pd.DataFrame(
            {
                "shard": [shard],
                "path": [final],
                "n_samples": [n],
                "n_bytes": [os.path.getsize(final)],
            }
        )

    return staged.groupBy("__shard").applyInPandas(
        write_shard, schema=_MANIFEST_SCHEMA
    )
