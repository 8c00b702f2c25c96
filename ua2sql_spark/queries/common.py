"""Shared helpers for query/oracle pairs.

Determinism policy
------------------
The driver gate hashes values order-insensitively, so every number we
emit must be **bit-identical** between Spark and DuckDB regardless of
partitioning / summation order. Plain ``SUM(double)`` is order-dependent
in the last bits; instead we:

* cast each addend to ``DECIMAL(28,8)`` (exact, deterministic — the
  binary double has no exact .5 ULP ties at scale 8), sum exactly, and
  cast the exact decimal result to double (a single deterministic
  rounding); both engines produce the same 64-bit float.
* the DuckDB side of that final cast goes **via VARCHAR**: DuckDB's
  direct DECIMAL→DOUBLE converts the scaled int128 first, which loses
  correct rounding once the scaled value passes 2^53 (sum > ~9e7 at
  scale 8 — routinely hit at sf0.1), while Spark's BigDecimal→double
  is correctly rounded. Formatting the exact decimal and parsing with
  strtod is correctly rounded too, so VARCHAR-mediated casts agree
  with Spark at every magnitude.
* averages = exact decimal sum cast to double, divided by the count —
  one double division, identical operands → identical result.
* variance/stddev are derived from exact sums (sum, sum of squares)
  rather than streaming moment aggregates.

Per-row arithmetic (e.g. ``x*(1-y)``) is already deterministic — IEEE
ops on identical operands in the same order.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(28,8)"


def dsum(c: Column | str) -> Column:
    """Order-independent SUM of a double column (exact decimal interior)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    """Order-independent AVG of a double column."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(DEC)).cast("double") / F.count(col)


def sql_dsum(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(28,8))) AS STRING) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


# ---------------------------------------------------------------------------
# In-process fixture cache (VERDICT r9 #5): queries that build a
# deterministic on-disk artifact (CoW fixture tables, the x194 LSH
# index) from the testdata pay the build ONCE per (process, sf_dir,
# source-table mtime) and reuse it afterwards. The artifact is a pure
# function of its source table, so reuse is value-transparent: the
# driver (one invocation per fresh process) sees the identical
# first-run path and hash; only repeat invocations — bench's timed run
# after its warm-up, repeated local emus — skip the rebuild. A testdata
# regeneration changes the mtime key and rebuilds.
# ---------------------------------------------------------------------------
_FIXTURE_CACHE: dict[tuple, str] = {}


def fixture_artifact(spark, sf_dir: str, tag: str, source_table: str, build) -> str:
    """Return the path of the deterministic fixture artifact for
    ``tag``, building via ``build(path)`` on first use per (process,
    testdata). Stale dirs are swept only on (re)build (see
    :func:`fresh_artifact`). The per-(process, invocation) unique
    dir name means two concurrent processes over the same sf_dir can
    never share — or delete — each other's artifact (ADVICE r7 #4)."""
    import os

    try:
        mtime = os.path.getmtime(os.path.join(sf_dir, source_table + ".parquet"))
    except OSError:
        mtime = -1.0  # non-local source: still cached per (tag, sf_dir)
    key = (tag, sf_dir, mtime)
    cached = _FIXTURE_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    path = fresh_artifact(spark, tag)
    build(path)
    _FIXTURE_CACHE[key] = path
    return path


_ARTIFACT_NAME = re.compile(r"ua2sql_(.+)_(\d+)_[0-9a-f]{32}")


def fresh_artifact(spark, tag: str) -> str:
    """A new, NEVER-cached ``<tmp>/ua2sql_<tag>_<pid>_<uuid>`` artifact
    path (ADVICE r12 #3): per-call freshness is the caller's contract
    (x208 rebuilds its diverged snapshot every execution — a cached
    fixture would make its idempotence claim false).

    Each call first deletes the stale artifact dirs: this process's
    earlier ones for ``tag``, and any whose process has exited
    (otherwise every finished test, bench or emulation process would
    leave its copies behind for good). A dir a live cache key points at
    is never deleted (same tag, different sf_dir/mtime: a
    scale-comparison loop alternating two sf_dirs would otherwise
    rebuild on every switch, and a lazy DataFrame still referencing the
    other key's path would read a deleted dir). The sweep goes through
    the table-side Hadoop FS: on a non-local defaultFS a driver-local
    ``shutil.rmtree`` would miss the real files."""
    import os
    import tempfile
    import uuid

    from ua2sql_spark.operators.snapshot import _jfs
    from ua2sql_spark.session import pid_alive

    me = os.getpid()
    tmp_root = tempfile.gettempdir()
    jvm, fs, _ = _jfs(spark, tmp_root)
    root_p = jvm.org.apache.hadoop.fs.Path(tmp_root)
    live = {os.path.basename(v) for v in _FIXTURE_CACHE.values() if v is not None}
    if fs.exists(root_p):
        for st in fs.listStatus(root_p):
            name = st.getPath().getName()
            m = _ARTIFACT_NAME.fullmatch(name)
            if m is None or name in live:
                continue
            pid = int(m.group(2))
            if (pid == me and m.group(1) == tag) or (pid != me and not pid_alive(pid)):
                fs.delete(st.getPath(), True)
    return os.path.join(tmp_root, f"ua2sql_{tag}_{me}_{uuid.uuid4().hex}")
