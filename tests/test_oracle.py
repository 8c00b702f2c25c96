"""Differential tests: every registered query vs its DuckDB oracle.

Every query in the registry runs on Spark and its oracle SQL runs on
DuckDB over the same sf0.001 parquet tables; the two must agree on row
count, column names and every value at ``rtol=0, atol=0``.
"""

from __future__ import annotations

import os

import pytest

from ua2sql_spark.registry import all_queries
from tests.conftest import TABLES, assert_oracle_match

SPECS = all_queries()
WITH_ORACLE = [name for name, spec in SPECS.items() if spec.oracle is not None]


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_match(spark, duck, name):
    assert_oracle_match(spark, duck, SPECS[name])


def test_every_query_has_an_oracle():
    """A query registered without an oracle would drop out of
    ``test_oracle_match``; every registered query must carry one."""
    assert WITH_ORACLE == list(SPECS)


def test_entry_smoke(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    assert df.count() > 0


def test_contract_shapes():
    import __spark_entry__ as mod

    q = mod.queries()
    o = mod.oracle_sql()
    assert q, "queries() empty"
    assert set(o) <= set(q), "oracle_sql keys must be a subset of queries"


def test_artifact_sweep_reclaims_dirs_of_exited_processes(spark, tmp_path, monkeypatch):
    """Fixture artifacts of registered queries are named
    ``ua2sql_<tag>_<pid>_<uuid>`` in the temp dir. A new one sweeps this
    process's stale dirs of its tag and the dirs of every process that
    has exited, and keeps the dirs of live processes and of live cache
    keys."""
    import subprocess
    import sys
    import tempfile
    import uuid

    from ua2sql_spark.queries import common

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    gone = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True).stdout.strip()

    def artifact(tag, pid):
        d = tmp_path / f"ua2sql_{tag}_{pid}_{uuid.uuid4().hex}"
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
        return d.name

    artifact("t", gone)
    artifact("u", gone)
    artifact("t", os.getpid())
    kept = [artifact("t", os.getppid()), artifact("u", os.getpid()), artifact("t", os.getpid())]
    monkeypatch.setitem(common._FIXTURE_CACHE, ("t", "sf", 0.0), str(tmp_path / kept[-1]))
    (tmp_path / "ua2sql_pyfiles_x").mkdir()
    kept.append("ua2sql_pyfiles_x")

    path = common.fresh_artifact(spark, "t")
    assert path.startswith(str(tmp_path / f"ua2sql_t_{os.getpid()}_"))
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(kept)


def test_slow_lane_roster_names_existing_tests():
    """Every SLOW_LANE_TESTS entry ``file::name`` must name a test that
    ``tests/<file>`` still defines — a renamed test would otherwise
    silently move from the slow lane back into the default lane."""
    import re

    from tests.conftest import SLOW_LANE_TESTS

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    stale = []
    for entry in sorted(SLOW_LANE_TESTS):
        fname, name = entry.split("::")
        with open(os.path.join(tests_dir, fname)) as fh:
            if not re.search(rf"^\s*def {re.escape(name)}\(", fh.read(), re.M):
                stale.append(entry)
    assert not stale, stale


def test_no_oracle_is_empty_at_driver_sf():
    """A 0-row result trivially 'matches' its oracle — this meta-test
    pins every registered oracle to >0 rows at sf0.01, so a predicate
    that silently selects nothing fails loudly instead of green-washing
    the correctness gate. DuckDB-only: ~6 s for all
    oracles, no Spark involved."""
    import duckdb

    from ua2sql_spark.registry import oracle_sql

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('/root/testdata/sf0.01/{t}.parquet')"
        )
    empty = [
        name
        for name, sql in oracle_sql().items()
        if len(con.execute(sql).fetchdf()) == 0
    ]
    con.close()
    assert not empty, f"oracles with 0 rows at sf0.01: {empty}"


# Oracles whose DuckDB side is pair-quadratic (LSH candidate replay,
# brute-force cosine, recursive CTEs) — tractable at sf0.01, minutes+
# at sf0.1. The alt-SF sweep exercises everything else.
_SWEEP_HEAVY = frozenset({
    "x43_minhash_lsh_neardup", "x69_ngram_jaccard_neardup",
    "x96_neardup_clusters", "x115_neardup_clusters_fast",
    "x45_cosine_topk", "x46_ann_bucketed", "x68_embedding_neardup",
    "x71_ivf_ann", "x100_ivf_knn_classify", "x89_knn_classify",
    "x101_minhash_fast_exact_tier", "x81_neardup_dedup", "x44_simhash",
    "q10_join_cross", "x106_contamination",
    # deliberately brute-force (all-pairs) truth sides — the POINT of
    # their oracles is independence from the engine's pruning, which
    # makes them ~3 min each in DuckDB at sf0.1
    "x179_prefix_simjoin", "x181_lsh_recall_contract",
})


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR"),
    reason="alt-SF sweep is opt-in: SPARK_GRAFT_SWEEP_SF_DIR=/root/testdata/sf0.1",
)
def test_oracle_sweep_alt_sf(spark):
    """Magnitude-dependent drift guard: the sf0.01 gate can miss bugs
    that only appear at larger values (e.g. DuckDB's decimal→double
    cast losing correct rounding past 2^53 scaled units — caught by
    exactly this sweep). Runs every non-quadratic oracle at the SF
    given via SPARK_GRAFT_SWEEP_SF_DIR; ~6 min at sf0.1."""
    import duckdb

    sweep_dir = os.environ["SPARK_GRAFT_SWEEP_SF_DIR"]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sweep_dir}/{t}.parquet')"
        )
    fails = []
    for name, spec in all_queries().items():
        if name in _SWEEP_HEAVY or spec.oracle is None:
            continue
        try:
            assert_oracle_match(spark, con, spec, sf_dir=sweep_dir)
        except AssertionError as exc:
            fails.append(f"{name}: {str(exc)[:200]}")
    con.close()
    assert not fails, "\n".join(fails)
