"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# --- Two test lanes ---------------------------------------------------
# The DEFAULT lane (plain `pytest tests/`) must finish well under 15 min.
# It runs every registered query against its DuckDB oracle, every
# operator family, every plan pin and the meta/contract tests. The tests
# named in SLOW_LANE_TESTS — exhaustive sweeps, long property suites and
# multi-minute snapshot/stream soaks whose core logic a default-lane test
# or an oracle row already exercises — run only in the full lane:
# SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/.
FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") == "1"

# Slow-lane roster, chosen from a full run's --durations=0 (550 tests,
# 53.5 min): every entry is an exhaustive sweep, soak, or brute-force
# differential whose operator logic a default-lane representative (or an
# oracle row) still exercises end-to-end. Kept representatives noted
# inline.
SLOW_LANE_TESTS = {
    # -- operators_property: brute-force differentials > 18 s
    #    (kept: test_minhash_verify_branches_agree — pins the r15 size
    #    gate; test_repair_from_reference_converges_and_bounds_rewrite
    #    and test_degree_oriented_triangles_match_bruteforce)
    "test_operators_property.py::test_fuzzy_join_matches_bruteforce",
    "test_operators_property.py::test_repair_converges_for_arbitrary_divergence",
    "test_operators_property.py::test_upsert_parquet_matches_dict_semantics",
    "test_operators_property.py::test_reconcile_snapshot_changes_audits_only_touched_keys",
    "test_operators_property.py::test_neardup_dedup_consistent_with_pairs",
    "test_operators_property.py::test_lsh_index_probe_large_batch_unhinted_identical",
    # -- snapshot: multi-version soaks > 15 s (kept:
    #    test_cow_upsert_time_travel_and_diff — the family core; plus
    #    every sub-15 s semantics test; the x200/x201/x204/x206/x208/
    #    x212 oracle rows cover these paths e2e in the default lane)
    "test_snapshot.py::test_incremental_view_maintenance_matches_rebuild",
    "test_snapshot.py::test_changes_since_tags_commits_and_resumes",
    "test_snapshot.py::test_change_feed_reconstructs_any_version",
    "test_snapshot.py::test_manifest_records_exact_row_counts",
    "test_snapshot.py::test_compact_snapshot_and_rollback",
    "test_snapshot.py::test_compact_snapshot_partition_allowlist",
    "test_snapshot.py::test_ivm_versioned_refresh_is_atomic",
    "test_snapshot.py::test_layout_health_min_files_matches_compaction_threshold",
    "test_snapshot.py::test_snapshot_layout_health_agrees_with_compaction",
    "test_snapshot.py::test_delete_cow_compliance_path",
    "test_snapshot.py::test_changes_since_spans_schema_evolving_commit",
    "test_snapshot.py::test_compact_handles_escaped_partition_values",
    # -- ivm_join: replay/compose soaks (kept: fail-closed cursor,
    #    no-op refresh, collision rejection — the r13 ADVICE pins)
    "test_ivm_join.py::test_build_then_mixed_mutations_stay_recompute_equal",
    "test_ivm_join.py::test_view_is_a_table_scd2_and_feed_compose",
    "test_ivm_join.py::test_refresh_replay_converges",
    "test_ivm_join.py::test_value_empty_feed_advances_cursor_without_view_commits",
    # -- plans: the two all-registry sweeps (~75 s each; per-query plan
    #    pins remain in the default lane)
    "test_plans.py::test_no_query_plans_cartesian_or_row_python",
    "test_plans.py::test_no_query_reevaluates_expensive_exprs",
    # -- http_export: the two full-CLI soaks (smaller CLI tests remain)
    "test_http_export.py::test_cli_maintain_reports_then_compacts_flagged_only",
    "test_http_export.py::test_cli_main_end_to_end",
    # -- second band (12-19 s), same rule — exhaustive variants whose
    #    core semantics a kept test or oracle row still covers
    "test_snapshot.py::test_snapshot_changes_keeps_null_keyed_rows",
    "test_snapshot.py::test_delete_cow_accepts_keys_dataframe",
    "test_snapshot.py::test_snapshot_changes_detects_evolved_column_only_updates",
    "test_snapshot.py::test_schema_evolution_across_versions",
    "test_snapshot.py::test_snapshot_changes_row_level_cdf",
    "test_operators_property.py::test_lsh_index_probe_rejects_same_named_different_tokenizer",
    "test_operators_property.py::test_lsh_index_append_equals_rebuild",
    "test_operators_property.py::test_compact_lsh_index_drops_replay_duplicates",
    "test_operators_property.py::test_prefix_simjoin_is_exact",
    "test_operators_property.py::test_reconcile_matches_bruteforce",
    "test_operators_property.py::test_hash_ordered_invariant_to_prefix_len",
    "test_operators_property.py::test_lsh_index_probe_matches_inline_pairs",
}


def pytest_collection_modifyitems(config, items):
    if FULL_TESTS:
        return
    skip = pytest.mark.skip(
        reason="slow lane (SPARK_GRAFT_FULL_TESTS=1 to run)"
    )
    for item in items:
        base = item.nodeid.rsplit("/", 1)[-1].split("[", 1)[0]
        if base in SLOW_LANE_TESTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from ua2sql_spark.session import get_spark

    spark = get_spark("ua2sql_spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for the order-insensitive oracle compare:
    columns sorted by name, dtypes widened, rows sorted by stringified value."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[ns]")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
        else:
            df[c] = s.astype("string")
    if len(df) == 0:
        return df.reset_index(drop=True)
    key = df.astype("string").fillna("\x00NULL").agg("\x1f".join, axis=1)
    df = df.iloc[key.argsort(kind="stable").values].reset_index(drop=True)
    return df


def assert_oracle_match(spark, duck, spec, sf_dir: str = SF_DIR) -> None:
    """Run a QuerySpec on Spark and its oracle on DuckDB; compare."""
    sdf = spec.fn(spark, sf_dir)
    spark_pd = sdf.toPandas()
    duck_pd = duck.execute(spec.oracle).fetchdf()

    assert len(spark_pd) == len(duck_pd), (
        f"{spec.name}: row count {len(spark_pd)} (spark) != {len(duck_pd)} (duckdb)"
    )
    assert sorted(spark_pd.columns) == sorted(duck_pd.columns), (
        f"{spec.name}: columns {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}"
    )
    a = normalize(spark_pd)
    b = normalize(duck_pd)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=0, atol=0)
    except AssertionError as exc:
        raise AssertionError(f"{spec.name}: value mismatch\n{exc}") from exc
