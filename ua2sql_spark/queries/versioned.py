"""Versioned-table queries: the snapshot/CDF/SCD2 layer under the
driver's exact-correctness gate (VERDICT r6 next-round #2).

The X12 family (``operators/snapshot.py``, ``operators/scd2.py``) is
verified by 30+ local tests, but until this row none of it flowed
through ``queries()`` — the hard driver gate had never sampled it.
The trick (the x153/x180 deterministic-injection pattern): the query
fn BUILDS a copy-on-write snapshot table from scratch inside a temp
directory keyed off ``sf_dir``, replaying a fixed commit sequence
derived arithmetically from the ``customer`` table, then emits the
SCD2 history folded from the table's own change feed. Because every
commit is a pure function of ``customer``, DuckDB can replay the
exact history in SQL — so the oracle hash pins the whole stack:
manifest commit protocol, partition-sliced CoW rewrite, per-version
row diff (insert/update detection), and the SCD2 interval fold.

Commit sequence (versions are manifest commits, keys = custkey):
  v0  every customer with custkey <= 400: bal = acctbal
  v1  custkey % 7 = 0  -> bal + 100   (updates)
      plus 4 synthetic keys 1_000_000+g inserted at bal = 777.00
  v2  custkey % 11 = 0 -> bal + 50    (updates, stacking on v1's)

Scale shape: the change feed is churn-proportional (only changed
files are diffed — ``snapshot_changes`` narrows by manifest), and the
SCD2 fold is ONE per-key window over each key's own events.
Reference parity: ua2sql.py keeps only latest-state tables; history
reconstruction is this engine's extension (SURVEY §2.11 X12).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.queries.common import DEC
from ua2sql_spark.registry import query

# Fixture-table cache rationale (VERDICT r9 #5): each invocation used
# to replay the FULL commit sequence — 3 commit protocols (manifest +
# schema sidecar + stats jobs + atomic renames) of driver-side latency
# that does not grow with data — making x186/x190 the gated-window
# bench heavyweights (17.7 s / 11.0 s) for work the query's CONTRACT
# doesn't measure. The commit sequence is a pure function of the
# `customer` table, so within one process the built table is reusable
# verbatim; see queries/common.fixture_artifact for the cache contract.


def _fixture_table(spark: SparkSession, sf_dir: str, tag: str, build) -> str:
    """Return the path of the deterministic fixture table for ``tag``
    (built from ``customer``) — delegates to the shared
    ``queries/common.fixture_artifact`` cache."""
    from ua2sql_spark.queries.common import fixture_artifact

    return fixture_artifact(spark, sf_dir, tag, "customer", build)


@query(
    "x186_scd2_history",
    oracle="""
    WITH v AS (
        SELECT c_custkey AS custkey,
               CAST(c_nationkey % 4 AS VARCHAR) AS grp,
               CAST(c_acctbal AS DECIMAL(28,8)) AS bal0,
               c_custkey % 7 = 0 AS u1,
               c_custkey % 11 = 0 AS u2,
               CAST(CAST(c_acctbal AS DECIMAL(28,8)) + 100
                    AS DECIMAL(28,8)) AS bal1
        FROM customer WHERE c_custkey <= 400
    ),
    segs AS (
        SELECT custkey, grp, bal0 AS bal,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(CASE WHEN u1 THEN 1 WHEN u2 THEN 2 END AS BIGINT)
                   AS valid_to
        FROM v
        UNION ALL
        SELECT custkey, grp, bal1,
               CAST(1 AS BIGINT),
               CAST(CASE WHEN u2 THEN 2 END AS BIGINT)
        FROM v WHERE u1
        UNION ALL
        SELECT CAST(1000000 + range AS BIGINT),
               CAST(range AS VARCHAR),
               CAST(777.00 AS DECIMAL(28,8)),
               CAST(1 AS BIGINT), CAST(NULL AS BIGINT)
        FROM range(4)
        UNION ALL
        SELECT custkey, grp,
               CAST((CASE WHEN u1 THEN bal1 ELSE bal0 END) + 50
                    AS DECIMAL(28,8)),
               CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
        FROM v WHERE u2
    )
    SELECT custkey, grp,
           CAST(CAST(bal AS VARCHAR) AS DOUBLE) AS bal,
           valid_from, valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_current
    FROM segs
    """,
)
def x186_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history folded from a CoW snapshot's change feed,
    the whole table built deterministically in-query so DuckDB can
    replay the commits arithmetically."""
    from ua2sql_spark.operators.scd2 import build_scd2
    from ua2sql_spark.operators.snapshot import upsert_cow

    def build(path: str) -> None:
        base = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 400)
            .select(
                F.col("c_custkey").alias("custkey"),
                (F.col("c_nationkey") % 4).cast("string").alias("grp"),
                F.col("c_acctbal").cast(DEC).alias("bal"),
            )
            # three commit batches derive from this one scan
            .localCheckpoint(eager=False)
        )
        upsert_cow(base, path, ["custkey"], "grp")  # v0: opening inserts
        v1 = (
            base.filter(F.col("custkey") % 7 == 0)
            .withColumn("bal", (F.col("bal") + 100).cast(DEC))
            .unionByName(
                spark.createDataFrame(
                    [(1_000_000 + g, str(g), Decimal("777.00")) for g in range(4)],
                    f"custkey bigint, grp string, bal {DEC}",
                )
            )
        )
        upsert_cow(v1, path, ["custkey"], "grp")  # v1: updates + inserts
        v2 = base.filter(F.col("custkey") % 11 == 0).withColumn(
            "bal",
            (
                F.when(F.col("custkey") % 7 == 0, F.col("bal") + 100)
                .otherwise(F.col("bal"))
                + 50
            ).cast(DEC),
        )
        upsert_cow(v2, path, ["custkey"], "grp")  # v2: stacked updates

    path = _fixture_table(spark, sf_dir, "x186", build)
    hist = build_scd2(spark, path, ["custkey"])
    return hist.select(
        "custkey",
        # partition-dir values ("grp=0") type-infer back as INT on read;
        # re-cast so the schema matches the VARCHAR oracle
        F.col("grp").cast("string").alias("grp"),
        F.col("bal").cast("double").alias("bal"),
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).cast("int").alias(
            "is_current"
        ),
    )


# ---------------------------------------------------------------------------
# x190: row-level CoW DELETE + its change feed under the hard gate
# (round 8; completes X12's driver coverage: x186 pins snapshots/CDF/
# SCD2, this pins the erasure path). Same deterministic-injection
# trick: build the table in-query from `customer`, erase every 5th key
# with delete_cow, and emit BOTH the surviving state and the change
# feed's delete events — each a pure function of `customer`, so DuckDB
# replays the commit arithmetically. The hashed columns exercise the
# whole chain: partition-sliced delete rewrite, manifest-absence
# semantics for emptied slices, and churn-proportional delete-event
# synthesis between versions.
# ---------------------------------------------------------------------------
@query(
    "x190_delete_erasure",
    oracle="""
    WITH v AS (
        SELECT c_custkey AS custkey,
               CAST(c_nationkey % 4 AS VARCHAR) AS grp,
               CAST(CAST(c_acctbal AS DECIMAL(28,8)) AS VARCHAR) AS bal_s
        FROM customer WHERE c_custkey <= 300
    )
    SELECT custkey, grp, CAST(bal_s AS DOUBLE) AS bal,
           'live' AS row_kind
    FROM v WHERE custkey % 5 <> 0
    UNION ALL
    SELECT custkey, grp, CAST(bal_s AS DOUBLE) AS bal,
           'delete' AS row_kind
    FROM v WHERE custkey % 5 = 0
    """,
)
def x190_delete_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        delete_cow,
        read_snapshot,
        upsert_cow,
    )

    def build(path: str) -> None:
        base = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 300)
            .select(
                F.col("c_custkey").alias("custkey"),
                (F.col("c_nationkey") % 4).cast("string").alias("grp"),
                F.col("c_acctbal").cast(DEC).alias("bal"),
            )
        )
        upsert_cow(base, path, ["custkey"], "grp")          # v0: opening state
        delete_cow(spark, path, F.col("custkey") % 5 == 0, "grp")  # v1: erasure

    path = _fixture_table(spark, sf_dir, "x190", build)

    live = read_snapshot(spark, path, 1).select(
        "custkey",
        F.col("grp").cast("string").alias("grp"),
        F.col("bal").cast("double").alias("bal"),
        F.lit("live").alias("row_kind"),
    )
    erased = (
        changes_since(spark, path, 0, ["custkey"], 1)
        .filter(F.col("_change_type") == "delete")
        .select(
            "custkey",
            F.col("grp").cast("string").alias("grp"),
            F.col("bal").cast("double").alias("bal"),
            F.lit("delete").alias("row_kind"),
        )
    )
    return live.unionByName(erased)


# ---------------------------------------------------------------------------
# X12c: corpus version-drift report (round 11) — the audit a training
# team runs between two pinned corpus versions: "what changed, per
# source, and by how many tokens?". Builds a CoW table from a fixed
# commit sequence derived arithmetically from `documents` (the x186/
# x190 discipline), then folds the row-level change feed between v0 and
# the final version into per-source insert/update/delete counts and a
# net token delta. Every number is an integer, so the oracle replays
# the whole report from `documents` with modular arithmetic — pinning
# the manifest protocol, the CoW upsert + delete, the value-diff change
# feed, and the aggregation in one hash.
#
# Commit sequence (partition = source, key = doc_id):
#   v0  every doc with doc_id % 2 = 1
#   v1  inserts: doc_id % 2 = 0; updates: doc_id % 10 = 5 gets
#       text || ' rev2' (exactly +1 token)
#   v2  delete doc_id % 10 = 1
# ---------------------------------------------------------------------------
@query(
    "x200_corpus_version_drift",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_inserts,
           CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 5) AS BIGINT) AS n_updates,
           CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 1) AS BIGINT) AS n_deletes,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN ntok ELSE 0 END)
                + COUNT(*) FILTER (WHERE doc_id % 10 = 5)
                - SUM(CASE WHEN doc_id % 10 = 1 THEN ntok ELSE 0 END)
               AS BIGINT) AS token_delta
    FROM t
    GROUP BY source
    HAVING COUNT(*) FILTER (WHERE doc_id % 2 = 0 OR doc_id % 10 IN (1, 5)) > 0
    ORDER BY source
    """,
)
def x200_corpus_version_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        snapshot_changes,
        upsert_cow,
    )
    from ua2sql_spark.queries.common import fixture_artifact

    d = load_table(spark, sf_dir, "documents")

    def build(path: str) -> None:
        upsert_cow(
            d.filter(F.col("doc_id") % 2 == 1), path, ["doc_id"], "source"
        )
        updates = d.filter(F.col("doc_id") % 10 == 5).withColumn(
            "text", F.concat(F.col("text"), F.lit(" rev2"))
        )
        upsert_cow(
            d.filter(F.col("doc_id") % 2 == 0).unionByName(updates),
            path,
            ["doc_id"],
            "source",
        )
        delete_cow(
            spark,
            path,
            d.filter(F.col("doc_id") % 10 == 1).select("doc_id"),
            "source",
            key_cols=["doc_id"],
        )

    path = fixture_artifact(spark, sf_dir, "x200tbl", "documents", build)
    ch = snapshot_changes(spark, path, 0, 2, ["doc_id"])
    ntok = F.size(F.split(F.col("text"), " ")).cast("bigint")
    return (
        ch.groupBy("source")
        .agg(
            F.sum(F.when(F.col("_change_type") == "insert", 1).otherwise(0))
            .cast("bigint")
            .alias("n_inserts"),
            F.sum(
                F.when(F.col("_change_type") == "update_postimage", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_updates"),
            F.sum(F.when(F.col("_change_type") == "delete", 1).otherwise(0))
            .cast("bigint")
            .alias("n_deletes"),
            F.sum(
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"), ntok
                )
                .when(
                    F.col("_change_type").isin("delete", "update_preimage"), -ntok
                )
                .otherwise(0)
            )
            .cast("bigint")
            .alias("token_delta"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X12d: RESTORE under the hard gate (round 11). `rollback`
# (operators/snapshot.py:940) — the manifest-only restore-to-version
# primitive, Delta's RESTORE — has been locally tested since r6 but
# never faced the driver. Same deterministic-injection discipline as
# x186/x190/x200: the table is built in-query from `customer` with a
# fixed commit sequence, so DuckDB replays both emitted states
# arithmetically and one hash pins the whole recovery path: the v1
# CoW update, the v2 CoW delete, the RESTORE's manifest copy (v3),
# and that reading v3 reverts BOTH mutations (updates rolled back,
# deleted keys resurrected at their original balance).
#
# Commit sequence (partition = grp, key = custkey, custkey <= 350):
#   v0  opening state: bal = acctbal
#   v1  custkey % 6 = 0 -> bal + 25      (updates)
#   v2  delete custkey % 5 = 0           (erasure)
#   v3  rollback(path, to_version=0)     (RESTORE)
# Emitted: v2's live rows (row_kind='pre_restore' — pins that the
# mutations really happened) UNION v3's rows (row_kind='restored' —
# pins that RESTORE reverted them).
# ---------------------------------------------------------------------------
@query(
    "x201_snapshot_restore",
    oracle="""
    WITH v AS (
        SELECT c_custkey AS custkey,
               CAST(c_nationkey % 4 AS VARCHAR) AS grp,
               CAST(c_acctbal AS DECIMAL(28,8)) AS bal0,
               c_custkey % 6 = 0 AS u1
        FROM customer WHERE c_custkey <= 350
    )
    SELECT custkey, grp,
           CAST(CAST(CASE WHEN u1
                          THEN CAST(bal0 + 25 AS DECIMAL(28,8))
                          ELSE bal0 END AS VARCHAR) AS DOUBLE) AS bal,
           'pre_restore' AS row_kind
    FROM v WHERE custkey % 5 <> 0
    UNION ALL
    SELECT custkey, grp,
           CAST(CAST(bal0 AS VARCHAR) AS DOUBLE) AS bal,
           'restored' AS row_kind
    FROM v
    """,
)
def x201_snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE-to-version audit: a CoW table takes an update commit and
    an erasure commit, then rolls back to the opening version; the query
    emits the pre-restore and post-restore states side by side so the
    oracle hash pins that RESTORE reverted both mutations. Reference
    parity: ua2sql.py has no table history at all (latest-state rows,
    ua2sql.py:223-236); recovery-by-restore is this engine's extension
    (SURVEY §2.11 X12)."""
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        read_snapshot,
        rollback,
        upsert_cow,
    )

    def build(path: str) -> None:
        base = (
            load_table(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") <= 350)
            .select(
                F.col("c_custkey").alias("custkey"),
                (F.col("c_nationkey") % 4).cast("string").alias("grp"),
                F.col("c_acctbal").cast(DEC).alias("bal"),
            )
            .localCheckpoint(eager=False)
        )
        upsert_cow(base, path, ["custkey"], "grp")  # v0: opening state
        v1 = base.filter(F.col("custkey") % 6 == 0).withColumn(
            "bal", (F.col("bal") + 25).cast(DEC)
        )
        upsert_cow(v1, path, ["custkey"], "grp")  # v1: updates
        delete_cow(spark, path, F.col("custkey") % 5 == 0, "grp")  # v2: erasure
        rollback(spark, path, 0)  # v3: RESTORE

    path = _fixture_table(spark, sf_dir, "x201", build)

    def state(version: int, kind: str) -> DataFrame:
        return read_snapshot(spark, path, version).select(
            "custkey",
            F.col("grp").cast("string").alias("grp"),
            F.col("bal").cast("double").alias("bal"),
            F.lit(kind).alias("row_kind"),
        )

    return state(2, "pre_restore").unionByName(state(3, "restored"))


# ---------------------------------------------------------------------------
# x212: snapshot layout health (round 13, VERDICT r12 #2) — the
# measure-first maintenance trio's LAST member under the driver gate
# (IVF has x198, the LSH index has x204; this is the table-layout
# report compact_snapshot consumes). The fixture table is adopted via
# bootstrap_snapshot from a layout built with EXACT file-count control:
# each (partition, slice) lands as its own single-task write job —
# coalesce(1) per slice, one write action per slice — so the manifest
# records grp=0 with 3 files, grp=1 with 2, grp=2 with 1, independent
# of shuffle hashing or parallelism. Row counts come from the
# bootstrap's distributed footer pass, so n_rows is exact integer
# arithmetic over `documents` (doc_id % 3 buckets). would_compact uses
# the operator's min_files parameter (default 2 — ADVICE r12 #2), so
# the hash pins the agreement between the report and what
# compact_snapshot(min_files=2) would rewrite: grp=0 and grp=1 yes,
# grp=2 no.
#
# total_bytes is EXCLUDED from the frame (encoder-dependent — parquet
# page layout is not contract); n_small_files rides with the threshold
# pinned ABOVE any encoding (1 TiB), so it equals n_files by
# construction at every sf — the column proves the size walk ran
# without hashing encoder bytes.
#
# Scale shape: the report is one manifest read + ONE listStatus per
# partition directory (O(partitions) RPCs, never O(files) — VERDICT
# r12 #4); nothing reads data files. The fixture build is cached per
# (process, sf_dir) like every other CoW fixture.
# ---------------------------------------------------------------------------
@query(
    "x212_snapshot_layout_health",
    oracle="""
    WITH g AS (
        SELECT doc_id % 3 AS grp, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY doc_id % 3
    ),
    layout(grp, n_files) AS (VALUES (0, 3), (1, 2), (2, 1))
    SELECT 'grp=' || CAST(g.grp AS VARCHAR) AS "partition",
           CAST(l.n_files AS BIGINT) AS n_files,
           g.n_rows,
           CAST(l.n_files AS BIGINT) AS n_small_files,
           CAST(CASE WHEN l.n_files >= 2 THEN 1 ELSE 0 END AS INTEGER)
               AS would_compact
    FROM g JOIN layout l ON g.grp = l.grp
    ORDER BY "partition"
    """,
)
def x212_snapshot_layout_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition layout health over a file-count-pinned adopted
    snapshot: fragmentation, exact footer row counts, and the
    compaction decision bit, all integer arithmetic over `documents`."""
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        snapshot_layout_health,
    )
    from ua2sql_spark.queries.common import fixture_artifact

    d = load_table(spark, sf_dir, "documents").withColumn(
        "grp", (F.col("doc_id") % 3).cast("string")
    )

    def build(path: str) -> None:
        # one single-task write job per slice -> deterministic file
        # counts per partition dir: grp=0 gets 3 files, grp=1 two,
        # grp=2 one (doc_id % 9 partitions doc_id % 3 exactly)
        slices = [
            F.col("doc_id") % 9 == 0,
            F.col("doc_id") % 9 == 3,
            F.col("doc_id") % 9 == 6,
            (F.col("doc_id") % 9).isin(1, 4),
            F.col("doc_id") % 9 == 7,
            F.col("doc_id") % 3 == 2,
        ]
        for cond in slices:
            (
                d.filter(cond)
                .coalesce(1)
                .write.mode("append")
                .partitionBy("grp")
                .parquet(path)
            )
        bootstrap_snapshot(spark, path, "grp")

    path = fixture_artifact(spark, sf_dir, "x212layout", "documents", build)
    h = snapshot_layout_health(
        spark,
        path,
        # pinned ABOVE any parquet encoding so n_small_files = n_files
        # deterministically (sizes are encoder-dependent; the driver
        # hash can only pin size-INDEPENDENT integers)
        small_file_bytes=1 << 40,
        min_files=2,
    )
    return h.select(
        "partition",
        "n_files",
        "n_rows",
        "n_small_files",
        F.col("would_compact").cast("int").alias("would_compact"),
    ).orderBy("partition")


# ---------------------------------------------------------------------------
# The fixture x217 and x220 share: two CoW tables built from `documents`
# arithmetic (A = every doc keyed by doc_id; B = scores for
# doc_id % 3 <> 1), the join view V = A ⋈ B and the aggregate view
# W = COUNT/SUM(score) per source over V. Both views are materialized,
# then BOTH bases are mutated (A: n_chars update %5, delete %11; B:
# insert the %3=1 keys at score+100, delete %13) and each view is
# refreshed once: V from both bases' change feeds, W from V's own feed.
# The final state is closed-form — keys with %11<>0 AND %13<>0,
# score = %7 (+100 for the late-insert %3=1 cohort) — so one DuckDB CTE
# is the oracle of both rows. Building it once serves both queries.
# ---------------------------------------------------------------------------
def _ivm_views_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Root of the built fixture: the bases ``a/`` and ``b/``, the join
    view ``v/`` and the aggregate view ``w/``."""
    from ua2sql_spark.operators.ivm import build_view, refresh_from_feed
    from ua2sql_spark.operators.ivm_join import (
        build_join_view,
        refresh_join_view,
    )
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        latest_version,
        read_snapshot,
        snapshot_changes,
        upsert_cow,
    )
    from ua2sql_spark.queries.common import fixture_artifact

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def build(root: str) -> None:
        a_path, b_path = root + "/a", root + "/b"
        v_path, w_path = root + "/v", root + "/w"
        a0 = d.select(
            "doc_id",
            (did % 4).cast("string").alias("grp"),
            "source",
            "n_chars",
        )
        upsert_cow(a0, a_path, ["doc_id"], "grp")
        b0 = d.filter(did % 3 != 1).select(
            "doc_id",
            (did % 7).cast("bigint").alias("score"),
            (did % 4).cast("string").alias("bgrp"),
        )
        upsert_cow(b0, b_path, ["doc_id"], "bgrp")
        build_join_view(spark, a_path, b_path, "doc_id", "grp", v_path)
        v0 = latest_version(spark, v_path)
        build_view(read_snapshot(spark, v_path), "source", "score", w_path)
        # mutate A: update + delete
        upsert_cow(
            a0.filter(did % 5 == 0).withColumn(
                "n_chars", F.coalesce(F.col("n_chars"), F.lit(0)) + 1
            ),
            a_path, ["doc_id"], "grp",
        )
        delete_cow(spark, a_path, did % 11 == 0, "grp")
        # mutate B: late insert of the %3=1 cohort + delete
        upsert_cow(
            d.filter(did % 3 == 1).select(
                "doc_id",
                (did % 7 + 100).cast("bigint").alias("score"),
                (did % 4).cast("string").alias("bgrp"),
            ),
            b_path, ["doc_id"], "bgrp",
        )
        delete_cow(spark, b_path, did % 13 == 0, "bgrp")
        # hop 1: join view advances from both base feeds
        refresh_join_view(spark, v_path)
        v1 = latest_version(spark, v_path)
        # hop 2: aggregate view advances from THE VIEW'S own feed —
        # one churn-proportional batch spanning hop 1's commits
        feed = snapshot_changes(spark, v_path, v0, v1, ["doc_id"])
        refresh_from_feed(spark, w_path, feed, "source", "score")

    return fixture_artifact(spark, sf_dir, "ivmviews", "documents", build)


# ---------------------------------------------------------------------------
# x217: incrementally-maintained join view (round 13) — the standing
# keyed join view V = A ⋈ B refreshed from BOTH base tables' change
# feeds (operators/ivm_join.py), over the shared fixture above. The row
# emits the per-source view aggregate PLUS n_diff — the symmetric
# difference between the maintained view and a from-scratch recompute
# — pinned 0: recompute-equality is the soundness claim, checked by the
# oracle compare on every test run, not just by the ivm_join tests.
# Scale shape: refresh reads ONLY the touched-key slices of the
# current base snapshots (semi-joins) and rewrites only view
# partitions holding touched keys; the view is itself a CoW table, so
# it inherits time travel / change feed / layout health.
# ---------------------------------------------------------------------------
@query(
    "x217_ivm_join_view",
    oracle="""
    WITH k AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 1 THEN doc_id % 7 + 100
                    ELSE doc_id % 7 END AS score
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(0 AS BIGINT) AS n_diff
    FROM k GROUP BY source ORDER BY source
    """,
)
def x217_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained join view after mutations on both bases: per-source
    state plus a recompute-equality symmetric-difference count
    (pinned 0)."""
    from ua2sql_spark.operators.snapshot import read_snapshot

    root = _ivm_views_fixture(spark, sf_dir)
    view = read_snapshot(spark, root + "/v").select(
        "doc_id", "source", "score"
    )
    a1 = read_snapshot(spark, root + "/a")
    b1 = read_snapshot(spark, root + "/b")
    recompute = a1.join(b1.select("doc_id", "score"), "doc_id").select(
        "doc_id", "source", "score"
    )
    n_diff = (
        view.exceptAll(recompute).count()
        + recompute.exceptAll(view).count()
    )
    return (
        view.groupBy(F.col("source").cast("string").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
        .select(
            "source",
            "n_rows",
            "sum_score",
            F.lit(n_diff).cast("bigint").alias("n_diff"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x220: maintained-view CASCADE (round 14) — the standing-view DAG a
# warehouse actually runs: base tables A, B (CoW) -> join view
# V = A ⋈ B kept current from BOTH bases' change feeds
# (operators/ivm_join.py) -> aggregate view W = COUNT/SUM per group
# kept current from V'S OWN feed (operators/ivm.py). x217 proved V is
# a real table (feed/SCD2 compose); this row proves the composition
# END-TO-END under the oracle gate: after mixed mutations on both
# bases and ONE refresh of each view, W equals a from-scratch
# GROUP BY over a from-scratch A ⋈ B — the symmetric difference is
# emitted and pinned 0. The Delta Live Tables two-hop DAG, maintained
# from churn-proportional deltas at every hop: no step ever re-joins
# A×B or re-aggregates V.
# It reads the fixture x217 reads, so the oracle is the same k CTE
# aggregated — fully arithmetic-derivable by DuckDB.
# Scale shape: hop 1 recomputes only feed-touched keys (semi-joined
# base slices, partition-local view rewrite); hop 2 applies a signed
# delta aggregate bounded by |touched groups| and rewrites only the
# hash buckets holding them. Refresh cost scales with churn at both
# hops, never with |V| or |W|.
# ---------------------------------------------------------------------------
@query(
    "x220_ivm_agg_cascade",
    oracle="""
    WITH k AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 1 THEN doc_id % 7 + 100
                    ELSE doc_id % 7 END AS score
        FROM documents
        WHERE doc_id % 11 <> 0 AND doc_id % 13 <> 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(score) AS BIGINT) AS sum_score,
           CAST(0 AS BIGINT) AS w_diff
    FROM k GROUP BY source ORDER BY source
    """,
)
def x220_ivm_agg_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop maintained-view cascade after mutations on both bases:
    the aggregate view's state per source, plus its symmetric
    difference vs a from-scratch recompute (pinned 0)."""
    from ua2sql_spark.operators.ivm import read_view
    from ua2sql_spark.operators.snapshot import read_snapshot

    root = _ivm_views_fixture(spark, sf_dir)
    w = read_view(spark, root + "/w").select(
        F.col("grp").alias("source"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("sum_value").cast("bigint").alias("sum_score"),
    )
    fresh = (
        read_snapshot(spark, root + "/a")
        .join(
            read_snapshot(spark, root + "/b").select("doc_id", "score"),
            "doc_id",
        )
        .groupBy(F.col("source").cast("string").alias("source"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )
    w_diff = w.exceptAll(fresh).count() + fresh.exceptAll(w).count()
    return w.select(
        "source",
        "n_rows",
        "sum_score",
        F.lit(w_diff).cast("bigint").alias("w_diff"),
    ).orderBy("source")
