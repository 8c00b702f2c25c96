"""Cross-table reconciliation: a keyed row-level diff of two tables —
the migration-validation / pipeline-regression primitive ("did the
rewrite of this 100 TB corpus change anything it shouldn't have?").

Reference scope: the reference (ua2sql.py) trusts its single writer
and never compares tables; reconciliation is SURVEY §2.11 territory —
the audit a training-data team runs after every engine swap, backfill,
or vendor re-delivery, and the sibling of the versioned store's change
feed (`snapshot_changes` diffs versions of ONE table; this diffs two
INDEPENDENT tables that merely claim to hold the same data).

Physical shape (the 100 TB argument)
------------------------------------
ONE full-outer equi-join on the key columns — the minimum any keyed
diff must pay — then pure map-side column comparison:

* presence is detected with a constant indicator column per side, so
  the join never needs to inspect value columns for NULL-vs-absent
  ambiguity;
* per-column difference is the null-safe `eqNullSafe` comparison,
  evaluated columnar inside whole-stage codegen (no UDF, no row
  serialization);
* the changed-column list is built with `array_compact` over literal
  column names — an expression, not a shuffle;
* output grain is per key (status + changed_cols + carried columns),
  so callers aggregate however they like WITHOUT a second pass over
  the inputs. Nothing collects to the driver.

When one side is small (a sampled audit slice), the caller can
`F.broadcast` it before calling; AQE otherwise picks the strategy.
Skewed keys are the caller's usual salting problem only if keys are
non-unique — the operator expects unique keys per side (it is a diff,
not a join explosion; duplicate keys make "the row changed" ill-posed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Status values, in severity order.
ONLY_LEFT = "only_left"
ONLY_RIGHT = "only_right"
CHANGED = "changed"
UNCHANGED = "unchanged"


def _assert_unique_keys(df: DataFrame, key_cols: list[str], side: str) -> None:
    """Fail fast when a side carries duplicate keys: duplicates explode
    the full-outer join and make per-key status/changed_cols ill-posed.
    One aggregation over the key columns, short-circuited with
    ``limit(1)`` — the scan is the price of the guarantee, which is why
    the row-diff path only runs it behind ``validate_keys``."""
    dup = (
        df.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_repr = {k: dup[0][k] for k in key_cols}
        raise ValueError(
            f"reconcile: duplicate key on {side} side ({key_repr} appears "
            f"{dup[0]['count']} times); keys must be unique per side — "
            "dedup or re-key before diffing"
        )


def reconcile_tables(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    carry_cols: list[str] | None = None,
    validate_keys: bool = False,
) -> DataFrame:
    """Keyed diff of ``left`` vs ``right``.

    Returns one row per key present on either side with:

    * the key columns (coalesced across sides),
    * ``status``: ``only_left`` / ``only_right`` / ``changed`` /
      ``unchanged``,
    * ``changed_cols``: array of compare-column names whose values
      differ (empty unless ``status = 'changed'``; NULL-safe — a
      NULL→value transition counts as a change),
    * each ``carry_cols`` column, coalesced across sides (for
      downstream grouping, e.g. per-source counts).

    ``compare_cols`` defaults to the non-key columns the two schemas
    share. Keys are expected unique per side and non-null;
    ``validate_keys=True`` spends one aggregation per side to enforce
    that (raises ``ValueError`` naming the first duplicate) instead of
    silently exploding the join.
    """
    if validate_keys:
        _assert_unique_keys(left, key_cols, "left")
        _assert_unique_keys(right, key_cols, "right")
    if compare_cols is None:
        shared = set(left.columns) & set(right.columns)
        compare_cols = sorted(shared - set(key_cols))
    # key columns are always emitted; carrying one again would alias
    # the output column name
    carry_cols = [c for c in (carry_cols or []) if c not in key_cols]

    keep = list(dict.fromkeys(list(key_cols) + compare_cols + carry_cols))
    l = left.select(*keep, F.lit(1).alias("_l_present")).alias("l")
    r = right.select(*keep, F.lit(1).alias("_r_present")).alias("r")

    on = [F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in key_cols]
    j = l.join(r, on, "full_outer")

    diffs = [
        F.when(
            ~F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    changed_cols = (
        F.array_compact(F.array(*diffs)) if diffs else F.array().cast("array<string>")
    )
    status = (
        F.when(F.col("r._r_present").isNull(), F.lit(ONLY_LEFT))
        .when(F.col("l._l_present").isNull(), F.lit(ONLY_RIGHT))
        .when(F.size(changed_cols) > 0, F.lit(CHANGED))
        .otherwise(F.lit(UNCHANGED))
    )
    out = [
        F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k) for k in key_cols
    ]
    out.append(status.alias("status"))
    # Presence rows have no other side to differ from: pin the list
    # empty there so downstream `array_contains` never reads a
    # comparison against an all-NULL phantom row.
    out.append(
        F.when(
            F.col("l._l_present").isNotNull() & F.col("r._r_present").isNotNull(),
            changed_cols,
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_cols")
    )
    out.extend(
        F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c) for c in carry_cols
    )
    return j.select(*out)


def reconcile_snapshot_changes(
    spark,
    snap_path: str,
    reference: DataFrame,
    key_cols: list[str],
    from_version: int,
    to_version: int | None = None,
    compare_cols: list[str] | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Churn-proportional audit: reconcile ONLY the keys the snapshot
    table touched in ``(from_version, to_version]`` against a
    reference table — the daily follow-up to a full
    :func:`reconcile_tables` baseline. At 100 TB a nightly full diff
    re-reads the corpus twice; this reads the change feed (itself
    churn-proportional — only changed files are diffed), semi-joins
    both sides down to the touched keys, and diffs the slices.

    Orientation: left = the snapshot's state at ``to_version``
    restricted to touched keys, right = the reference's rows for those
    keys. A key deleted from the snapshot therefore reads
    ``only_right`` (still in the reference, gone from the table); a
    key the reference never had reads ``only_left``. Untouched keys
    are NOT audited — incremental means "since the last full audit",
    stated here so nobody mistakes a green incremental run for a full
    reconciliation.

    Scale shape: change feed (churn-bounded) → distinct touched keys
    (checkpointed once, consumed by two semi-joins) → one keyed diff
    over churn-sized slices. Nothing scans the un-churned corpus."""
    from ua2sql_spark.operators.snapshot import (
        changes_since,
        latest_version,
        read_snapshot,
    )

    to_v = to_version if to_version is not None else latest_version(spark, snap_path)
    feed = changes_since(spark, snap_path, from_version, key_cols, to_v)
    keys = (
        feed.select(*key_cols).distinct().localCheckpoint(eager=False)
    )
    snap_slice = read_snapshot(spark, snap_path, to_v).join(
        keys, key_cols, "left_semi"
    )
    ref_slice = reference.join(keys, key_cols, "left_semi")
    return reconcile_tables(
        snap_slice, ref_slice, key_cols, compare_cols, carry_cols
    )


def repair_from_reference(
    spark,
    snap_path: str,
    reference: DataFrame,
    key_cols: list[str],
    partition_col: str,
    compare_cols: list[str] | None = None,
    delete_extra: bool = False,
) -> dict:
    """Converge a snapshot table onto a reference — the repair verb
    that completes the diff: upsert every key the keyed diff reports
    ``changed`` or ``only_right`` (missing from the table), and, when
    ``delete_extra``, erase ``only_left`` keys the reference no longer
    has. At most two CoW commits (one upsert, one delete), each
    versioned — so the repair is itself auditable via the change feed
    and reversible via ``rollback``.

    Why not just ``upsert_cow(reference)``? A full-reference upsert
    matches every partition and rewrites the whole table; diffing
    first bounds the rewrite to partitions that actually contain
    diverged keys — churn-proportional, like everything else in this
    module. The diff's two driver-side ``count()`` jobs run over the
    already-computed diff frame (checkpointed once), not the inputs.

    Returns counts: ``{"upserted": n, "deleted": n}``."""
    from ua2sql_spark.operators.snapshot import (
        delete_cow,
        latest_version,
        read_snapshot,
        upsert_cow,
    )

    current = read_snapshot(spark, snap_path, latest_version(spark, snap_path))
    rec = reconcile_tables(
        current, reference, key_cols, compare_cols
    ).localCheckpoint(eager=False)

    fix_keys = rec.filter(
        F.col("status").isin(CHANGED, ONLY_RIGHT)
    ).select(*key_cols)
    # Materialize once: the batch is consumed by the uniqueness guard,
    # the count, and the upsert's several commit actions — without the
    # checkpoint each would recompute the semi-join (and re-read the
    # reference) from scratch.
    batch = reference.join(fix_keys, key_cols, "left_semi").localCheckpoint(
        eager=True
    )
    # A duplicated reference key would multiply the upsert batch and
    # write conflicting rows for one key — always guard the write path
    # (the read-only diff above leaves this opt-in via validate_keys).
    _assert_unique_keys(batch, key_cols, "reference (upsert batch)")
    n_upsert = batch.count()
    if n_upsert:
        upsert_cow(batch, snap_path, key_cols, partition_col)

    n_delete = 0
    if delete_extra:
        extra = rec.filter(F.col("status") == ONLY_LEFT).select(*key_cols)
        n_delete = extra.count()
        if n_delete:
            delete_cow(
                spark, snap_path, extra, partition_col, key_cols=key_cols
            )
    return {"upserted": n_upsert, "deleted": n_delete}
