"""SCD Type-2 dimension history from the snapshot change feed.

A warehouse keeps dimensions two ways: the *current* table (what the
snapshot store's latest version is) and the *history* table — one row
per key per state, with a validity interval — so facts can join the
dimension AS OF the fact's time (the point-in-time join that prevents
label/feature leakage in training pipelines as much as it prevents
restated revenue in BI).

``build_scd2`` derives the history table purely from
``operators/snapshot.py``'s row-level change feed — the consumer-side
pattern Delta/Iceberg users run off CDF: no second bookkeeping write
path exists to drift from the table, because the history IS a fold of
the commits.

Correctness contract (tests/test_scd2.py): for EVERY version v of the
snapshot, the history rows whose interval covers v row-set-equal
``read_snapshot(path, v)`` — reconstruction from the feed is
indistinguishable from time travel, including across deletes and
manifest-only rollbacks.

Interval semantics: ``valid_from`` is the commit version that made the
state visible (inclusive); ``valid_to`` is the next commit that
changed or deleted the key (exclusive), NULL while current.

Scale shape: the feed is churn-proportional (snapshot_changes narrows
to changed files before reading data); the fold is ONE per-key window
over the key's own events — the same shuffle any per-key analytic
pays — and nothing else. History size is O(total churn), never
O(versions × table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_META = ("_change_type", "_commit_version")


def build_scd2(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Fold the full change feed of a snapshot table into SCD2 history.

    Returns the table's data columns plus ``valid_from`` /
    ``valid_to`` (bigint commit versions, ``valid_to`` NULL while
    current) and ``is_current``.
    """
    from ua2sql_spark.operators.snapshot import changes_since

    feed = changes_since(spark, path, -1, key_cols)
    # state-defining events only: an update's preimage duplicates the
    # state the previous open event already carries. Deletes stay in —
    # they close the prior interval via the lead() — and drop out of
    # the final history after supplying their version.
    ev = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage", "delete")
    )
    w = Window.partitionBy(*key_cols).orderBy("_commit_version")
    data_cols = [c for c in feed.columns if c not in _META]
    return (
        ev.withColumn("valid_to", F.lead("_commit_version").over(w))
        .filter(F.col("_change_type") != "delete")
        .select(
            *data_cols,
            F.col("_commit_version").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )

