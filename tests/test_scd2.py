"""SCD2 history from the change feed (operators/scd2.py): the
reconstruction contract — as-of reads of the folded history must equal
time travel at EVERY version, across inserts, updates, new partitions,
and a manifest-only rollback (which manifests as deletes+updates in
the feed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR  # noqa: F401  (fixture wiring)


def _rows(df):
    return {(r["id"], r["day"]): r["val"] for r in df.collect()}


def _as_of(history, version):
    """SCD2 rows whose validity interval covers ``version``."""
    return history.filter(
        (F.col("valid_from") <= version)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > version))
    )


def test_scd2_reconstruction_equals_time_travel(spark, tmp_path):
    from ua2sql_spark.operators.scd2 import build_scd2
    from ua2sql_spark.operators.snapshot import (
        bootstrap_snapshot,
        list_versions,
        read_snapshot,
        rollback,
        upsert_cow,
    )

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c")],
        "id bigint, day string, val string",
    )
    base.write.partitionBy("day").parquet(path)
    assert bootstrap_snapshot(spark, path, "day") == 0

    # v1: update id=3, insert id=4 (same partition)
    upsert_cow(
        spark.createDataFrame(
            [(3, "d2", "C2"), (4, "d2", "d")], "id bigint, day string, val string"
        ),
        path, ["id"], "day",
    )
    # v2: update id=1, open partition d9
    upsert_cow(
        spark.createDataFrame(
            [(1, "d1", "A!"), (9, "d9", "nine")], "id bigint, day string, val string"
        ),
        path, ["id"], "day",
    )
    # v3: manifest-only rollback to v1 -> the change feed v2->v3 carries
    # a DELETE for id=9 and an update restoring id=1
    assert rollback(spark, path, 1) == 3
    # v4: second life after the rollback — id=9 returns with a new value
    upsert_cow(
        spark.createDataFrame([(9, "d9", "nine-again")], "id bigint, day string, val string"),
        path, ["id"], "day",
    )

    hist = build_scd2(spark, path, ["id"])
    for v in list_versions(spark, path):
        assert _rows(_as_of(hist, v)) == _rows(read_snapshot(spark, path, v)), v

    # interval sanity: id=3 has exactly two states; the first closed at v1
    h3 = sorted(
        ((r["valid_from"], r["valid_to"], r["val"])
         for r in hist.filter("id = 3").collect())
    )
    assert h3 == [(0, 1, "c"), (1, None, "C2")]
    # the deleted-then-reinserted key carries a GAP, not a merged row
    h9 = sorted(
        ((r["valid_from"], r["valid_to"], r["val"])
         for r in hist.filter("id = 9").collect())
    )
    assert h9 == [(2, 3, "nine"), (4, None, "nine-again")]
    # current flags match the latest snapshot's keys
    cur = {r["id"] for r in hist.filter("is_current").collect()}
    assert cur == {r["id"] for r in read_snapshot(spark, path).collect()}
