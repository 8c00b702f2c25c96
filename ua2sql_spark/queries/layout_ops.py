"""Data-layout queries: the z-order (Morton) clustering primitive under
the driver's exact-correctness gate.

``operators/layout.py`` owns the Morton key; this module pins the bit
arithmetic a z-order layout sorts by. The Morton code is pure JVM bit-spreading
(shiftleft/and/or inside whole-stage codegen) and the DuckDB oracle
computes the identical schedule via :func:`zorder_sql`, so the
engines must agree on every single bit — any drift in the interleave
hash-mismatches.

Scale: computing z is a map-only projection; a layout write sorted on
it is one range exchange. Nothing here shuffles except the final
per-bucket aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.operators.layout import zorder_column, zorder_sql
from ua2sql_spark.registry import query

# Fixed 8-bit dimensions make the bucket layout scale-invariant: the
# oracle-checked arithmetic is the bit interleave itself; production
# callers hand zorder_column their real (wider) key domains.
@query(
    "x124_zorder_layout",
    oracle=f"""
    WITH dims AS (
        SELECT o_custkey % 256 AS dim_a,
               (EXTRACT(doy FROM o_orderdate) % 256) AS dim_b
        FROM orders
    ),
    z AS (
        SELECT dim_a, dim_b,
               {zorder_sql("dim_a", "dim_b")} AS zval
        FROM dims
    )
    SELECT CAST(zval >> 10 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(zval) AS BIGINT) AS min_z,
           CAST(MAX(zval) AS BIGINT) AS max_z,
           CAST(MIN(dim_a) AS BIGINT) AS min_a,
           CAST(MAX(dim_a) AS BIGINT) AS max_a,
           CAST(MIN(dim_b) AS BIGINT) AS min_b,
           CAST(MAX(dim_b) AS BIGINT) AS max_b
    FROM z
    GROUP BY z_bucket
    """,
)
def x124_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-interleave (custkey mod 256, day-of-year mod 256) and
    aggregate per 1024-value z-bucket: each bucket covers one 32×32
    curve cell, so min/max stay ≤ 32 wide on BOTH dimensions at once —
    the property file-level stats pruning relies on, verified
    bit-exactly against DuckDB's identical spreading schedule."""
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        (F.col("o_custkey") % 256).alias("dim_a"),
        (F.dayofyear("o_orderdate") % 256).alias("dim_b"),
    )
    z = dims.select(
        "dim_a", "dim_b", zorder_column("dim_a", "dim_b").alias("zval")
    )
    return z.groupBy(
        F.shiftright("zval", 10).cast("bigint").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zval").cast("bigint").alias("min_z"),
        F.max("zval").cast("bigint").alias("max_z"),
        F.min("dim_a").cast("bigint").alias("min_a"),
        F.max("dim_a").cast("bigint").alias("max_a"),
        F.min("dim_b").cast("bigint").alias("min_b"),
        F.max("dim_b").cast("bigint").alias("max_b"),
    )
