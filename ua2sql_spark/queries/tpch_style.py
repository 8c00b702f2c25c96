"""Deep multi-join analytics (TPC-H Q3/Q5 shapes) + scale patterns
(salted aggregation) + JSON construction.

These are the plans whose shape decides 100 TB viability: multi-way
fact/dim joins must broadcast every dim and shuffle the fact at most
once per fact-fact join; the salted aggregation shows the skew-
mitigation pattern producing provably identical results (exact decimal
partials commute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.queries.common import dsum, sql_dsum
from ua2sql_spark.registry import query


# ---------------------------------------------------------------------------
# Q5-style: revenue by supplier nation within one region, date-bounded.
# lineitem ⋈ orders (fact-fact, one shuffle) ⋈ supplier ⋈ nation ⋈ region
# (all broadcast).
# ---------------------------------------------------------------------------
@query(
    "q64_regional_revenue",
    oracle=f"""
    SELECT n_name AS nation_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q64_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q3-style shipping priority: top-10 unshipped orders by revenue for one
# segment. Revenue is decimal-exact, so the global top-k ordering is
# bit-identical across engines (ties broken on l_orderkey).
# ---------------------------------------------------------------------------
@query(
    "q65_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q65_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Skew pattern: salted two-phase aggregation. Phase 1 aggregates by
# (key, salt) — spreading a hot key over N reducers — phase 2 merges the
# partials. Exact decimal partials commute, so the result is provably
# identical to the direct aggregation (which is what the oracle runs).
# ---------------------------------------------------------------------------
N_SALTS = 8


@query(
    "q66_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           {sql_dsum('l_quantity')} AS total_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q66_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.salt import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={"total_qty": ("sum", "l_quantity"), "n_lines": ("count", F.lit(1))},
        salt_from="l_orderkey",
        n_salts=N_SALTS,
    )


# ---------------------------------------------------------------------------
# Skew pattern #2: Zipfian JOIN (the shape AQE skew-split exists for).
# A derived key sends ~70% of events to ONE customer, then the fact
# joins the customer table — the canonical hot-entity enrichment (one
# viral user / one null-ish default key owning most of the fact rows).
# The join is pinned sort-merge (`hint("merge")`): at 100 TB both sides
# of this shape exceed any broadcast threshold, so the archetype must
# carry the SMJ cost and rely on AQE's OptimizeSkewedJoin to split the
# hot partition at runtime. Both SMJ children are plain shuffle stages
# (scan → exchange → sort) — the pattern OptimizeSkewedJoin matches;
# an aggregate between shuffle and join would defeat it.
# tests/test_skew.py proves the split engages; session.py enables
# skewJoin everywhere. Semantics are AQE-agnostic, so the DuckDB
# oracle is a plain join.
# ---------------------------------------------------------------------------
@query(
    "x122_skew_join_zipf",
    oracle=f"""
    WITH fact AS (
        SELECT event_type, value,
               CASE WHEN user_id % 10 < 7 THEN 1 ELSE user_id + 1 END AS skew_key
        FROM events
    )
    SELECT f.event_type, c.c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum('f.value')} AS total_value
    FROM fact f JOIN customer c ON f.skew_key = c.c_custkey
    GROUP BY f.event_type, c.c_mktsegment
    """,
)
def x122_skew_join_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.queries.common import dsum

    e = load_table(spark, sf_dir, "events")
    fact = e.select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 10 < 7, F.lit(1).cast("long"))
        .otherwise(F.col("user_id") + 1)
        .alias("skew_key"),
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = fact.hint("merge").join(dim, fact.skew_key == dim.c_custkey)
    # No distinct-agg on skew_key here: keeping the join key out of the
    # downstream grouping keys means the final aggregate needs its own
    # exchange REGARDLESS of the join's output partitioning, so AQE's
    # skew split costs no extra shuffle and engages without
    # forceOptimizeSkewedJoin.
    return joined.groupBy("event_type", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# F2: JSON construction — to_json over a struct (the inverse of the
# JSONB-island reads). ignoreNullFields=false matches DuckDB's explicit
# nulls.
# ---------------------------------------------------------------------------
@query(
    "q67_to_json",
    oracle="""
    SELECT o_orderkey,
           to_json(struct_pack(
               orderkey := o_orderkey,
               status := o_orderstatus,
               priority := o_orderpriority
           )) AS payload
    FROM orders WHERE o_orderkey % 97 = 0
    """,
)
def q67_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    payload = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        ),
        {"ignoreNullFields": "false"},
    )
    return o.select("o_orderkey", payload.alias("payload"))


# ---------------------------------------------------------------------------
# Q10-style returned-item reporting: revenue lost to returns per
# customer+nation, top 20. customer⋈orders⋈lineitem shuffles on the
# fact keys; nation broadcasts.
# ---------------------------------------------------------------------------
@query(
    "q78_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS lost_revenue,
           COUNT(*) AS n_returned_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q78_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q7-style volume shipping: trade volume between two nations by year and
# direction. Two independent nation lookups on opposite sides of the
# same fact row — both broadcast; the only shuffles are the fact-fact
# joins and the final group.
# ---------------------------------------------------------------------------
@query(
    "q79_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum('volume')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q79_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q18-style large-volume customers: orders whose total quantity exceeds
# a threshold, joined back to their customers. The HAVING-filtered
# aggregate is tiny, so it broadcasts into the enrichment joins —
# aggregate-then-join beats join-then-aggregate at 100 TB.
# ---------------------------------------------------------------------------
_Q18_QTY = 95


@query(
    "q80_large_volume_customers",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(28,8))) > {_Q18_QTY}
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q80_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,8)")).alias("__q"))
        .filter(F.col("__q") > _Q18_QTY)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# Q21-style suppliers-who-kept-waiting: the hardest decorrelation
# archetype — an EXISTS and a NOT EXISTS over the same fact table, both
# correlated on the order key with a supplier-inequality side condition.
# (The fixtures carry no l_commitdate/l_receiptdate, so "late" is a
# ship-lag predicate: shipped > 90 days after the order date.)
#
# Physical shape: both the semi and the anti side are *equi*-joins on
# l_orderkey (the inequality on l_suppkey rides along as a join-side
# filter), so the plan is three hash/sort-merge joins sharing one
# shuffle key — at 100 TB all three can reuse a single orderkey
# repartition; nothing is nested-loop.
# ---------------------------------------------------------------------------
_LATE = "INTERVAL 90 DAYS"


@query(
    "q86_supplier_wait",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q86_supplier_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr(_LATE))
        .select("l_orderkey", "l_suppkey")
    )
    # EXISTS: some *other* supplier has any line on the same order.
    l2 = li.select(
        F.col("l_orderkey").alias("__ok2"), F.col("l_suppkey").alias("__sk2")
    )
    cand = late.join(
        l2,
        (late.l_orderkey == F.col("__ok2")) & (late.l_suppkey != F.col("__sk2")),
        "left_semi",
    )
    # NOT EXISTS: no *other* supplier was also late on that order — the
    # anti side is the late set itself, reused (one scan, one shuffle).
    l3 = late.select(
        F.col("l_orderkey").alias("__ok3"), F.col("l_suppkey").alias("__sk3")
    )
    sole = cand.join(
        l3,
        (cand.l_orderkey == F.col("__ok3")) & (cand.l_suppkey != F.col("__sk3")),
        "left_anti",
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    return (
        sole.join(s, sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q2-style minimum-cost supplier: for each part, the supplier(s) whose
# best observed price equals the part's global minimum. The fixtures
# have no partsupp table, so the part↔supplier cost relation is derived
# from lineitem (MIN(l_extendedprice) per (part, supplier)).
#
# Physical shape — aggregate-then-join, never correlate per row: the
# derived cost relation is |parts×suppliers-observed| (orders of
# magnitude smaller than lineitem), the per-part minimum another
# aggregation of *that*, and the final equality join runs on the two
# small aggregates. MIN is order-insensitive, so doubles are safe here
# without the decimal interior; the min-cost equality compares two
# copies of the identical 64-bit value in both engines.
# ---------------------------------------------------------------------------
@query(
    "q87_min_cost_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p_partkey, p_name, s_name, n_name, cost AS min_cost
    FROM ps
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_partkey % 10 = 0
      AND cost = (SELECT MIN(ps2.cost) FROM ps ps2
                  WHERE ps2.l_partkey = ps.l_partkey)
    ORDER BY p_partkey, s_name
    """,
)
def q87_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = ps.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("cost").alias("__min_cost")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    )
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        ps.join(
            best,
            (ps.l_partkey == F.col("__pk")) & (ps.cost == F.col("__min_cost")),
        )
        .join(p, ps.l_partkey == p.p_partkey)
        .join(s, ps.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("cost").alias("min_cost"),
        )
        .orderBy("p_partkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q14-style promo revenue share: what fraction of monthly revenue comes
# from PROMO parts. Conditional aggregation over a fact⋈dim join — the
# dim broadcasts, the fact aggregates map-side-partially, and the ratio
# is one double division of two exact decimal sums (deterministic).
# Reference parity note: the reference engine has no join operator at
# all (ua2sql.py is pure ingest), so all TPC-H shapes here are [EXT]
# analytics demonstrating the Spark plan the inventory requires.
# ---------------------------------------------------------------------------
@query(
    "q92_promo_revenue",
    oracle=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS promo_ratio,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY ship_month
    """,
)
def q92_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            (dsum(promo) / dsum(rev)).alias("promo_ratio"),
            dsum(rev).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# Q19-style disjunctive predicate over a join: revenue from three
# brand/size/quantity bands OR-ed together. The archetype exercises
# CNF conversion — Catalyst extracts the common `p_partkey = l_partkey`
# conjunct and pushes per-side disjuncts (p_brand/p_size bands to the
# part scan, l_quantity bands to the lineitem scan) below the join, so
# the scan prunes rows no band can match before the broadcast probe.
# ---------------------------------------------------------------------------
@query(
    "q93_disjunctive_bands",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#33' AND p_size BETWEEN 25 AND 50
           AND l_quantity BETWEEN 25 AND 50)
    """,
)
def q93_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = F.broadcast(load_table(spark, sf_dir, "part"))
    band = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#33")
            & F.col("p_size").between(25, 50)
            & F.col("l_quantity").between(25, 50)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# ---------------------------------------------------------------------------
# Q4-style priority check: orders per priority class that had at least
# one line shipped after the order date (EXISTS with a non-equi
# correlated conjunct). Decorrelates to a LEFT SEMI join on the order
# key with the `l_shipdate > o_orderdate` residual — one shuffle on the
# shared key, no per-row subquery.
# ---------------------------------------------------------------------------
@query(
    "q94_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q94_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q8-style market share: per order-year, the share of ASIA-region
# revenue supplied by NATION_5. Two independent nation lookups (customer
# side restricts the region, supplier side labels the share) on one fact
# row — all dims broadcast, the single fact-fact shuffle is
# lineitem⋈orders, and the share is a ratio of exact decimal sums.
# ---------------------------------------------------------------------------
@query(
    "q95_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           {sql_dsum("CASE WHEN ns.n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
             / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS nation5_share,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS region_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region   ON nc.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY 1
    ORDER BY order_year
    """,
)
def q95_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    nc = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nc_nationkey"),
            F.col("n_regionkey").alias("nc_regionkey"),
        )
    )
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    ns = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("ns_nationkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n5 = F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0.0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(nc, c.c_nationkey == F.col("nc_nationkey"))
        .join(r, F.col("nc_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(ns, s.s_nationkey == F.col("ns_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            (dsum(n5) / dsum(rev)).alias("nation5_share"),
            dsum(rev).alias("region_revenue"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Q22-style "global sales opportunity": wealthy customers (account
# balance above the positive-balance average) with no RECENT orders
# (this corpus gives nearly every customer some historical order, so
# the classic never-ordered cut is empty — recency keeps the archetype
# and yields rows at every SF), grouped by nation. The two classic
# decorrelations in one plan: the scalar subquery (global average)
# becomes a broadcast one-row cross join, and NOT EXISTS(orders since
# the cutoff) becomes a left-anti hash join over the date-filtered
# orders — no per-row subquery execution anywhere, and the anti-join
# build side shrinks with the date filter pushed to the orders scan.
# nation broadcasts; the threshold is the exact-decimal mean so both
# engines cut identically.
# ---------------------------------------------------------------------------
@query(
    "q126_sales_opportunity",
    oracle=f"""
    WITH thr AS (
        SELECT {sql_dsum('c_acctbal')} / COUNT(c_acctbal) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name AS nation_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    CROSS JOIN thr
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    ORDER BY nation_name
    """,
)
def q126_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    thr = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal") / F.count("c_acctbal")).alias("avg_bal")
    )
    rich = (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
    )
    return (
        rich.join(F.broadcast(n), rich.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("nation_name")
    )


# ---------------------------------------------------------------------------
# q135: semi-join reduction via RUNTIME BLOOM FILTER — the archetype
# Spark's InjectRuntimeFilter optimization targets: a fact scan joined
# to a highly selective filtered side (urgent orders in one quarter,
# ~1% of the orders table). At production scale the optimizer builds a
# bloom filter over the filtered o_orderkey set and pushes
# `bloom_filter_might_contain` into the lineitem scan, discarding
# ~99% of fact rows BEFORE the shuffle — the shuffle write shrinks by
# the creation side's selectivity, which at 100 TB is the difference
# between shuffling 100 TB and shuffling 1 TB. The default thresholds
# (creation side ≤ 10 MB post-filter, application scan ≥ 10 GB) are
# tuned for exactly this cluster-scale shape, so injection does not
# fire at local test scale; tests/test_plans.py::
# test_bloom_runtime_filter_injects lowers the thresholds and pins the
# might_contain filter in this query's physical plan. The query result
# is injection-invariant (the bloom filter is a pure pre-filter —
# false positives still hit the exact join), which is what makes the
# plan feature safe to rely on.
# ---------------------------------------------------------------------------
@query(
    "q135_bloom_semijoin_reduction",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_returnflag
    """,
)
def q135_bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# x176: triangle counting over the co-purchase graph — the graph-
# structure counterpart of x165's pair mining (A-priori level 2) and
# x138's PageRank (iterative dataflow): triangles/transitivity are the
# standard cohesion measures behind community detection and
# recommendation neighborhoods ("items bought together in threes").
#
# Graph: nodes = parts, an edge where two parts share an order. The
# per-order pair expansion is bounded by order width (≤ C(13,2) pairs
# per order in this corpus — fan-in capped by construction, unlike a
# naive per-gram explode).
#
# Scale shape — the classic m^1.5 degree-orientation bound: every edge
# is DIRECTED from its (degree, id)-smaller endpoint to the larger, so
# a node's out-degree is O(sqrt(m)) regardless of how skewed the raw
# degree distribution is (a hub of degree d keeps only edges to
# HIGHER-ordered nodes). Wedges are then one self-join of the directed
# edge list on source (sum C(outdeg,2) = O(m^1.5) rows, never
# degree², never all-pairs), and each triangle is counted exactly once
# — no /3 or /6 correction, no duplicate enumeration. The degree table
# is |nodes|-bounded and broadcast onto the edge list. Everything is
# exact integers; transitivity is one double division rounded at 6dp.
# ---------------------------------------------------------------------------
def _x176_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x176's co-purchase edge list (u < v, distinct) — shared with
    tests/test_plans.py's partition-pin test so the pin can never
    silently drift from what the query runs."""
    li = load_table(spark, sf_dir, "lineitem", rebalance=True)
    # Per-order pair expansion WITHOUT the lp self-join (r14, the x172
    # set-pair reshape): one groupBy(orderkey).collect_set exchange —
    # collect_set dedups map- and reduce-side, so the old (ok, pk)
    # pre-distinct is free — then sorted-array slice expansion emits
    # exactly the u < v pairs the join produced (order width ≤ 13 parts
    # bounds the per-row explode at C(13,2)); the per-(u, v) distinct is
    # unchanged. Saves the distinct exchange on (ok, pk) plus the join's
    # two exchanges: (ok, pk) rows now cross the wire once, not three
    # times.
    parts = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("__p")
    )
    p = F.col("__p")
    raw_pairs = parts.select(F.posexplode(p).alias("__i", "u"), p).select(
        "u",
        F.explode(
            F.slice(p, F.col("__i") + F.lit(2), F.size(p))
        ).alias("v"),
    )
    # MEASURED AND REJECTED (r15, the third x176 parallelism rejection
    # after r14's AQE-floor and de-spread ones): pinning the distinct's
    # exchange at core count — repartition(cores, u, v) replacing the
    # distinct's own exchange (REPARTITION_BY_NUM, AQE-coalesce-exempt),
    # applied only to the small local layouts the scan rebalance fires
    # on — spread every checkpoint-captured frame 10 → 32 partitions,
    # but ran 1.47x WORSE (interleaved 7-round A/B at sf0.1, median
    # 3.67 → 5.38 s): 3x the tasks across triangle_stats' many
    # checkpoint-materialized stages cost more in fixed task latency
    # than the intersect's extra parallelism buys at this scale. The
    # AQE-coalesced distinct stands.
    return raw_pairs.distinct()


@query(
    "x176_copurchase_triangles",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
        SELECT DISTINCT a.pk AS u, b.pk AS v
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS (
        SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ),
    de AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dd
        FROM e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    w AS (
        SELECT e1.dst AS b, e2.dst AS c
        FROM de e1 JOIN de e2
          ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM w SEMI JOIN de e3 ON e3.src = w.b AND e3.dst = w.c
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT tot.n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           tot.n_wedges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           ROUND(3.0 * tri.n_triangles / tot.n_wedges, 6) AS transitivity
    FROM tot, tri
    """,
)
def x176_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.graph import triangle_stats

    edges = _x176_edges(spark, sf_dir)
    # operators/graph.py owns the orientation/wedge plan (materialized-
    # once edge list + degree broadcast) and is property-tested against
    # brute force — the query only derives edges and adds transitivity
    return triangle_stats(edges).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
            "transitivity"
        ),
    )


# ---------------------------------------------------------------------------
# x184: RFM customer segmentation — the canonical product-analytics
# feature build (recency / frequency / monetary quintile scores →
# named segments). Deliberately NOT q118's NTILE: a global NTILE is a
# single-partition sort of every customer, the one window shape SCALE.md
# §1 forbids at 100 TB. Instead the quintile CUTOFFS come from one
# bounded percentile aggregate (the mergeable-sketch path at scale,
# exact here for the oracle) broadcast back, and score assignment is
# four map-side comparisons per feature — scan-shaped end to end.
# Quantile-bucket scoring differs from NTILE only at tied boundary
# values, where it is the better-defined choice (equal inputs get
# equal scores; NTILE splits them by arbitrary rank).
#
# Recency anchors to the corpus max order date (broadcast 1-row agg),
# so the query is reproducible rather than wall-clock-dependent; dates
# are compared as DATE in both engines.
# ---------------------------------------------------------------------------
_RFM_Q = [0.2, 0.4, 0.6, 0.8]


def _rfm_score_sql(v: str, cuts: str) -> str:
    return " + ".join(["1"] + [f"CASE WHEN {v} > {cuts}[{i + 1}] THEN 1 ELSE 0 END"
                               for i in range(4)])


@query(
    "x184_rfm_segmentation",
    oracle=f"""
    WITH anchor AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS max_d FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               date_diff('day', MAX(CAST(o_orderdate AS DATE)), anchor.max_d)
                   AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_dsum('o_totalprice')} AS monetary
        FROM orders, anchor
        GROUP BY o_custkey, anchor.max_d
    ),
    cuts AS (
        SELECT quantile_cont(recency_days, {_RFM_Q}) AS rc,
               quantile_cont(n_orders, {_RFM_Q}) AS fc,
               quantile_cont(monetary, {_RFM_Q}) AS mc
        FROM cust
    ),
    scored AS (
        SELECT o_custkey,
               -- recency: SMALLER is better, so invert the bucket
               6 - ({_rfm_score_sql('recency_days', 'cuts.rc')}) AS r,
               {_rfm_score_sql('n_orders', 'cuts.fc')} AS f,
               {_rfm_score_sql('monetary', 'cuts.mc')} AS m,
               recency_days, n_orders, monetary
        FROM cust, cuts
    ),
    seg AS (
        SELECT *,
               CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
                    WHEN f >= 4 THEN 'loyal'
                    WHEN m >= 4 THEN 'big_spender'
                    WHEN r <= 2 AND f >= 3 THEN 'at_risk'
                    WHEN r <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS segment
        FROM scored
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(recency_days) AS DOUBLE) / COUNT(*), 4)
               AS avg_recency_days,
           ROUND(CAST(SUM(n_orders) AS DOUBLE) / COUNT(*), 4) AS avg_orders,
           {sql_dsum('monetary')} AS total_monetary
    FROM seg GROUP BY segment ORDER BY segment
    """,
)
def x184_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    od = F.col("o_orderdate").cast("date")
    # ONE orders scan total (VERDICT r6 "what's wrong" #1): fold the
    # anchor max into the per-customer aggregate (max over per-key
    # maxes), and localCheckpoint the aggregate so the quantile-cuts
    # pass and the scoring pass both reuse it instead of re-scanning.
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(od).alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            dsum("o_totalprice").alias("monetary"),
        )
        .localCheckpoint(eager=False)
    )
    anchor = per.agg(F.max("last_d").alias("max_d"))
    cust = per.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff(F.col("max_d"), F.col("last_d")).alias("recency_days"),
        "n_orders",
        "monetary",
    )
    cuts = cust.agg(
        F.percentile(F.col("recency_days"), F.array(*[F.lit(q) for q in _RFM_Q])).alias("rc"),
        F.percentile(F.col("n_orders"), F.array(*[F.lit(q) for q in _RFM_Q])).alias("fc"),
        F.percentile(F.col("monetary"), F.array(*[F.lit(q) for q in _RFM_Q])).alias("mc"),
    )

    def score(v, cuts_col):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(F.col(v) > F.col(cuts_col)[i], 1).otherwise(0)
        return s

    scored = cust.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        (F.lit(6) - score("recency_days", "rc")).alias("r"),
        score("n_orders", "fc").alias("f"),
        score("monetary", "mc").alias("m"),
    )
    seg = scored.withColumn(
        "segment",
        F.when((F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4), "champion")
        .when(F.col("f") >= 4, "loyal")
        .when(F.col("m") >= 4, "big_spender")
        .when((F.col("r") <= 2) & (F.col("f") >= 3), "at_risk")
        .when(F.col("r") <= 2, "hibernating")
        .otherwise("regular"),
    )
    return (
        seg.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("recency_days").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_recency_days"
            ),
            F.round(F.sum("n_orders").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_orders"
            ),
            dsum("monetary").alias("total_monetary"),
        )
        .orderBy("segment")
    )
