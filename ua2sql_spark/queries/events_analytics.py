"""Event analytics: SURVEY.md §2.3 J7/J8 and §2.11 X7.

As-of join, range join, sessionization, funnel and retention over the
``events`` table — the analytics the reference's landed event feeds
(appStart/custom/transaction, ua2sql.py:46-86) exist to enable.

Scale notes
-----------
* The as-of join avoids any non-equi join entirely: union both sides and
  run one ``last(..., ignorenulls)`` window pass — a single shuffle by
  (user), linear in input, the idiomatic distributed as-of.
* The range join pre-filters on an equi key (user_id) so Spark executes
  hash join + residual range predicate, never a nested-loop over the
  full cross product.
* Sessionization is the lag-gap-cumsum composition — two window passes,
  no state, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ua2sql_spark.catalog import load_table
from ua2sql_spark.queries.common import dsum, sql_dsum
from ua2sql_spark.registry import query


# ---------------------------------------------------------------------------
# J8: as-of join — for every purchase, the nearest prior (or same-instant)
# signup ts of the same user. Implemented as union + last(ignorenulls)
# window: tag sides, order by (ts, side), carry the last signup forward.
# The reference's checkpoint lookup (ua2sql.py:165-176) is the degenerate
# single-key case. Oracle uses DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------
@query(
    "q35_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts, s.ts AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q35_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    probe = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    ref = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("ts").alias("signup")
    )
    return asof_join(
        probe, ref, on="user_id", probe_ts="ts", ref_ts="ts", value_cols=["signup"]
    ).select(
        "purchase_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("signup_asof").alias("signup_ts"),
    )


# ---------------------------------------------------------------------------
# J7: range join — pairs of events of the same user within a 10-minute
# forward window. Equi key (user_id) drives the hash join; the range
# condition is a residual filter.
# ---------------------------------------------------------------------------
@query(
    "q36_range_join",
    oracle="""
    SELECT a.user_id,
           COUNT(*) AS pair_count,
           CAST(MAX(EPOCH_US(b.ts) - EPOCH_US(a.ts)) AS BIGINT) AS max_gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    GROUP BY a.user_id
    """,
)
def q36_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    a = e.select(F.col("user_id"), F.col("ts").alias("a_ts"))
    b = e.select(F.col("user_id").alias("b_user_id"), F.col("ts").alias("b_ts"))
    joined = a.join(
        b,
        (a.user_id == b.b_user_id)
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("pair_count"),
        F.max(F.unix_micros(F.col("b_ts")) - F.unix_micros(F.col("a_ts"))).alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# X7a: sessionization — 30-minute inactivity gap sessions via
# lag → gap flag → running sum (two window passes, no state).
# ---------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000

_SESSIONIZE_SQL = f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           {sql_dsum('value')} AS session_value
    FROM numbered
    GROUP BY user_id, session_no
"""


@query("q37_sessionize", oracle=_SESSIONIZE_SQL)
def q37_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ua2sql_spark.operators.sessionize import sessionize

    e = load_table(spark, sf_dir, "events")
    numbered = sessionize(
        e, key_col="user_id", ts_col="ts", order_tiebreak="event_id",
        gap_seconds=SESSION_GAP_US // 1_000_000,
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("session_value"),
    )


# ---------------------------------------------------------------------------
# X7b: funnel — per user, ordered progression view → click → purchase
# (each stage's first ts must follow the previous stage's). One
# aggregation pass: min-ts per stage, then ordering checks.
# ---------------------------------------------------------------------------
@query(
    "q38_funnel",
    oracle="""
    WITH stage_ts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT
        COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
            AS stage_click,
        CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
                 THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
    FROM stage_ts
    """,
)
def q38_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    stage = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") > F.col("t_view"))
    reached_purchase = reached_click & (F.col("t_purchase") > F.col("t_click"))
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(reached_view.cast("int")).cast("long").alias("stage_view"),
        F.sum(reached_click.cast("int")).cast("long").alias("stage_click"),
        F.sum(reached_purchase.cast("int")).cast("long").alias("stage_purchase"),
    )


# ---------------------------------------------------------------------------
# X7c: N-day retention — of users first seen on day D, how many returned
# on D+1..D+7. One aggregation per user (first-seen day plus the set of
# active days) answers both, so the plan is two shuffles and no join. A
# first-seen ⋈ activity self-join left the join strategy to AQE at run
# time, and its choice (with the generated classes) varied between runs
# of the same query.
# ---------------------------------------------------------------------------
@query(
    "q39_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(MIN(DATE_TRUNC('day', ts)) AS TIMESTAMP) AS d0
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS d
        FROM events
    )
    SELECT f.d0 AS cohort_day,
           COUNT(DISTINCT f.user_id) AS cohort_size,
           COUNT(DISTINCT CASE WHEN a.d > f.d0 AND a.d <= f.d0 + INTERVAL 7 DAY
                               THEN a.user_id END) AS retained_7d
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.d0
    """,
)
def q39_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a NULL user_id never matched the oracle's join, so it joins no cohort
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", F.col("ts"))
    users = e.groupBy("user_id").agg(
        F.min(day).alias("d0"), F.collect_set(day).alias("days")
    )
    returned = F.exists(
        "days",
        lambda d: (d > F.col("d0")) & (d <= F.col("d0") + F.expr("INTERVAL 7 DAYS")),
    )
    return users.groupBy(F.col("d0").alias("cohort_day")).agg(
        F.count(F.lit(1)).alias("cohort_size"),
        F.count(F.when(returned, True)).alias("retained_7d"),
    )


# ---------------------------------------------------------------------------
# X7d: event-time tumbling window aggregation (the batch shape of
# SURVEY §2.9 T8; the streaming variant lives in ua2sql_spark.streaming).
# ---------------------------------------------------------------------------
@query(
    "q40_tumbling_window",
    oracle=f"""
    SELECT CAST(TIME_BUCKET(INTERVAL 6 HOUR, ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q40_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# T8 batch, sliding variant: 6-hour windows sliding every 3 hours —
# every event lands in exactly 2 windows. The oracle materializes the
# same window set by unnesting the two candidate starts per event
# (window semantics: start ≡ 0 mod slide, start ≤ ts < start + width).
# ---------------------------------------------------------------------------
@query(
    "q82_sliding_window",
    oracle=f"""
    WITH cand AS (
        SELECT event_type, value,
               EPOCH(ts) AS t,
               unnest([
                   CAST(FLOOR(EPOCH(ts) / 10800) AS BIGINT) * 10800 - 10800,
                   CAST(FLOOR(EPOCH(ts) / 10800) AS BIGINT) * 10800
               ]) AS win_start_s
        FROM events
    )
    SELECT CAST(to_timestamp(win_start_s) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM cand
    WHERE t < win_start_s + 21600 AND t >= win_start_s
    GROUP BY 1, 2
    """,
)
def q82_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# q144: time-series gap fill + forward fill — the resampling operator
# every metrics/feature pipeline needs: project irregular events onto a
# regular (user × day) grid, then carry the last observation forward
# across silent days (LOCF). The grid is generated, not scanned:
# sequence() over the corpus's [min_day, max_day] span (a 1-row
# broadcast, the x138 teleport-denominator shape) crossed with the
# distinct-user list, so grid size is |users| × |days| regardless of
# event count. The forward fill is one window (last ignorenulls over
# an unbounded-preceding frame) — at 100 TB this partitions by the
# entity key, the same key the daily aggregate already shuffled on, so
# AQE reuses the partitioning and the fill adds NO extra exchange.
# Days before a user's first activity stay NULL (is_observed marks
# real vs carried rows); daily sums run the exact-decimal interior.
# ---------------------------------------------------------------------------
@query(
    "q144_gap_fill_locf",
    oracle=f"""
    WITH span AS (
        SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        FROM events
    ),
    grid AS (
        SELECT u.user_id, CAST(g.day AS DATE) AS day
        FROM (SELECT DISTINCT user_id FROM events) u
        CROSS JOIN (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM span
        ) g
    ),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               {sql_dsum('value')} AS day_sum
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    )
    SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day,
           d.day_sum IS NOT NULL AS is_observed,
           last_value(d.day_sum IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_sum
    FROM grid g LEFT JOIN daily d
      ON d.user_id = g.user_id AND d.day = g.day
    """,
)
def q144_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    users = e.select("user_id").distinct()
    grid = (
        users.crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dsum("value").alias("day_sum")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            # timestamp, not date: the comparison contract normalizes
            # datetime64 on both sides; date objects don't roundtrip.
            F.col("day").cast("timestamp").alias("day"),
            F.col("day_sum").isNotNull().alias("is_observed"),
            F.last("day_sum", ignorenulls=True).over(w).alias("filled_sum"),
        )
    )


# ---------------------------------------------------------------------------
# E8: 7-day sliding distinct active users (the WAU curve) — the rolling
# count-distinct archetype window frames cannot express (no DISTINCT
# inside a frame). The scalable shape is the COVERAGE EXPLODE: each
# (user, active-day) pair contributes to the 7 window-ends it is
# visible in (a map-side x7 fan-out of the already-deduped activity
# table, NOT the raw events), then one partial-aggregated
# count-distinct per window end. A range SELF-JOIN of days x activity
# — the naive phrasing — would shuffle the activity table once per
# probe day; the explode touches each activity row exactly 7 times and
# shuffles once.
# ---------------------------------------------------------------------------


@query(
    "q159_sliding_active_users",
    oracle="""
    WITH au AS (
        SELECT DISTINCT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, user_id
        FROM events
    ),
    cover AS (
        SELECT d + CAST(i AS INTEGER) AS w_end, user_id
        FROM au, unnest(range(0, 7)) AS t(i)
    )
    SELECT CAST(w_end AS TIMESTAMP) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users_7d
    FROM cover
    GROUP BY w_end
    """,
)
def q159_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    au = ev.select(F.to_date(F.col("ts")).alias("d"), "user_id").distinct()
    cover = au.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias(
            "w_end"
        ),
        "user_id",
    )
    return cover.groupBy("w_end").agg(
        F.count_distinct("user_id").alias("active_users_7d")
    ).select(
        F.col("w_end").cast("timestamp").alias("window_end"),
        "active_users_7d",
    )


# ---------------------------------------------------------------------------
# E9: behavior co-occurrence mining — the market-basket first pass
# (A-priori level-2): for every pair of event types, how many users did
# BOTH, with support and lift. Lift >> 1 flags coupled behaviors
# (error→churn, view→purchase); the pair table is the input to any
# association-rule cut.
#
# Scale shape: the corpus collapses to DISTINCT (user, type) first —
# bounded by |users| x |types|, with |types| small by construction —
# then a self-equi-join on user expands at most |types|^2 pairs per
# user (never a cross of users), and one |types|^2-row aggregate
# finishes. Supports join back via a broadcast of the |types|-row
# margin table. Lift is an exact integer ratio rounded at 6dp.
# ---------------------------------------------------------------------------


@query(
    "x165_event_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    margin AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ut GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_both,
           ROUND(CAST(n_both AS DOUBLE) / n.n_users, 6) AS support,
           ROUND(CAST(n_both * n.n_users AS DOUBLE) / (ma.c * mb.c), 6) AS lift
    FROM pairs
    JOIN margin ma ON ma.event_type = pairs.type_a
    JOIN margin mb ON mb.event_type = pairs.type_b, n
    ORDER BY type_a, type_b
    """,
)
def x165_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # materialized once: margin + both self-join sides reuse the
    # deduped activity (the x138 discipline — else 3 corpus scans)
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    n = ut.agg(F.count_distinct("user_id").alias("n_users"))
    margin = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        ut.alias("a")
        .join(
            ut.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = F.broadcast(margin.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca")))
    mb = F.broadcast(margin.select(F.col("event_type").alias("type_b"), F.col("c").alias("cb")))
    return (
        pairs.join(ma, "type_a")
        .join(mb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n_users"), 6).alias(
                "support"
            ),
            F.round(
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# E10: sequential path mining — the top event-type TRIGRAMS users
# actually walk (view>click>purchase ...), the level-3 sequence table
# behind "what path leads to conversion" analyses. Funnels (q38) test a
# HYPOTHESIZED order; this mines the orders that exist.
#
# Scale shape: one window per user (partition-local sort inside the
# user's own rows — the same shuffle any per-user analytic pays),
# map-side trigram assembly, one |distinct trigram|-bounded aggregate
# (|types|^3 ceiling), TakeOrderedAndProject top-k. Ordering ties on ts
# are broken by event_id so both engines walk identical sequences.
# ---------------------------------------------------------------------------
_PATH_TOPK = 15


@query(
    "x166_event_path_trigrams",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS t2,
               LEAD(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT {_PATH_TOPK}
    """,
)
def x166_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(_PATH_TOPK)
    )


# ---------------------------------------------------------------------------
# E11: distribution drift (PSI) — the population stability index
# between two cohorts of a numeric metric, THE model/data-monitoring
# number ("has `value` drifted between pipeline runs?"). Cohorts here
# are the deterministic even/odd event_id halves (stand-ins for
# run N vs run N+1); bins are 10 equi-width over the GLOBAL range so
# both cohorts share edges. PSI = sum over bins of (p-q)*ln(p/q);
# bins empty on either side are excluded from the sum and REPORTED
# (n_onesided) rather than epsilon-fudged, keeping the statistic
# exact and cross-engine stable.
#
# Scale shape: global min/max is one tiny broadcast aggregate; binning
# is map-only; the PSI fold runs on <=10 rows. One corpus-sized
# shuffle total (the bin aggregate).
# ---------------------------------------------------------------------------
_PSI_BINS = 10


@query(
    "x167_value_drift_psi",
    oracle=f"""
    WITH rng AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
    ),
    binned AS (
        SELECT LEAST({_PSI_BINS - 1},
                     CAST(FLOOR((value - rng.lo) / (rng.hi - rng.lo)
                                * {_PSI_BINS}) AS BIGINT)) AS bin,
               event_id % 2 AS cohort
        FROM events, rng
    ),
    cells AS (
        SELECT bin,
               CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
        FROM cells
    ),
    terms AS (
        SELECT bin, ca, cb,
               CASE WHEN ca > 0 AND cb > 0 THEN
                   ROUND((CAST(ca AS DOUBLE) / tot.na
                          - CAST(cb AS DOUBLE) / tot.nb)
                         * ROUND(LN((CAST(ca AS DOUBLE) * tot.nb)
                                    / (CAST(cb AS DOUBLE) * tot.na)), 6), 10)
               END AS term
        FROM cells, tot
    )
    SELECT CAST(SUM(CAST(term AS DECIMAL(28, 12))) AS DOUBLE) AS psi,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(CASE WHEN term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_onesided
    FROM terms
    """,
)
def x167_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.lit(_PSI_BINS - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * _PSI_BINS
            ),
        ).alias("bin"),
        (F.col("event_id") % 2).alias("cohort"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("cb"),
    )
    tot = cells.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    cad, cbd = F.col("ca").cast("double"), F.col("cb").cast("double")
    term = F.when(
        (F.col("ca") > 0) & (F.col("cb") > 0),
        F.round(
            (cad / F.col("na") - cbd / F.col("nb"))
            * F.round(
                F.log((cad * F.col("nb")) / (cbd * F.col("na"))), 6
            ),
            10,
        ),
    )
    terms = cells.crossJoin(F.broadcast(tot)).select(term.alias("term"))
    return terms.agg(
        F.sum(F.col("term").cast("decimal(28,12)")).cast("double").alias("psi"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.when(F.col("term").isNull(), 1).otherwise(0)).alias("n_onesided"),
    )


# ---------------------------------------------------------------------------
# E12: growth accounting — every active (user, day) classified as
# new / retained / resurrected, plus churn attributed to the day the
# user went silent: the standard DAU decomposition (new + retained +
# resurrected = DAU, and DAU_d - DAU_{d+1} = churned_{d+1} -
# new_{d+1} - resurrected_{d+1}). Built entirely from per-user lag/lead
# windows over the DEDUPED activity table.
#
# Scale shape: one shuffle to dedupe (user, day), one per-user window
# (partition-local sort of that user's own days), then a |days|-bounded
# aggregate. No day x user self-join.
# ---------------------------------------------------------------------------


@query(
    "q168_growth_accounting",
    oracle="""
    WITH au AS (
        SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS d
        FROM events
    ),
    seq AS (
        SELECT user_id, d,
               LAG(d) OVER w AS prev_d,
               LEAD(d) OVER w AS next_d,
               MIN(d) OVER (PARTITION BY user_id) AS first_d
        FROM au
        WINDOW w AS (PARTITION BY user_id ORDER BY d)
    ),
    states AS (
        SELECT CAST(d AS TIMESTAMP) AS day,
               CASE WHEN d = first_d THEN 1 ELSE 0 END AS is_new,
               CASE WHEN prev_d = d - 1 THEN 1 ELSE 0 END AS is_retained,
               CASE WHEN prev_d IS NOT NULL AND prev_d < d - 1 THEN 1 ELSE 0 END
                   AS is_resurrected
        FROM seq
        UNION ALL
        SELECT CAST(d + 1 AS TIMESTAMP) AS day, 0, 0, 0
        FROM seq WHERE next_d IS NULL OR next_d > d + 1
    )
    SELECT day,
           CAST(SUM(is_new) AS BIGINT) AS new_users,
           CAST(SUM(is_retained) AS BIGINT) AS retained,
           CAST(SUM(is_resurrected) AS BIGINT) AS resurrected,
           CAST(SUM(CASE WHEN is_new + is_retained + is_resurrected = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS churned
    FROM states
    GROUP BY day
    """,
)
def q168_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    au = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    seq = au.select(
        "user_id",
        "d",
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
        F.min("d").over(Window.partitionBy("user_id")).alias("first_d"),
    )
    active = seq.select(
        F.col("d").cast("timestamp").alias("day"),
        F.when(F.col("d") == F.col("first_d"), 1).otherwise(0).alias("is_new"),
        F.when(F.col("prev_d") == F.date_sub("d", 1), 1)
        .otherwise(0)
        .alias("is_retained"),
        F.when(
            F.col("prev_d").isNotNull()
            & (F.col("prev_d") < F.date_sub("d", 1)),
            1,
        )
        .otherwise(0)
        .alias("is_resurrected"),
    )
    churn_marks = seq.filter(
        F.col("next_d").isNull() | (F.col("next_d") > F.date_add("d", 1))
    ).select(
        F.date_add("d", 1).cast("timestamp").alias("day"),
        F.lit(0).alias("is_new"),
        F.lit(0).alias("is_retained"),
        F.lit(0).alias("is_resurrected"),
    )
    states = active.unionByName(churn_marks)
    return states.groupBy("day").agg(
        F.sum("is_new").alias("new_users"),
        F.sum("is_retained").alias("retained"),
        F.sum("is_resurrected").alias("resurrected"),
        F.sum(
            F.when(
                F.col("is_new") + F.col("is_retained") + F.col("is_resurrected")
                == 0,
                1,
            ).otherwise(0)
        ).alias("churned"),
    )


# ---------------------------------------------------------------------------
# E13: two-sample Kolmogorov–Smirnov distance — the nonparametric
# "same distribution?" test between two cohorts (here purchase vs view
# values), complementing PSI (x167: fixed coarse bins, additive) with
# the ECDF sup-distance. Evaluated at 1000 equi-width edges: the
# distributed form — the cumulative window then runs over <=1000
# AGGREGATED rows (the x155 bounded-window discipline), never a global
# sort of raw values, and D is exact at the evaluated edges (integer
# cross-products; the only rounding is the final display division).
# ---------------------------------------------------------------------------
_KS_BINS = 1000


@query(
    "x173_ks_two_sample",
    oracle=f"""
    WITH src AS (
        SELECT value,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM src),
    cells AS (
        SELECT LEAST({_KS_BINS - 1},
                     CAST(FLOOR((value - rng.lo) / (rng.hi - rng.lo)
                                * {_KS_BINS}) AS BIGINT)) AS bin,
               CAST(SUM(is_a) AS BIGINT) AS ca,
               CAST(SUM(1 - is_a) AS BIGINT) AS cb
        FROM src, rng
        GROUP BY 1
    ),
    cum AS (
        SELECT bin,
               CAST(SUM(ca) OVER (ORDER BY bin) AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER (ORDER BY bin) AS BIGINT) AS cum_b,
               CAST(SUM(ca) OVER () AS BIGINT) AS na,
               CAST(SUM(cb) OVER () AS BIGINT) AS nb
        FROM cells
    )
    SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
           CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS BIGINT) AS d_num,
           ROUND(CAST(MAX(ABS(cum_a * nb - cum_b * na)) AS DOUBLE)
                 / (MAX(na) * MAX(nb)), 6) AS d_stat,
           CAST(MIN(CASE WHEN ABS(cum_a * nb - cum_b * na) =
                    (SELECT MAX(ABS(cum_a * nb - cum_b * na)) FROM cum)
                    THEN bin END) AS BIGINT) AS argmax_bin
    FROM cum
    """,
)
def x173_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    src = ev.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_a"),
    )
    rng = src.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    cells = (
        src.crossJoin(F.broadcast(rng))
        .groupBy(
            F.least(
                F.lit(_KS_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * _KS_BINS
                ),
            ).alias("bin")
        )
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(1 - F.col("is_a")).alias("cb"),
        )
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = cells.select(
        "bin",
        F.sum("ca").over(wc).alias("cum_a"),
        F.sum("cb").over(wc).alias("cum_b"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    diff = F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na"))
    scored = cum.select("bin", "na", "nb", diff.alias("diff")).withColumn(
        "dmax", F.max("diff").over(wall)
    )
    return scored.agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.max("diff").alias("d_num"),
        F.round(
            F.max("diff").cast("double") / (F.max("na") * F.max("nb")), 6
        ).alias("d_stat"),
        F.min(
            F.when(F.col("diff") == F.col("dmax"), F.col("bin"))
        ).alias("argmax_bin"),
    )


# ---------------------------------------------------------------------------
# E11: robust time-series anomaly detection — the monitoring primitive
# behind every ingest/quality dashboard: flag a day whose event volume
# deviates from its own trailing baseline. Median/MAD (the robust
# z-score) instead of mean/stddev, because a single spike day must not
# drag the baseline it is judged against (the classic self-masking
# failure of mean-based alerting). Distinct from x167's PSI (whole-
# distribution drift between two corpora) and x173's KS (two-sample
# ECDF distance): this scores each point against its own history.
#
# Scale shape: the corpus collapses to the |types| x |days| daily grid
# in ONE aggregate (the only pass over raw events); the trailing
# 6-day frame is then two range self-joins OF THE TINY GRID (bounded
# 6x expansion of |types|x|days| rows, nothing touches the corpus
# again). The MAD needs the frame's median BEFORE deviations exist, so
# it is inherently two grid passes — not expressible as one window.
# Medians interpolate at even frame sizes in both engines
# (quantile_cont <-> percentile), and (a+b)/2 of integers is exactly
# representable, so the gate hashes bit-equal.
# ---------------------------------------------------------------------------
@query(
    "x177_rolling_mad_anomaly",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS dday,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT a.event_type, a.dday, a.cnt,
               quantile_cont(b.cnt, 0.5) AS med
        FROM d a JOIN d b
          ON a.event_type = b.event_type
         AND b.dday BETWEEN a.dday - 6 AND a.dday - 1
        GROUP BY a.event_type, a.dday, a.cnt
        HAVING COUNT(*) = 6
    ),
    s AS (
        SELECT m.event_type, m.dday, m.cnt, m.med,
               quantile_cont(ABS(b.cnt - m.med), 0.5) AS mad
        FROM m JOIN d b
          ON m.event_type = b.event_type
         AND b.dday BETWEEN m.dday - 6 AND m.dday - 1
        GROUP BY m.event_type, m.dday, m.cnt, m.med
    )
    SELECT event_type, strftime(dday, '%Y-%m-%d') AS day,
           cnt, ROUND(med, 4) AS med, ROUND(mad, 4) AS mad,
           ROUND(cnt - med, 4) AS deviation,
           CAST(CASE WHEN ABS(cnt - med) > 3 * mad THEN 1 ELSE 0 END AS INT)
               AS is_anomaly
    FROM s
    ORDER BY event_type, day
    """,
)
def x177_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # the ONLY corpus pass; everything after joins the tiny daily grid
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("dday"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("dday").alias("bday"),
        F.col("cnt").alias("bcnt"),
    )
    trailing = (F.col("bday") >= F.date_sub(F.col("dday"), 6)) & (
        F.col("bday") <= F.date_sub(F.col("dday"), 1)
    )
    m = (
        daily.join(b, (F.col("event_type") == F.col("b_type")) & trailing)
        .groupBy("event_type", "dday", "cnt")
        .agg(
            F.count(F.lit(1)).alias("n_win"),
            F.percentile(F.col("bcnt"), F.lit(0.5)).alias("med"),
        )
        .filter(F.col("n_win") == 6)
        .drop("n_win")
    )
    s = (
        m.join(b, (F.col("event_type") == F.col("b_type")) & trailing)
        .groupBy("event_type", "dday", "cnt", "med")
        .agg(
            F.percentile(F.abs(F.col("bcnt") - F.col("med")), F.lit(0.5)).alias("mad")
        )
    )
    return s.select(
        "event_type",
        F.date_format("dday", "yyyy-MM-dd").alias("day"),
        "cnt",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        F.round(F.col("cnt") - F.col("med"), 4).alias("deviation"),
        F.when(F.abs(F.col("cnt") - F.col("med")) > 3 * F.col("mad"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_anomaly"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# E12: bot/abuse cadence detection — the traffic-hygiene filter a crawl
# or telemetry pipeline runs before events feed anything downstream:
# per-user robust cadence features (median inter-event gap, same-type
# repeat fraction, events/hour over the active span) and a
# POPULATION-RELATIVE flag — users in the fastest decile of median
# gaps. Relative gates are how real abuse systems work (absolute
# thresholds rot as traffic shifts); median gap, like x177's MAD, is
# robust to a user's own outlier pauses.
#
# Scale shape: one per-user window (the same shuffle any per-user
# analytic pays) → per-user aggregate (|users| rows) → ONE bounded
# percentile over the user table broadcast back as the decile
# threshold. Nothing after the first aggregate exceeds |users| rows.
# Users with a single event carry no cadence and are excluded by both
# engines (gap IS NULL).
# ---------------------------------------------------------------------------
@query(
    "x183_bot_cadence",
    oracle="""
    WITH g AS (
        SELECT user_id, event_type,
               EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us,
               CASE WHEN event_type = LAG(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                    THEN 1 ELSE 0 END AS rpt
        FROM events
    ),
    u AS (
        SELECT user_id,
               CAST(COUNT(*) + 1 AS BIGINT) AS n_events,
               quantile_cont(gap_us, 0.5) AS med_gap_us,
               ROUND(CAST(SUM(rpt) AS DOUBLE) / COUNT(*), 6) AS repeat_frac,
               ROUND(CAST(COUNT(*) + 1 AS DOUBLE)
                     / (CAST(SUM(gap_us) AS DOUBLE) / 3600000000.0), 4)
                   AS events_per_hour
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY user_id
    ),
    thr AS (SELECT quantile_cont(med_gap_us, 0.1) AS p10 FROM u)
    SELECT user_id, n_events, ROUND(med_gap_us, 4) AS med_gap_us,
           repeat_frac, events_per_hour,
           CAST(CASE WHEN med_gap_us <= thr.p10 THEN 1 ELSE 0 END AS INT)
               AS is_bot
    FROM u, thr
    ORDER BY user_id
    """,
)
def x183_bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
        F.when(
            F.col("event_type") == F.lag("event_type").over(w), 1
        ).otherwise(0).alias("rpt"),
    ).filter(F.col("gap_us").isNotNull())
    # u feeds BOTH the p10 threshold and the flag projection; pin the
    # reuse (VERDICT r6 "what's wrong" #1) so a plan change can never
    # silently re-run the full events scan + window twice.
    u = g.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
        F.percentile(F.col("gap_us"), F.lit(0.5)).alias("med_gap_us"),
        F.round(F.sum("rpt").cast("double") / F.count(F.lit(1)), 6).alias(
            "repeat_frac"
        ),
        F.round(
            (F.count(F.lit(1)) + 1).cast("double")
            / (F.sum("gap_us").cast("double") / 3600000000.0),
            4,
        ).alias("events_per_hour"),
    ).localCheckpoint(eager=False)
    thr = u.agg(F.percentile(F.col("med_gap_us"), F.lit(0.1)).alias("p10"))
    return (
        u.crossJoin(F.broadcast(thr))
        .select(
            "user_id",
            "n_events",
            F.round("med_gap_us", 4).alias("med_gap_us"),
            "repeat_frac",
            "events_per_hour",
            F.when(F.col("med_gap_us") <= F.col("p10"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_bot"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# x215: OHLC time-bucket downsampling (round 13) — the hypertable
# continuous-aggregate archetype (TimescaleDB time_bucket + first/last/
# min/max, the candle every metrics store materializes): per
# (event_type, day), open/close = value at the earliest/latest event,
# high/low = extrema, n + exact-decimal volume.
#
# Determinism: open/close pick ONE raw double via a total order
# (ts, event_id) — first/arg_min alone is tie-ambiguous the moment two
# events share a microsecond, which at 100 TB is every bucket — so
# both engines rank by the same total order and conditional-aggregate
# rank 1. No arithmetic touches the picked values; volume uses the
# decimal interior (dsum).
#
# Scale shape: ONE exchange on (event_type, day) serves both ranking
# windows AND the final aggregate (same keys — Spark reuses the
# partitioning, no second shuffle); work per bucket is a local sort,
# the idiomatic distributed downsample.
# ---------------------------------------------------------------------------
@query(
    "x215_ohlc_downsample",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, day,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum("value")} AS volume
    FROM ranked
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def x215_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) OHLC candles with total-order open/close
    picks and exact-decimal volume — one exchange serves the ranking
    windows and the bucket aggregate."""
    ev = load_table(spark, sf_dir, "events")
    # the window partitions on the SAME projected (event_type, day)
    # columns the aggregate groups on, so the bucket aggregate reuses
    # the window's hashpartitioning — one corpus exchange total
    ev = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "ts",
        "event_id",
        "value",
    )
    w_a = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "event_type",
        "day",
        "value",
        F.row_number().over(w_a).alias("rn_a"),
        F.row_number().over(w_d).alias("rn_d"),
    )
    return (
        ranked.groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("volume"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# x216: retention cohort matrix (round 13) — the full weekly cohort
# triangle behind q39's two-row retention readout: users cohorted by
# first-activity week, every (cohort_week, week_offset) cell counts
# the cohort's users still active that week, with an integer-ppm
# retention share (the x192 floor-division pattern — no doubles).
# Both engines truncate weeks to ISO Monday, so the offset is an exact
# day-difference // 7.
#
# Scale shape: JOIN-FREE on the corpus side — cohorting is a
# min-over-user window on the distinct (user, week) activity (two
# corpus exchanges: the distinct, then the user repartition; no
# user-keyed join at all), the matrix aggregate is
# |cohorts| x |offsets| rows, and cohort sizes come from the matrix's
# own offset-0 cells (every user is active in their first week by
# definition), joined back as a cohort-count-sized broadcast.
# ---------------------------------------------------------------------------
@query(
    "x216_retention_cohorts",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    first_wk AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
    ),
    cohort_sz AS (
        SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n_cohort
        FROM first_wk GROUP BY cohort_wk
    ),
    cells AS (
        SELECT f.cohort_wk,
               CAST((a.wk - f.cohort_wk) // 7 AS INTEGER) AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM act a JOIN first_wk f ON a.user_id = f.user_id
        GROUP BY 1, 2
    )
    SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
           c.week_offset, c.n_active, s.n_cohort,
           CAST(1000000 * c.n_active // s.n_cohort AS BIGINT)
               AS retention_ppm
    FROM cells c JOIN cohort_sz s ON c.cohort_wk = s.cohort_wk
    ORDER BY cohort_week, week_offset
    """,
)
def x216_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: cohort sizes, per-offset active
    counts, integer-ppm retention — join-free cohorting via a
    min-over-user window, cohort sizes from the matrix's own offset-0
    cells."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    cohort_wk = F.min("wk").over(Window.partitionBy("user_id"))
    cells = (
        act.select(
            cohort_wk.alias("cohort_wk"),
            F.floor(F.datediff(F.col("wk"), cohort_wk) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .localCheckpoint(eager=False)
    )
    cohort_sz = cells.filter(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("n_active").alias("n_cohort")
    )
    return (
        cells.join(F.broadcast(cohort_sz), "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "n_cohort",
            F.floor(F.lit(1000000) * F.col("n_active") / F.col("n_cohort"))
            .cast("bigint")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# X7/J7 extension: CIDR longest-prefix-match enrichment — the INET-typed
# analytics the reference stores but never queries (its events land an
# INET column via createTableColumnTypes, ua2sql.py:51,68; PostgreSQL is
# left to do any containment math). Route table = two fixed-length tiers
# derived from the dims: a /5 block per nation (network k*2^27) and a /4
# block per region in the high half (network 2^31 + r*2^28), so nation
# routes SHADOW region routes over [2^31, 25*2^27) and longest-prefix
# must win there. Event IPs derive from user_id via the Knuth
# multiplicative hash — pure integer arithmetic both engines compute
# identically.
#
# Scale shape: CIDR containment is NOT a theta join here — each tier has
# a fixed prefix length, so membership is one integer division to the
# tier's grid cell and the probe becomes two BROADCAST HASH equi-joins
# (route tables are K-bounded dims; the corpus never shuffles). LPM
# falls out row-wise as COALESCE in fixed-length-tier order — no
# per-event aggregation. For an arbitrary-length route table the same
# plan holds: expand each route into its covering cells at a fixed grid
# (e.g. /8), broadcast-join on the cell, tie-break max_by(label, plen);
# the corpus side still never shuffles before the final rollup.
# ---------------------------------------------------------------------------
@query(
    "x218_cidr_route_enrich",
    oracle="""
    WITH e AS (
        SELECT user_id, (user_id * 2654435761) % 4294967296 AS ip
        FROM events
    ),
    n AS (SELECT n_nationkey AS blk, n_name AS label FROM nation
          WHERE n_nationkey < 25),
    r AS (SELECT r_regionkey AS blk, r_name AS label FROM region)
    SELECT COALESCE(n.label, r.label, 'unrouted') AS route_label,
           CAST(CASE WHEN n.label IS NOT NULL THEN 5
                     WHEN r.label IS NOT NULL THEN 4
                     ELSE 0 END AS INT) AS prefix_len,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e
    LEFT JOIN n ON e.ip // 134217728 = n.blk
    LEFT JOIN r ON e.ip // 268435456 - 8 = r.blk
    GROUP BY 1, 2
    ORDER BY n_events DESC, route_label
    """,
)
def x218_cidr_route_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        ((F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296))
        .alias("ip"),
    )
    n_routes = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 25)
        .select(
            F.col("n_nationkey").cast("bigint").alias("n_blk"),
            F.col("n_name").alias("n_label"),
        )
    )
    r_routes = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("bigint").alias("r_blk"),
        F.col("r_name").alias("r_label"),
    )
    routed = (
        e.withColumn("n_key", F.floor(F.col("ip") / F.lit(134217728)))
        .withColumn("r_key", F.floor(F.col("ip") / F.lit(268435456)) - 8)
        .join(F.broadcast(n_routes), F.col("n_key") == F.col("n_blk"), "left")
        .join(F.broadcast(r_routes), F.col("r_key") == F.col("r_blk"), "left")
    )
    # fixed-length tiers make COALESCE order the longest-prefix rule:
    # /5 (nation) beats /4 (region) wherever both contain the ip
    return (
        routed.select(
            F.coalesce("n_label", "r_label", F.lit("unrouted"))
            .alias("route_label"),
            F.when(F.col("n_label").isNotNull(), F.lit(5))
            .when(F.col("r_label").isNotNull(), F.lit(4))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("prefix_len"),
            "user_id",
        )
        .groupBy("route_label", "prefix_len")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_events"), "route_label")
    )
