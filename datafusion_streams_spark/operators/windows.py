"""Window functions + event-time windows (batch form).

The reference inherits window capability from DataFusion but never
exercises it (SURVEY.md §2.3); here each family is implemented and
oracle-checked. Every OVER clause carries a total tiebreak order so
results are deterministic under any partitioning — at 100 TB the row
order within a shuffle partition is never reproducible, so
nondeterministic window frames are latent correctness bugs.

The streaming (watermarked) variants of the event-time windows live in
``datafusion_streams_spark.streaming.queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import (
    dec,
    dsum,
    round6_ratio,
    sql_round6_ratio,
)
from datafusion_streams_spark.operators import query

# ---------------------------------------------------------------------------
# ranking: top-k per group
# ---------------------------------------------------------------------------

_TOPK_GROUP_ORACLE = """
SELECT * FROM (
    SELECT
        o_custkey,
        o_orderkey,
        o_totalprice,
        CAST(row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey
        ) AS BIGINT) AS rn
    FROM orders
)
WHERE rn <= 3
"""


@query("window_topk_per_group", oracle=_TOPK_GROUP_ORACLE, tags=("window", "topk"))
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number.

    Scale: one shuffle on o_custkey; skewed customers are handled by
    AQE skew-split. For extreme skew, pre-aggregate with a salted
    partial top-k before the window (same pattern as salted joins).
    """
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# analytic: running total
# ---------------------------------------------------------------------------

_RUNNING_ORACLE = """
SELECT
    o_custkey,
    o_orderkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS DOUBLE) AS running_spend
FROM orders
"""


@query("window_running_total", oracle=_RUNNING_ORACLE, tags=("window", "analytic"))
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend; decimal accumulation keeps the running
    values exact regardless of partition/merge order."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# analytic: lag / delta over an event stream
# ---------------------------------------------------------------------------

_LAG_ORACLE = """
SELECT
    event_id,
    user_id,
    value,
    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
"""


@query("window_lag_delta", oracle=_LAG_ORACLE, tags=("window", "analytic", "events"))
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-event value delta (lag)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("delta"),
    )


# ---------------------------------------------------------------------------
# RANGE frame: trailing time-interval moving aggregate
# ---------------------------------------------------------------------------

RANGE_FRAME_US = 3_600_000_000  # trailing 1 hour, in integer microseconds

_RANGE_FRAME_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events
)
SELECT event_id, user_id, ts_us,
    CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
FROM e
WINDOW w AS (
    PARTITION BY user_id ORDER BY ts_us
    RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW
)
"""


@query("window_range_frame", oracle=_RANGE_FRAME_ORACLE, tags=("window", "analytic", "range", "events"))
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame: for every event, the user's event count and
    exact value sum over the TRAILING HOUR (value-based frame bounds —
    peers by ordering value, unlike ROWS frames). The rate/velocity
    feature a fraud or engagement pipeline computes per event.

    Scale: one shuffle on user_id, per-partition sort, single-pass
    sliding frame; the ordering key is integer microseconds on both
    engines (``load_events_us`` / ``epoch_ns // 1000``) so frame
    membership is exact, and the frame sum is decimal so it does not
    depend on the engine's in-frame accumulation order.
    """
    from datafusion_streams_spark.catalog import load_events_us

    ev = load_events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-RANGE_FRAME_US, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_1h"),
        F.sum(dec("value")).over(w).cast("double").alias("sum_trailing_1h"),
    )


# ---------------------------------------------------------------------------
# ranking battery: rank / dense_rank / ntile
# ---------------------------------------------------------------------------

_RANK_ORACLE = """
SELECT
    s_suppkey,
    s_nationkey,
    s_acctbal,
    CAST(rank()       OVER w AS BIGINT) AS bal_rank,
    CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
    CAST(ntile(4)     OVER w AS BIGINT) AS bal_quartile,
    first_value(s_acctbal) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS top_bal,
    last_value(s_acctbal)  OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS bottom_bal,
    nth_value(s_acctbal, 2) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_bal
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


@query("window_rank_battery", oracle=_RANK_ORACLE, tags=("window", "rank"))
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
        F.first("s_acctbal").over(wfull).alias("top_bal"),
        F.last("s_acctbal").over(wfull).alias("bottom_bal"),
        F.nth_value("s_acctbal", 2).over(wfull).alias("second_bal"),
    )


# ---------------------------------------------------------------------------
# event-time windows (batch form of the streaming ops)
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT
    date_trunc('hour', ts) AS window_start,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("events_tumbling_hour", oracle=_TUMBLING_ORACLE, tags=("window", "events", "streaming-batch"))
def events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window (batch form; the streaming form
    in streaming/queries.py must produce the identical result — the
    prefix-consistency property from the Structured Streaming paper)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SLIDING_ORACLE = """
WITH buckets AS (
    SELECT date_trunc('hour', ts) + (INTERVAL 30 MINUTE) * CAST(floor(minute(ts) / 30) AS INTEGER) AS half_hour, *
    FROM events
), slides AS (
    SELECT half_hour                        AS window_start, event_type, value FROM buckets
    UNION ALL
    SELECT half_hour - INTERVAL 30 MINUTE   AS window_start, event_type, value FROM buckets
)
SELECT
    window_start,
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM slides
GROUP BY 1, 2
"""


@query("events_sliding_window", oracle=_SLIDING_ORACLE, tags=("window", "events", "streaming-batch"))
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour width, 30-minute slide — each event lands in
    exactly two windows. The oracle reconstructs the assignment by
    bucketing + self-union."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


_SESSION_ORACLE = """
WITH flagged AS (
    SELECT
        user_id, ts, event_id, value,
        CASE
            WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
            WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE THEN 1
            ELSE 0
        END AS is_new
    FROM events
), numbered AS (
    SELECT *,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM flagged
)
SELECT
    user_id,
    MIN(ts)                       AS session_start,
    MAX(ts) + INTERVAL 30 MINUTE  AS session_end,
    COUNT(*)                      AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, grp
"""


@query("events_session_window", oracle=_SESSION_ORACLE, tags=("window", "events", "session", "streaming-batch"))
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap (batch form of
    F.session_window). Oracle reconstructs sessions via gaps-and-islands:
    a session merges an event iff its ts is strictly before the current
    session end (last event + gap) — Spark's [start, end) convention."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# funnel analysis: ordered event-sequence detection
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH u AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT
    COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END)  AS n_view,
    COUNT(CASE WHEN t_click > t_view THEN 1 END)    AS n_view_then_click,
    COUNT(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 END) AS n_full_funnel
FROM u
"""


@query("events_funnel", oracle=_FUNNEL_ORACLE, tags=("events", "funnel", "agg"))
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel on first-occurrence ordering:
    how many users saw, then clicked after seeing, then purchased after
    clicking.

    Scale: one shuffle (user_id) with conditional-MIN partial
    aggregation — the map side collapses each user's events to three
    timestamps before anything moves; the funnel comparison is a
    constant-size final reduce. NULL propagation implements the stage
    gates (a missing earlier stage nulls the comparison) identically
    in both engines.
    """
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return u.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("n_view_then_click"),
        F.count(
            F.when(
                (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
WITH firsts AS (
    SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
),
activity AS (
    SELECT DISTINCT e.user_id,
        strftime(CAST(f.t0 AS DATE), '%Y-%m-%d') AS cohort_day,
        date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE)) AS day_offset
    FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset, COUNT(*) AS n_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
"""


@query("events_retention", oracle=_RETENTION_ORACLE, tags=("events", "cohort", "agg"))
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention per first-seen cohort: users active on day
    offset 0..7 from their first event, grouped by cohort day.

    Scale: two shuffles on user_id (first-seen agg, then the
    activity-day dedup piggybacks on the same key) and a tiny final
    rollup. The first-seen relation is one row per user — broadcast
    it against the event stream at 100 TB.

    Cohort day is emitted as a formatted string (engine-portable; DATE
    stringification differs between Spark and DuckDB drivers).
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            F.date_format("t0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.to_date("t0")).cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# distribution functions: percent_rank / cume_dist
# ---------------------------------------------------------------------------

_DISTRIBUTION_ORACLE = """
SELECT
    c_custkey,
    c_mktsegment,
    percent_rank() OVER w AS bal_percent_rank,
    cume_dist()    OVER w AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@query("window_distribution", oracle=_DISTRIBUTION_ORACLE, tags=("window", "distribution"))
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist per market segment over account balance.

    Both are exact small-integer ratios ((rank-1)/(n-1), n_le/n) so the
    double results are bit-identical across engines; the c_custkey
    tiebreak keeps frames deterministic under any partitioning.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("bal_percent_rank"),
        F.cume_dist().over(w).alias("bal_cume_dist"),
    )


# ---------------------------------------------------------------------------
# trailing-window anomaly score (z-score vs the user's last hour)
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events
),
m AS (
    SELECT event_id, user_id, ts_us, value,
        CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s2
    FROM e
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts_us
        RANGE BETWEEN {RANGE_FRAME_US} PRECEDING AND CURRENT ROW
    )
)
SELECT event_id, user_id, ts_us, value, n_trailing,
    CASE WHEN (s2 / n_trailing - (s1 / n_trailing) * (s1 / n_trailing)) > 0
         THEN (value - s1 / n_trailing)
              / sqrt(s2 / n_trailing - (s1 / n_trailing) * (s1 / n_trailing))
         ELSE 0.0 END AS zscore
FROM m
"""


@query("events_anomaly_zscore", oracle=_ZSCORE_ORACLE, tags=("window", "analytic", "events", "anomaly"))
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event anomaly score: how unusual is this value against the
    SAME user's trailing hour — (x - mean)/stddev over a RANGE frame,
    the online-feature shape of a fraud/abuse pipeline.

    Float parity engineering: both moments are decimal-exact window
    sums (value is 2 dp, its decimal square 4 dp — exact in any
    accumulation order), cast once to double; mean/variance/z then use
    the identical arithmetic expression tree in both engines, and the
    var > 0 guard takes the same branch because the doubles are
    bit-identical. One shuffle on user_id, single-pass sliding frame.
    """
    from datafusion_streams_spark.catalog import load_events_us

    ev = load_events_us(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-RANGE_FRAME_US, Window.currentRow)
    )
    vdec = dec("value")
    s1 = F.sum(vdec).over(w).cast("double")
    s2 = F.sum(vdec * vdec).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("long")
    m = ev.select(
        "event_id", "user_id", "ts_us", "value",
        n.alias("n_trailing"), s1.alias("s1"), s2.alias("s2"),
    )
    mean = F.col("s1") / F.col("n_trailing")
    var = F.col("s2") / F.col("n_trailing") - mean * mean
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var)).otherwise(F.lit(0.0))
    return m.select(
        "event_id", "user_id", "ts_us", "value", "n_trailing", z.alias("zscore")
    )


# ---------------------------------------------------------------------------
# path analysis (round 3): per-session ordered event-type journeys
# ---------------------------------------------------------------------------

_PATH_ORACLE = """
WITH flagged AS (
    SELECT
        user_id, ts, event_id, event_type,
        CASE
            WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
            WHEN ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE THEN 1
            ELSE 0
        END AS is_new
    FROM events
), numbered AS (
    SELECT *,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM flagged
), paths AS (
    SELECT user_id, grp,
        string_agg(event_type, '->' ORDER BY ts, event_id) AS path
    FROM numbered GROUP BY user_id, grp
)
SELECT path,
    CAST(COUNT(*) AS BIGINT) AS n_sessions,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths GROUP BY path
"""


@query("events_path_analysis", oracle=_PATH_ORACLE, tags=("events", "session", "window", "funnel"))
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: sessionize (30-minute gap), concatenate each
    session's event types in time order into a journey string, count
    sessions and distinct users per journey — the product-analytics
    staple behind funnel discovery (which paths actually happen).

    Determinism: events are ordered by (ts, event_id) inside every
    session via sort_array over structs — a total order, so the path
    string is unique; the oracle mirrors it with ordered string_agg.
    Scale: one shuffle to sessionize per user, one to count paths;
    session arrays are bounded by session length, never corpus-sized.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = F.expr("INTERVAL 30 MINUTES")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(prev_ts.isNull() | (F.col("ts") >= prev_ts + gap), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    numbered = flagged.withColumn(
        "grp",
        F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    paths = numbered.groupBy("user_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            "->",
        ).alias("path")
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# active-user analytics (round 3): DAU + trailing-7-day distinct (WAU)
# ---------------------------------------------------------------------------

_ACTIVE_USERS_ORACLE = """
WITH daily AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM daily)
SELECT
    CAST(d.day AS VARCHAR) AS day,
    CAST((SELECT COUNT(*) FROM daily x WHERE x.day = d.day) AS BIGINT) AS dau,
    CAST((SELECT COUNT(DISTINCT user_id) FROM daily x
          WHERE x.day > d.day - 7 AND x.day <= d.day) AS BIGINT) AS wau_trailing_7d
FROM days d
"""


@query("events_active_users", oracle=_ACTIVE_USERS_ORACLE, tags=("events", "agg", "window", "cohort"))
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per day — the engagement dashboard
    primitive. Trailing DISTINCT cannot ride a window frame (distinct
    aggregation isn't frameable), so WAU joins each day against the
    7-day slice of the (day, user) relation and counts distinct —
    exact, and bounded by days x daily-actives, not by raw events.

    Scale: events collapse to distinct (day, user) first (one shuffle);
    the day-range join replicates that small relation at most 7x; days
    themselves broadcast. Output day is a string (DATE outputs diverge
    between engines' hashers — repo discipline)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    d = days.select(F.col("day").alias("anchor_day"))
    trailing = (
        daily.join(
            F.broadcast(d),
            (F.col("day") > F.date_sub(F.col("anchor_day"), 7))
            & (F.col("day") <= F.col("anchor_day")),
        )
        .groupBy("anchor_day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau_trailing_7d"))
    )
    return (
        dau.join(trailing, dau["day"] == trailing["anchor_day"])
        .select(F.col("day").cast("string").alias("day"), "dau", "wau_trailing_7d")
    )


# ---------------------------------------------------------------------------
# per-event sessionization map (round 4)
# ---------------------------------------------------------------------------

SESSIONIZE_GAP_MIN = 30

_SESSIONIZE_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts,
        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
        CASE WHEN prev_ts IS NULL
                  OR ts > prev_ts + INTERVAL {SESSIONIZE_GAP_MIN} MINUTE
             THEN 1 ELSE 0 END AS is_start
    FROM ordered
)
SELECT user_id, event_id, ts,
    CAST(SUM(is_start) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS session_seq,
    CAST(is_start AS BIGINT) AS is_session_start
FROM flagged
"""


@query("events_sessionize", oracle=_SESSIONIZE_ORACLE, tags=("events", "session", "window"))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session assignment (gaps-and-islands): every event
    labeled with its user's running session number — a new session
    starts after a 30-minute silence. Where events_session_window
    aggregates per session, this emits the event-level mapping a
    sessionized fact table stores (the join key for attribution,
    path, and dwell-time analyses downstream).

    Scale: one shuffle on user_id serves both window passes (lag and
    the running sum share the same partitioning + ordering, so Catalyst
    plans a single exchange + sort); deterministic under any
    parallelism via the (ts, event_id) total tiebreak.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr(f"INTERVAL {SESSIONIZE_GAP_MIN} MINUTES")),
        1,
    ).otherwise(0)
    flagged = ev.select("user_id", "event_id", "ts", is_start.alias("is_start"))
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("is_start").over(wsum).cast("long").alias("session_seq"),
        F.col("is_start").cast("long").alias("is_session_start"),
    )


# ---------------------------------------------------------------------------
# last-touch attribution (round 4)
# ---------------------------------------------------------------------------

ATTRIBUTION_WINDOW_MIN = 60

_ATTRIBUTION_ORACLE = f"""
WITH joined AS (
    SELECT p.event_id AS purchase_id,
           p.user_id,
           p.ts AS purchase_ts,
           v.event_id AS view_id,
           v.ts AS view_ts,
           CAST(row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC, v.event_id DESC
           ) AS BIGINT) AS rn
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
)
SELECT purchase_id, user_id, purchase_ts, view_id, view_ts,
       CAST(date_diff('second', view_ts, purchase_ts) AS BIGINT) AS gap_seconds
FROM joined WHERE rn = 1
"""


@query("events_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("events", "join", "window", "temporal"))
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent view within the preceding hour (ties broken by event_id) —
    the canonical marketing-attribution join, and the batch mirror of
    the streaming interval join's "which view caused this purchase"
    question answered with AS-OF (latest-before) semantics instead of
    all-pairs.

    Scale: the interval join shuffles both sides on user_id once; the
    per-purchase row_number window state is bounded by views within
    the attribution window (time-bounded, not history-bounded). The
    (v.ts, v.event_id) DESC tiebreak makes the winner unique, so the
    result is deterministic at any parallelism.
    """
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
        ),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.desc("view_ts"), F.desc("view_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "view_id",
            "view_ts",
            # second-BOUNDARY difference (what DuckDB date_diff('second')
            # counts): truncate each side to epoch seconds, then subtract
            F.expr(
                "CAST(unix_micros(CAST(purchase_ts AS TIMESTAMP)) div 1000000 "
                "- unix_micros(CAST(view_ts AS TIMESTAMP)) div 1000000 AS BIGINT)"
            ).alias("gap_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# bounded ROWS frame: centered moving average (round 4)
# ---------------------------------------------------------------------------

_MOVING_AVG_ORACLE = """
SELECT o_custkey, o_orderkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        / CAST(COUNT(*) OVER w AS DOUBLE) AS moving_avg_5,
    CAST(COUNT(*) OVER w AS BIGINT) AS frame_n
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
)
"""


@query("window_moving_avg", oracle=_MOVING_AVG_ORACLE, tags=("window", "analytic"))
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 5-row moving average per customer — the bounded
    two-sided ROWS frame (N PRECEDING AND M FOLLOWING) completing the
    frame-shape battery: running total (unbounded-to-current), RANGE
    interval frame, and now a symmetric sliding smoother, with the
    edge rows averaging their truncated frames (frame_n exposes the
    actual width).

    Parity: decimal-exact frame sum, one double division by the exact
    frame count. Scale: one shuffle on o_custkey; the two-sided frame
    is a single sliding pass per partition (no re-scan per row).
    """
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 2)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        (
            F.sum(dec("o_totalprice")).over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("moving_avg_5"),
        F.count(F.lit(1)).over(w).cast("long").alias("frame_n"),
    )


# ---------------------------------------------------------------------------
# gaps & islands: consecutive same-state runs per user
# ---------------------------------------------------------------------------

_ISLANDS_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
          AS grp
    FROM events
),
islands AS (
    SELECT user_id, event_type, grp, COUNT(*) AS island_len
    FROM ordered GROUP BY user_id, event_type, grp
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(island_len) AS BIGINT) AS max_len,
       {sql_round6_ratio("SUM(island_len)", "COUNT(*)")} AS avg_len
FROM islands
GROUP BY event_type
"""


@query(
    "window_gaps_islands",
    oracle=_ISLANDS_ORACLE,
    tags=("window", "events", "analytic", "session"),
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive identical states
    per user, found with the classic two-row_number difference (run id
    = overall rank minus per-state rank — constant within a run,
    distinct across runs). This is the ORDER-defined twin of time-gap
    sessionization (events_sessionize): runs break on state change,
    not on elapsed time — the shape behind uptime stretches, streak
    analytics, and consecutive-failure alerting.

    Determinism: both row_numbers carry the (ts, event_id) total
    tiebreak, so run boundaries are reproducible under any
    partitioning. Scale: both windows and the two aggregates share ONE
    hash partitioning on user_id — Catalyst plans a single exchange,
    then per-partition sorts; island rows never exceed event rows and
    the final per-type rollup is a 5-row result.
    """
    ev = table(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    islands = (
        ev.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("island_len"))
    )
    return islands.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("island_len").cast("long").alias("max_len"),
        # exact-integer 6-dp rounding: the double round splits engines
        # on exact halves (see functions.round6_ratio)
        round6_ratio("sum(island_len)", "count(*)").alias("avg_len"),
    )


# ---------------------------------------------------------------------------
# equi-depth buckets: exact decile profile of order totals
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(o_totalprice) AS lo,
       MAX(o_totalprice) AS hi,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM (
    SELECT o_totalprice,
           CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
    FROM orders
)
GROUP BY bucket
"""


@query(
    "window_equidepth_buckets",
    oracle=_EQUIDEPTH_ORACLE,
    tags=("window", "agg", "distribution", "percentile"),
)
def window_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (equal-count) decile profile of order totals:
    ntile(10) over a totally-ordered window, then per-bucket count /
    bounds / exact decimal sum. The boundaries are EXACT order
    statistics — the histogram equi-width binning (agg_histogram)
    cannot see, and the form a query optimizer's value-distribution
    statistics actually store.

    The (o_totalprice, o_orderkey) tiebreak makes bucket assignment of
    equal totals deterministic in both engines. Scale: an un-partitioned
    ntile is a global sort — the exact form is the oracle-checkable
    baseline; at 100 TB the same profile comes from
    approx_percentile(p, [0.1..0.9]) boundaries (agg_approx_percentile,
    rows-only) or a range-partitioned two-pass assignment, trading the
    single-point sort for bounded error or one extra exchange.
    """
    o = table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("sum_total"),
        )
    )


# ---------------------------------------------------------------------------
# robust outliers: median / MAD control limits
# ---------------------------------------------------------------------------

_MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS d
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT
    d.event_type,
    any_value(d.med) AS med,
    any_value(ma.mad) AS mad,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(CASE WHEN d.d > 4.4478 * ma.mad THEN 1 END) AS BIGINT) AS n_outliers,
    {sql_round6_ratio("COUNT(CASE WHEN d.d > 4.4478 * ma.mad THEN 1 END)", "COUNT(*)")}
        AS outlier_rate
FROM dev d JOIN mad ma ON d.event_type = ma.event_type
GROUP BY d.event_type
"""


@query(
    "events_anomaly_mad",
    oracle=_MAD_ORACLE,
    tags=("events", "anomaly", "agg", "percentile"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median / median-absolute-deviation
    control limits (|x - med| > 3σ with σ ≈ 1.4826·MAD) — the
    z-score's (events_anomaly_zscore) heavy-tail-safe sibling: a single
    extreme value shifts a mean and inflates a stddev, but moves
    neither the median nor the MAD.

    Two exact interpolated-percentile passes (both engines share the
    linear-interpolation quantile definition proved by
    agg_percentiles), each shuffling on the 5-value event_type key,
    with the per-type medians broadcast back. The 4.4478 threshold
    multiplies exactly-determined doubles identically in both engines.
    Scale: swap percentile for approx_percentile at 100 TB — the
    control limits tolerate sketch error by design (they are 3σ bands,
    not exact order statistics).
    """
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.percentile("d", F.lit(0.5)).alias("mad"))
    scored = dev.join(F.broadcast(mad), "event_type")
    return scored.groupBy("event_type").agg(
        F.any_value("med").alias("med"),
        F.any_value("mad").alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(F.when(F.col("d") > F.lit(4.4478) * F.col("mad"), 1))
        .cast("long")
        .alias("n_outliers"),
        round6_ratio(
            "count(CASE WHEN d > 4.4478 * mad THEN 1 END)", "count(*)"
        ).alias("outlier_rate"),
    )


# ---------------------------------------------------------------------------
# packed-bitmap exact distinct (round 4)
# ---------------------------------------------------------------------------

_BITMAP_DISTINCT_ORACLE = """
SELECT
    CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(COUNT(DISTINCT user_id // 64) AS BIGINT) AS n_containers
FROM events
GROUP BY CAST(ts AS DATE)
"""


@query(
    "agg_bitmap_distinct",
    oracle=_BITMAP_DISTINCT_ORACLE,
    tags=("agg", "events", "sketch", "scale"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-day distinct users via packed 64-bit bitmap containers
    — the roaring-bitmap / Druid / ClickHouse `groupBitmap` pattern,
    entirely in codegen'd built-ins.

    Each user lands in container `user_id >> 6` at bit `user_id & 63`;
    per (day, container) the bits OR together (bit_or is associative +
    commutative, so map-side partial aggregation already collapses
    each container to 8 bytes before the exchange), then per day the
    popcounts sum. Sparse-safe: only containers that actually occur
    materialize, so arbitrary 64-bit ids work — no dense-id
    assumption. vs COUNT(DISTINCT): the shuffle carries one row per
    occupied container (<= distinct/64 + container count) instead of
    one per distinct user, and the per-day container relation is a
    MERGEABLE exact sketch — persist it and unions across days /
    snapshots are bitwise ORs, the same rollup algebra as the HLL
    sketch table but lossless. n_containers reports the realized
    container occupancy (the compression the pattern is buying).

    DENSITY DOMAIN (measured r10, tools/shuffle_probe.py): the win is
    proportional to bits-per-occupied-container, i.e. per-group
    distinct count / (id_range/64). Dense regime (20k-user id space,
    ~66k rows/day): 9.8x fewer shuffle bytes than distinct-then-count.
    Sparse regime (ids spread over 2M, ~1 occupant per container per
    map task): 0.7x — WORSE than exact, because each 8-byte word
    carries ~1 bit. Use this shape when ids are compact (dictionary-
    encoded users, dense surrogate keys — this fixture) or after a
    dense re-keying; with sparse 64-bit ids prefer HLL (bounded error)
    or plain COUNT(DISTINCT). A roaring-style hybrid (array containers
    below ~4096 occupants) removes the cliff but needs a custom UDAF —
    not worth leaving codegen'd built-ins for the fixture's regime.
    """
    ev = table(spark, sf_dir, "events")
    bits = ev.select(
        F.col("ts").cast("date").alias("day"),
        F.shiftright("user_id", 6).alias("container"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias("bit"),
    )
    containers = bits.groupBy("day", "container").agg(
        F.bit_or("bit").alias("bitmap")
    )
    return (
        containers.groupBy("day")
        .agg(
            F.sum(F.bit_count("bitmap")).cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_containers"),
        )
        .select(F.col("day").cast("string").alias("day"), "n_users", "n_containers")
    )


_BITMAP_RETENTION_ORACLE = """
WITH daily AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT
    CAST(a.day AS VARCHAR) AS day,
    CAST(COUNT(*) AS BIGINT) AS retained_next_day
FROM daily a
JOIN daily b ON b.user_id = a.user_id AND b.day = a.day + 1
GROUP BY a.day
"""


@query(
    "agg_bitmap_retention",
    oracle=_BITMAP_RETENTION_ORACLE,
    tags=("agg", "events", "sketch", "cohort", "scale"),
)
def agg_bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retained users via bitmap INTERSECTION — the set
    operation that justifies keeping bitmap audience indexes: once the
    per-(day, container) words exist, any cross-day audience overlap
    is an equi-join on container + a bitwise AND + popcount, never a
    re-scan of raw events or a user-level join.

    The container relation (one row per occupied 64-bit word, the
    `agg_bitmap_distinct` sketch) self-joins on (container,
    day = day+1); bit_count(a AND b) counts users present both days
    exactly. The join carries O(containers) ~ distinct/64 rows per
    side — at 100 TB this is the persisted-index path: materialize the
    container table once per snapshot, answer every pairwise cohort /
    retention / audience-overlap question from it. Zero-overlap days
    filter out to mirror the user-level inner join exactly.
    """
    ev = table(spark, sf_dir, "events")
    containers = (
        ev.select(
            F.col("ts").cast("date").alias("day"),
            F.shiftright("user_id", 6).alias("container"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("day", "container")
        .agg(F.bit_or("bit").alias("bitmap"))
    )
    a = containers.alias("a")
    b = containers.alias("b")
    joined = a.join(
        b,
        (F.col("a.container") == F.col("b.container"))
        & (F.col("b.day") == F.date_add(F.col("a.day"), 1)),
    )
    return (
        joined.groupBy(F.col("a.day").alias("day"))
        .agg(
            F.sum(F.bit_count(F.col("a.bitmap").bitwiseAND(F.col("b.bitmap"))))
            .cast("long")
            .alias("retained_next_day")
        )
        .filter(F.col("retained_next_day") > 0)
        .select(F.col("day").cast("string").alias("day"), "retained_next_day")
    )
