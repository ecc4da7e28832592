"""Entity-lifecycle analytics over the events stream (batch form).

Warehouse-shaped operators the reference's Kafka pipeline feeds in
practice (SURVEY.md §2.3 inherits them via DataFusion but never
exercises them): slowly-changing-dimension history compression, state
transition matrices, cumulative-unique growth curves, calendar
gap-filling with forward fill, and RFM segmentation. Each is a single
Catalyst DAG partitioned on user_id — the natural key at 100 TB — and
each carries a DuckDB oracle mirrored expression-for-expression.

Determinism posture: every window carries a total tiebreak order
(ts_us, event_id), day keys are emitted as formatted strings
(engine-portable), money aggregates are exact DECIMAL sums cast once
to double, and ratio columns divide two exactly-determined numbers so
the doubles are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import load_events_us, table
from datafusion_streams_spark.functions import (
    dsum,
    round6_micro,
    round6_ratio,
    sql_round6_micro,
    sql_round6_ratio,
)
from datafusion_streams_spark.operators import query

# ---------------------------------------------------------------------------
# SCD type-2 history compression
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
    FROM events
),
lagged AS (
    SELECT user_id, event_type, ts_us, event_id,
        lag(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
        ) AS prev_type
    FROM e
),
ch AS (
    SELECT user_id, event_type, ts_us, event_id
    FROM lagged
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT
    user_id,
    event_type AS state,
    ts_us AS valid_from_us,
    lead(ts_us) OVER w AS valid_to_us,
    CAST(row_number() OVER w AS BIGINT) AS version,
    CAST(CASE WHEN lead(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
        AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


@query("events_scd2_compress", oracle=_SCD2_ORACLE, tags=("events", "cdc", "window", "temporal"))
def events_scd2_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the raw event log:
    collapse each user's event stream to its state-CHANGE points, then
    stamp every surviving row with a [valid_from, valid_to) interval,
    a version number, and an is_current flag — the standard CDC-to-
    dimension materialization (the reference's Kafka topic is exactly
    such a changelog; cf. /root/reference/src/kafka/execution.rs
    message decode, which yields the changelog rows this compresses).

    Scale: one shuffle on user_id; both windows reuse the same
    partitioning (Catalyst plans a single exchange + sort). The change
    filter drops consecutive duplicates map-side-after-sort, so state
    is never larger than the partition's rows. valid_* are integer
    microseconds — exact in both engines.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.when(F.lead("ts_us").over(w2).isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over event types
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
    FROM events
),
p AS (
    SELECT event_type,
        lead(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
        ) AS next_type
    FROM e
),
c AS (
    SELECT
        event_type AS from_type,
        next_type AS to_type,
        CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM p
    WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
    CAST(n_transitions AS DOUBLE)
        / CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
        AS p_transition
FROM c
"""


@query("events_markov_transitions", oracle=_MARKOV_ORACLE, tags=("events", "window", "agg", "path"))
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: count (from, to) adjacent pairs, normalize per source
    state — the session-modeling primitive behind next-action
    prediction and bot detection.

    Scale: one shuffle on user_id for the lead(), then the pair count
    shuffles on the (from, to) key — a relation bounded by
    |event_type|², tiny at any corpus size; the per-row probability
    divides two bigints (bit-identical doubles in both engines).
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(tot).cast("double")
        ).alias("p_transition"),
    )


# ---------------------------------------------------------------------------
# cumulative unique users (growth curve)
# ---------------------------------------------------------------------------

_CUM_UNIQUES_ORACLE = """
WITH f AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
d AS (
    SELECT strftime(first_day, '%Y-%m-%d') AS day,
        CAST(COUNT(*) AS BIGINT) AS n_new_users
    FROM f GROUP BY 1
)
SELECT day, n_new_users,
    CAST(SUM(n_new_users) OVER (
        ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS BIGINT) AS cum_users
FROM d
"""


@query("events_cumulative_uniques", oracle=_CUM_UNIQUES_ORACLE, tags=("events", "cohort", "window", "agg"))
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day WITHOUT a distinct-over-window
    (which neither engine supports): reduce each user to their first
    active day, count first-appearances per day, then running-sum.
    This is the scale trick — a windowed COUNT(DISTINCT) over 100 TB
    of events becomes one user-keyed min() plus a day-sized cumsum.

    Scale: one shuffle on user_id (first-day agg), then a day-count
    relation small enough that the unpartitioned running-sum window is
    a single-task no-op. Day keys are formatted strings.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = firsts.groupBy(
        F.date_format("first_day", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# calendar gap-fill with zero-fill and forward-fill
# ---------------------------------------------------------------------------

_GAP_FILL_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_total
    FROM events GROUP BY 1, 2
),
b AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
),
spine AS (
    SELECT user_id,
        CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM b
),
j AS (
    SELECT s.user_id, s.day, d.day_total
    FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
)
SELECT
    user_id,
    strftime(day, '%Y-%m-%d') AS day,
    COALESCE(day_total, 0.0) AS day_total_filled,
    last_value(day_total IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS day_total_carry,
    CAST(CASE WHEN day_total IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
FROM j
"""


@query("timeseries_gap_fill", oracle=_GAP_FILL_ORACLE, tags=("events", "temporal", "window", "join"))
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's daily-total series onto a dense calendar
    spine: generate every day in the user's [first, last] activity
    range, left-join the observed totals, and emit both a zero-filled
    and a forward-filled (last-observation-carried-forward) column —
    the time-series-regularization step every per-entity model
    training job needs before featurization.

    Scale: the spine is sequence()/explode per user — generated
    map-side from the user's own bounds row, never a cross join
    against a global calendar — so spine size is activity-span-bounded
    and the join key (user_id, day) reuses the daily agg's
    partitioning. Totals are exact decimal sums; forward fill is
    last(ignorenulls) over the same sort both engines apply.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        dsum("value").alias("day_total")
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("day_total", F.lit(0.0)).alias("day_total_filled"),
        F.last("day_total", ignorenulls=True).over(w).alias("day_total_carry"),
        F.col("day_total").isNull().cast("long").alias("is_gap"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH s AS (
    SELECT user_id,
        MAX(CAST(ts AS DATE)) AS last_day,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM events GROUP BY user_id
),
r AS (
    SELECT user_id,
        CAST(date_diff('day', last_day, MAX(last_day) OVER ()) AS BIGINT)
            AS recency_days,
        n_events, monetary
    FROM s
)
SELECT user_id, recency_days, n_events, monetary,
    CAST(ntile(4) OVER (ORDER BY recency_days ASC,  user_id) AS BIGINT) AS r_score,
    CAST(ntile(4) OVER (ORDER BY n_events DESC,     user_id) AS BIGINT) AS f_score,
    CAST(ntile(4) OVER (ORDER BY monetary DESC,     user_id) AS BIGINT) AS m_score,
    CAST(ntile(4) OVER (ORDER BY recency_days ASC,  user_id) AS VARCHAR)
        || '-' || CAST(ntile(4) OVER (ORDER BY n_events DESC, user_id) AS VARCHAR)
        || '-' || CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS VARCHAR)
        AS segment
FROM r
"""


@query("events_rfm_segmentation", oracle=_RFM_ORACLE, tags=("events", "window", "agg", "cohort"))
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation: one
    row per user with ntile(4) scores on each axis and the composite
    'r-f-m' segment label — the classic user-value stratification that
    downstream sampling operators (sample_quality_tiers) consume.

    Scale: one shuffle on user_id reduces the event log to a
    users-sized relation; the three ntile windows run over that
    reduced relation (global sort of |users| rows — at extreme scale
    swap ntile for a percentile-threshold join, same contract).
    Monetary is an exact decimal sum so the ORDER BY monetary ties are
    resolved identically in both engines (user_id tiebreak regardless).
    """
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("monetary"),
    )
    stats = stats.withColumn(
        "recency_days",
        F.datediff(F.max("last_day").over(Window.partitionBy()), F.col("last_day"))
        .cast("long"),
    )
    w_r = Window.orderBy(F.asc("recency_days"), "user_id")
    w_f = Window.orderBy(F.desc("n_events"), "user_id")
    w_m = Window.orderBy(F.desc("monetary"), "user_id")
    scored = stats.select(
        "user_id",
        "recency_days",
        "n_events",
        "monetary",
        F.ntile(4).over(w_r).cast("long").alias("r_score"),
        F.ntile(4).over(w_f).cast("long").alias("f_score"),
        F.ntile(4).over(w_m).cast("long").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# peak concurrency (sweep-line over session intervals)
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000  # the sessionize gap, in integer microseconds

_SESSION_BOUNDS_CTE = f"""
e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events
),
lagged AS (
    SELECT user_id, event_id, ts_us,
        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
            AS prev_us
    FROM e
),
flagged AS (
    SELECT user_id, ts_us,
        CASE WHEN prev_us IS NULL OR ts_us > prev_us + {_GAP_US}
             THEN 1 ELSE 0 END AS is_start
    FROM lagged
),
numbered AS (
    SELECT user_id, ts_us,
        SUM(is_start) OVER (
            PARTITION BY user_id ORDER BY ts_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
    FROM flagged
),
sess AS (
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        MIN(ts_us) AS s_start_us, MAX(ts_us) AS s_end_us
    FROM numbered GROUP BY user_id, session_seq
)
"""

_CONCURRENCY_ORACLE = f"""
WITH {_SESSION_BOUNDS_CTE},
deltas AS (
    SELECT user_id, session_seq, s_start_us AS ts_us, 1 AS delta FROM sess
    UNION ALL
    SELECT user_id, session_seq, s_end_us AS ts_us, -1 AS delta FROM sess
),
swept AS (
    SELECT ts_us, delta,
        SUM(delta) OVER (
            ORDER BY ts_us, delta DESC, user_id, session_seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS concurrency
    FROM deltas
)
SELECT
    strftime(CAST(make_timestamp(ts_us) AS DATE), '%Y-%m-%d') AS day,
    CAST(MAX(concurrency) AS BIGINT) AS peak_concurrency,
    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_sessions_started
FROM swept
GROUP BY 1
"""


@query("events_peak_concurrency", oracle=_CONCURRENCY_ORACLE, tags=("events", "session", "window", "temporal"))
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day via the classic sweep-line:
    sessionize (30-min gap), emit +1 at each session start and -1 at
    each end, running-sum the deltas in timestamp order (starts before
    ends at the same instant — closed intervals), then take the daily
    maximum — the capacity-planning number every serving stack asks of
    its event log.

    Scale: sessionization is the user_id-partitioned window pass; the
    sweep itself is a TWO-PASS DISTRIBUTED prefix sum over a
    sessions-sized (not events-sized) relation. Pass 1 runs the
    running sum inside deterministic range buckets (calendar day — a
    monotone function of the sort key, so bucket order == sort order
    and every day's window task runs in parallel); pass 2 computes
    per-day subtotals on the days-sized relation, turns them into
    exclusive prefix offsets with a window over that tiny relation,
    and broadcast-joins the offset back. No single-task
    events/sessions-sized Window remains in the plan (asserted in
    tests/test_plans.py); the only global sort is over O(days) rows.
    All arithmetic is integer microseconds.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    is_start = F.when(prev.isNull() | (F.col("ts_us") > prev + _GAP_US), 1).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = ev.select(
        "user_id",
        "ts_us",
        F.sum(is_start).over(wsum).cast("long").alias("session_seq"),
    )
    sess = numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_start_us"), F.max("ts_us").alias("s_end_us")
    )
    deltas = sess.select(
        "user_id", "session_seq", F.col("s_start_us").alias("ts_us"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select(
            "user_id", "session_seq", F.col("s_end_us").alias("ts_us"), F.lit(-1).alias("delta")
        )
    ).withColumn(
        "day", F.date_format(F.timestamp_micros(F.col("ts_us")), "yyyy-MM-dd")
    )
    # Pass 1: running sum WITHIN each day (day is monotone in ts_us, so
    # per-day local order concatenated in day order == the global sweep
    # order; starts sort before ends at the same instant).
    wlocal = Window.partitionBy("day").orderBy(
        "ts_us", F.desc("delta"), "user_id", "session_seq"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = deltas.select(
        "day", "delta", F.sum("delta").over(wlocal).alias("local_run")
    )
    # Pass 2: exclusive prefix offsets over the days-sized subtotal
    # relation (the only global-ordered window — O(days) rows).
    woff = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        deltas.groupBy("day")
        .agg(F.sum("delta").alias("day_total"))
        .select(
            "day",
            F.coalesce(F.sum("day_total").over(woff), F.lit(0)).alias("day_offset"),
        )
    )
    swept = local.join(F.broadcast(offsets), "day").select(
        "day", "delta", (F.col("local_run") + F.col("day_offset")).alias("concurrency")
    )
    return swept.groupBy("day").agg(
        F.max("concurrency").cast("long").alias("peak_concurrency"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions_started"),
    )


# ---------------------------------------------------------------------------
# interval-overlap join (big x big shape via day binning)
# ---------------------------------------------------------------------------

_CAMPAIGN_WEEKS = 5

_INTERVAL_OVERLAP_ORACLE = f"""
WITH {_SESSION_BOUNDS_CTE},
g AS (SELECT MIN(CAST(ts AS DATE)) AS g0 FROM events),
camp AS (
    SELECT CAST(i AS BIGINT) AS c_id,
        epoch_us(CAST(g0 + to_days(CAST(i * 7 AS INTEGER)) AS TIMESTAMP))
            AS c_start_us,
        epoch_us(CAST(g0 + to_days(CAST((i + 1) * 7 AS INTEGER)) AS TIMESTAMP))
            AS c_end_us
    FROM g, (SELECT UNNEST(generate_series(0, {_CAMPAIGN_WEEKS - 1})) AS i)
)
SELECT s.user_id, s.session_seq, c.c_id,
    least(s.s_end_us, c.c_end_us) - greatest(s.s_start_us, c.c_start_us)
        AS overlap_us
FROM sess s JOIN camp c
  ON s.s_start_us <= c.c_end_us AND c.c_start_us <= s.s_end_us
"""


@query("join_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE, tags=("join", "temporal", "range", "events"))
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — session intervals x weekly campaign
    windows, closed-interval semantics — executed with the DAY-BIN
    equi-join strategy: explode each interval into the calendar days
    it touches, equi-join on the day key, dedupe pairs, compute the
    exact overlap, and filter to true overlaps. Spark has no native
    interval join; the bin trick turns it into a plain shuffled
    equi-join that scales to big x big inputs (neither side needs to
    be broadcast, unlike join_range_bands' broadcast-range strategy),
    at the cost of duration/bin-width fan-out — pick the bin so a
    typical interval touches O(1) bins.

    The DuckDB oracle runs the textbook inequality join instead, so
    the hash match proves the binned rewrite is exactly lossless (a
    closed overlap always shares >= 1 calendar day with both binned
    sides; the final overlap_us >= 0 filter removes same-day
    non-overlaps). All bound arithmetic is integer microseconds.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    prev = F.lag("ts_us").over(w)
    is_start = F.when(prev.isNull() | (F.col("ts_us") > prev + _GAP_US), 1).otherwise(0)
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = ev.select(
        "user_id", "ts_us", F.sum(is_start).over(wsum).cast("long").alias("session_seq")
    )
    sess = numbered.groupBy("user_id", "session_seq").agg(
        F.min("ts_us").alias("s_start_us"), F.max("ts_us").alias("s_end_us")
    )
    g0 = ev.agg(F.min(F.to_date(F.timestamp_micros("ts_us"))).alias("g0"))
    camp = g0.select(
        F.explode(F.sequence(F.lit(0), F.lit(_CAMPAIGN_WEEKS - 1))).alias("i"), "g0"
    ).select(
        F.col("i").cast("long").alias("c_id"),
        F.unix_micros(
            F.to_timestamp(F.date_add("g0", F.col("i") * 7))
        ).alias("c_start_us"),
        F.unix_micros(
            F.to_timestamp(F.date_add("g0", (F.col("i") + 1) * 7))
        ).alias("c_end_us"),
    )
    sess_days = sess.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros("s_start_us")),
                F.to_date(F.timestamp_micros("s_end_us")),
            )
        ),
    )
    camp_days = camp.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros("c_start_us")),
                F.to_date(F.timestamp_micros("c_end_us")),
            )
        ),
    )
    paired = (
        sess_days.join(camp_days, "day")
        .groupBy("user_id", "session_seq", "c_id",
                 "s_start_us", "s_end_us", "c_start_us", "c_end_us")
        .agg(F.count(F.lit(1)).alias("_shared_days"))
    )
    return paired.select(
        "user_id",
        "session_seq",
        "c_id",
        (
            F.least("s_end_us", "c_end_us") - F.greatest("s_start_us", "c_start_us")
        ).alias("overlap_us"),
    ).filter(F.col("overlap_us") >= 0)


# ---------------------------------------------------------------------------
# sequence pattern match (MATCH_RECOGNIZE emulation)
# ---------------------------------------------------------------------------

_PATTERN = "vcp"  # view -> click -> purchase, consecutive

_PATTERN_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
        substr(event_type, 1, 1) AS sym
    FROM events
),
seqs AS (
    SELECT user_id,
        string_agg(sym, '' ORDER BY ts_us, event_id) AS seq
    FROM e
    GROUP BY user_id
)
SELECT user_id,
    CAST(length(seq) AS BIGINT) AS seq_len,
    CAST((length(seq) - length(replace(seq, '{_PATTERN}', ''))) / 3 AS BIGINT)
        AS n_patterns
FROM seqs
WHERE length(seq) - length(replace(seq, '{_PATTERN}', '')) > 0
"""


@query("events_pattern_match", oracle=_PATTERN_ORACLE, tags=("events", "path", "window"))
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection: users whose
    event history contains the consecutive view->click->purchase
    motif, with the per-user match count — the conversion-pattern
    primitive SQL engines expose as MATCH_RECOGNIZE (neither Spark nor
    DuckDB implements it; both get the same semantics here by encoding
    each user's ordered history as a compact symbol string and
    counting non-overlapping motif occurrences via replace()).

    Scale: one shuffle on (user_id, month); the per-group encode is
    collect_list bounded by a user's events WITHIN ONE MONTH, never
    their full history — machine actors with unbounded histories can't
    produce a giant row (property-tested with a 10^6-event single user
    in tests/test_scale_behaviors.py). Chunks overlap by
    |pattern|-1 = 2 carry symbols (the tail of the previous <=2
    chunks, a lag window over the months-sized chunk relation), so
    every cross-boundary occurrence is counted exactly once: "vcp"
    has no self-overlap, so occurrence count == the non-overlapping
    replace() count, and each occurrence is attributed to the chunk
    holding its final symbol (the carry is < |pattern| long, so no
    occurrence fits inside it). array_sort on (ts_us, event_id) makes
    the collected order deterministic under any partitioning.
    """
    ev = load_events_us(spark, sf_dir)
    chunks = (
        ev.select(
            "user_id",
            "ts_us",
            "event_id",
            F.substring("event_type", 1, 1).alias("sym"),
            F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM").alias("month"),
        )
        .groupBy("user_id", "month")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "sym"))),
                    lambda x: x["sym"],
                ),
                "",
            ).alias("chunk")
        )
    )
    # Carry the last |pattern|-1 symbols of the preceding history into
    # each chunk. Chunks are non-empty, so the previous two suffice to
    # reconstruct the 2-symbol tail even when the previous chunk is a
    # single symbol; the lag window runs over months-per-user rows.
    wmonth = Window.partitionBy("user_id").orderBy("month")
    carry = F.right(
        F.concat(
            F.coalesce(F.lag("chunk", 2).over(wmonth), F.lit("")),
            F.coalesce(F.lag("chunk", 1).over(wmonth), F.lit("")),
        ),
        F.lit(len(_PATTERN) - 1),
    )
    ext = F.concat(carry, F.col("chunk"))
    per_chunk = chunks.select(
        "user_id",
        F.length("chunk").alias("chunk_len"),
        (
            (F.length(ext) - F.length(F.replace(ext, F.lit(_PATTERN), F.lit(""))))
            / len(_PATTERN)
        ).alias("chunk_matches"),
    )
    return (
        per_chunk.groupBy("user_id")
        .agg(
            F.sum("chunk_len").cast("long").alias("seq_len"),
            F.sum("chunk_matches").cast("long").alias("n_patterns"),
        )
        .filter(F.col("n_patterns") > 0)
    )


# ---------------------------------------------------------------------------
# PageRank over the event-type transition graph (iterative, exact parity)
# ---------------------------------------------------------------------------

_PR_ITERS = 5
_PR_DAMP = 0.85
_PR_SCALE = 1_000_000_000  # contribution rounding grid (1e-9)


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs.

    Each iteration rounds every edge contribution rank*weight onto a
    1e-9 grid and sums the scaled BIGINTs, so the accumulation is
    order-free and exact — the same integer-grid discipline as
    text_unigram_logprob, applied per iteration so float state never
    diverges between engines.
    """
    parts = [
        """
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
    FROM events
),
p AS (
    SELECT event_type AS src,
        lead(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
        ) AS dst
    FROM e
),
edges_n AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM p WHERE dst IS NOT NULL GROUP BY src, dst
),
edges AS (
    SELECT src, dst,
        CAST(n AS DOUBLE)
            / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS w
    FROM edges_n
),
nodes AS (
    SELECT src AS node FROM edges_n
    UNION
    SELECT dst FROM edges_n
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
r0 AS (
    SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS rank
    FROM nodes, nn
)"""
    ]
    for k in range(1, _PR_ITERS + 1):
        parts.append(
            f""",
inc{k} AS (
    SELECT e.dst AS node,
        CAST(SUM(CAST(round(r.rank * e.w * {_PR_SCALE}, 0) AS BIGINT)) AS DOUBLE)
            / {_PR_SCALE} AS incoming
    FROM edges e JOIN r{k - 1} r ON e.src = r.node
    GROUP BY e.dst
),
r{k} AS (
    SELECT n.node,
        0.15 / CAST((SELECT n_nodes FROM nn) AS DOUBLE)
            + {_PR_DAMP} * COALESCE(i.incoming, 0.0) AS rank
    FROM nodes n LEFT JOIN inc{k} i ON n.node = i.node
)"""
        )
    parts.append(
        f"""
SELECT node, rank FROM r{_PR_ITERS}"""
    )
    return "".join(parts)


@query("graph_pagerank_transitions", oracle=_pagerank_oracle(), tags=("graph", "iterative", "events", "agg"))
def graph_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration (5) damped PageRank over the event-type
    transition graph: which states does user behavior concentrate in —
    the canonical iterative-graph workload, here with an EXACT oracle
    (DuckDB runs the identical 5 iterations as unrolled CTEs).

    Float parity across an iterative algorithm: per iteration, every
    edge contribution rank*weight is rounded onto a 1e-9 grid and the
    scaled BIGINTs are summed (order-free), so both engines hold
    bit-identical rank vectors at every step — float divergence can
    never compound. Edge weights divide two exact bigints.

    Scale: the rank vector is node-sized (like k-means' centroids) and
    rides a broadcast join against the src-partitioned edge relation;
    each iteration is one map-side join + one shuffle on dst, the
    standard distributed PageRank shape. The driver-side Python loop
    only stitches the (tiny) logical plan — no data is collected.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )
    edges_n = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("n"))
    edges = edges_n.select(
        "src",
        "dst",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("src")).cast("double")
        ).alias("w"),
    )
    nodes = edges_n.select(F.col("src").alias("node")).union(
        edges_n.select(F.col("dst").alias("node"))
    ).distinct()
    n_nodes = nodes.count()  # model-sized scalar (|event types|), not corpus data
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(_PR_ITERS):
        inc = (
            edges.join(F.broadcast(ranks), edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") * F.col("w") * _PR_SCALE, 0)
                .cast("long")
                .alias("scaled"),
            )
            .groupBy("node")
            .agg((F.sum("scaled").cast("double") / _PR_SCALE).alias("incoming"))
        )
        ranks = nodes.join(inc, "node", "left").select(
            "node",
            (
                F.lit(0.15 / n_nodes)
                + _PR_DAMP * F.coalesce(F.col("incoming"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


# ---------------------------------------------------------------------------
# per-user linear trend (exact-sum simple regression)
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH e AS (
    SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, value FROM events
),
x AS (
    SELECT user_id,
        (ts_us - MIN(ts_us) OVER (PARTITION BY user_id)) // 1000000 AS x_sec,
        CAST(round(value * 100, 0) AS BIGINT) AS y_c
    FROM e
),
s AS (
    SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(x_sec) AS BIGINT) AS sx,
        CAST(SUM(y_c) AS BIGINT) AS sy,
        CAST(SUM(x_sec * y_c) AS BIGINT) AS sxy,
        CAST(SUM(x_sec * x_sec) AS BIGINT) AS sxx
    FROM x GROUP BY user_id
)
SELECT user_id, n_events,
    CASE WHEN CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
         THEN 0.0
         ELSE (CAST(n_events AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n_events AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * 864.0 END
        AS slope_per_day
FROM s
"""


@query("events_value_trend", oracle=_TREND_ORACLE, tags=("events", "agg", "analytic", "window"))
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time (ordinary least
    squares slope, value units per day) — is this account's spend
    rising or falling — computed as a single exact-sum aggregation,
    the closed-form regression every feature store materializes.

    Float parity for a REGRESSION: x is integer seconds since the
    user's first event, y is integer cents (the fixture's values are
    2 dp exact, verified), so all five sufficient statistics (n, Sx,
    Sy, Sxy, Sxx) are exact BIGINTs in any accumulation order; the
    slope formula then runs in doubles over those exact integers —
    bit-identical in both engines, including the degenerate-variance
    branch (den == 0 compares exactly).

    Scale: one shuffle on user_id shared by the min-ts window and the
    aggregation; sufficient statistics compose map-side (partial
    aggregation), the canonical distributed-regression shape.
    """
    ev = load_events_us(spark, sf_dir)
    x = ev.select(
        "user_id",
        (
            (F.col("ts_us") - F.min("ts_us").over(Window.partitionBy("user_id")))
            / F.lit(1_000_000)
        ).cast("long").alias("x_sec"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y_c"),
    )
    s = x.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("x_sec").cast("long").alias("sx"),
        F.sum("y_c").cast("long").alias("sy"),
        F.sum(F.col("x_sec") * F.col("y_c")).cast("long").alias("sxy"),
        F.sum(F.col("x_sec") * F.col("x_sec")).cast("long").alias("sxx"),
    )
    n_d = F.col("n_events").cast("double")
    den = n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    num = n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    return s.select(
        "user_id",
        "n_events",
        F.when(den == 0.0, F.lit(0.0)).otherwise(num / den * 864.0).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# seasonality profile (hour-of-day x day-of-week)
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH c AS (
    SELECT
        CAST(EXTRACT(dow FROM ts) AS BIGINT) AS day_of_week,
        CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
        CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
SELECT day_of_week, hour_of_day, n_events,
    CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM c, tot
"""


@query("events_seasonality", oracle=_SEASONALITY_ORACLE, tags=("events", "agg", "temporal"))
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heat map with traffic share —
    the seasonality profile capacity planning and anomaly baselining
    start from. DOW follows the SQL convention 0=Sunday (Spark's
    dayofweek is 1=Sunday, shifted here to match EXTRACT(dow)).

    Scale: one aggregation onto a 7x24-bounded key space — map-side
    partials reduce the event log to at most 168 rows per partition
    before the exchange; shares divide two exact bigints.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("day_of_week"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = Window.partitionBy()
    return c.select(
        "day_of_week",
        "hour_of_day",
        "n_events",
        (
            F.col("n_events").cast("double")
            / F.sum("n_events").over(total).cast("double")
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# cohort LTV matrix (cohort week x account-age week revenue)
# ---------------------------------------------------------------------------

_COHORT_LTV_ORACLE = """
WITH f AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
j AS (
    SELECT e.user_id,
        CAST(date_diff('day', DATE '2024-01-01', f.first_day) // 7 AS BIGINT)
            AS cohort_week,
        CAST(date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS BIGINT)
            AS age_week,
        e.value
    FROM events e JOIN f ON e.user_id = f.user_id
)
SELECT cohort_week, age_week,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM j GROUP BY cohort_week, age_week
"""


@query("events_cohort_ltv", oracle=_COHORT_LTV_ORACLE, tags=("events", "cohort", "agg", "join"))
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: revenue by (signup-cohort week x
    account-age week) — the matrix whose row-sums are LTV curves and
    whose diagonal is calendar revenue; the standard payback-period
    report. Weeks anchor at a fixed epoch so cohort keys are stable
    across runs and engines.

    Scale: the first-seen relation is one row per user — broadcast
    against the event log (the same shape as events_retention); the
    final rollup is weeks^2-bounded. Revenue is an exact decimal sum.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    j = ev.join(F.broadcast(firsts), "user_id").select(
        F.floor(F.datediff("first_day", F.lit("2024-01-01")) / 7)
        .cast("long")
        .alias("cohort_week"),
        F.floor(F.datediff(F.to_date("ts"), F.col("first_day")) / 7)
        .cast("long")
        .alias("age_week"),
        "value",
    )
    return j.groupBy("cohort_week", "age_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum("value").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart (finite-horizon, dyadic weights -> exact floats)
# ---------------------------------------------------------------------------

_EWMA_THRESHOLD_CENTS = 15000.0  # 150.00 in value units

_EWMA_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        CAST(round(value * 100, 0) AS BIGINT) AS y_c
    FROM events
),
l AS (
    SELECT user_id, event_id, ts_us, y_c,
        lag(y_c, 1) OVER w AS y1,
        lag(y_c, 2) OVER w AS y2,
        lag(y_c, 3) OVER w AS y3,
        lag(y_c, 4) OVER w AS y4
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
p AS (
    SELECT user_id, event_id, y_c,
        (CASE WHEN y1 IS NULL THEN 0.0 ELSE 1.0   * y1 END
       + CASE WHEN y2 IS NULL THEN 0.0 ELSE 0.5   * y2 END
       + CASE WHEN y3 IS NULL THEN 0.0 ELSE 0.25  * y3 END
       + CASE WHEN y4 IS NULL THEN 0.0 ELSE 0.125 * y4 END) AS num,
        (CASE WHEN y1 IS NULL THEN 0.0 ELSE 1.0   END
       + CASE WHEN y2 IS NULL THEN 0.0 ELSE 0.5   END
       + CASE WHEN y3 IS NULL THEN 0.0 ELSE 0.25  END
       + CASE WHEN y4 IS NULL THEN 0.0 ELSE 0.125 END) AS den
    FROM l
)
SELECT user_id, event_id,
    CAST(y_c AS DOUBLE) / 100.0 AS value,
    CASE WHEN den = 0.0 THEN NULL ELSE num / den / 100.0 END AS ewma_pred,
    CASE WHEN den = 0.0 THEN NULL
         ELSE (CAST(y_c AS DOUBLE) - num / den) / 100.0 END AS residual,
    CAST(CASE WHEN den > 0.0
              AND abs(CAST(y_c AS DOUBLE) - num / den) > {_EWMA_THRESHOLD_CENTS}
         THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM p
"""


@query("events_ewma_control", oracle=_EWMA_ORACLE, tags=("events", "window", "analytic", "anomaly"))
def events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart: each event's value vs an exponentially
    weighted prediction from the user's previous four values
    (geometric weights 1, 1/2, 1/4, 1/8, renormalized over present
    lags), flagging residuals beyond the control limit — the
    continuation of events_anomaly_zscore into the smoothing family
    (z-score asks 'unusual vs trailing variance'; EWMA asks 'broke the
    trend').

    Exact float parity WITHOUT rounding tricks: values are integer
    cents and the weights are dyadic rationals, so every product and
    partial sum lands on the 2^-3 grid — exactly representable — and
    the single division of two exact doubles is correctly rounded
    identically in both engines, as is the threshold compare. The
    first event per user has no prediction (NULL, matched).

    Scale: one user_id shuffle; four lags share one window sort.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    y = F.round(F.col("value") * 100, 0).cast("long")
    l = ev.select(
        "user_id", "event_id", y.alias("y_c"),
        F.lag(y, 1).over(w).alias("y1"),
        F.lag(y, 2).over(w).alias("y2"),
        F.lag(y, 3).over(w).alias("y3"),
        F.lag(y, 4).over(w).alias("y4"),
    )

    def term(c, wt):
        return F.when(F.col(c).isNull(), F.lit(0.0)).otherwise(F.lit(wt) * F.col(c))

    def wsum(c, wt):
        return F.when(F.col(c).isNull(), F.lit(0.0)).otherwise(F.lit(wt))

    num = term("y1", 1.0) + term("y2", 0.5) + term("y3", 0.25) + term("y4", 0.125)
    den = wsum("y1", 1.0) + wsum("y2", 0.5) + wsum("y3", 0.25) + wsum("y4", 0.125)
    p = l.select("user_id", "event_id", "y_c", num.alias("num"), den.alias("den"))
    pred = F.when(F.col("den") == 0.0, F.lit(None)).otherwise(
        F.col("num") / F.col("den")
    )
    resid = F.col("y_c").cast("double") - F.col("num") / F.col("den")
    return p.select(
        "user_id",
        "event_id",
        (F.col("y_c").cast("double") / 100.0).alias("value"),
        (pred / 100.0).alias("ewma_pred"),
        F.when(F.col("den") == 0.0, F.lit(None)).otherwise(resid / 100.0).alias("residual"),
        F.when(
            (F.col("den") > 0.0) & (F.abs(resid) > _EWMA_THRESHOLD_CENTS), 1
        ).otherwise(0).cast("long").alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# new vs returning daily split
# ---------------------------------------------------------------------------

_NEW_VS_RETURNING_ORACLE = """
WITH f AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
j AS (
    SELECT strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
        CASE WHEN CAST(e.ts AS DATE) = f.first_day
             THEN 'new' ELSE 'returning' END AS user_kind,
        e.user_id
    FROM events e JOIN f ON e.user_id = f.user_id
)
SELECT day, user_kind,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY day, user_kind
"""


@query("events_new_vs_returning", oracle=_NEW_VS_RETURNING_ORACLE, tags=("events", "cohort", "agg"))
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: each day's events and actives
    partitioned by whether the user is on their first active day —
    the growth-accounting companion to events_cumulative_uniques (its
    n_new_users column is this query's 'new' slice, a consistency the
    oracle pins across both).

    Scale: first-seen is the usual one-row-per-user reduction,
    broadcast against the event log; the rollup key space is
    2 x days.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    j = ev.join(F.broadcast(firsts), "user_id").select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        F.when(F.to_date("ts") == F.col("first_day"), "new")
        .otherwise("returning")
        .alias("user_kind"),
        "user_id",
    )
    return j.groupBy("day", "user_kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# conversion latency distribution
# ---------------------------------------------------------------------------

_TIME_TO_CONVERT_ORACLE = """
WITH v AS (
    SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
    FROM events WHERE event_type = 'view'
),
p AS (
    SELECT user_id, epoch_ns(ts) // 1000 AS ts_us
    FROM events WHERE event_type = 'purchase'
),
nxt AS (
    SELECT v.user_id, v.event_id, MIN(p.ts_us) - v.ts_us AS gap_us
    FROM v JOIN p ON v.user_id = p.user_id AND p.ts_us >= v.ts_us
    GROUP BY v.user_id, v.event_id, v.ts_us
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_converted_views,
    quantile_cont(gap_us / 1000000.0, 0.5) AS p50_seconds,
    quantile_cont(gap_us / 1000000.0, 0.9) AS p90_seconds,
    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
    CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM nxt
"""


@query("events_time_to_convert", oracle=_TIME_TO_CONVERT_ORACLE, tags=("events", "funnel", "agg", "temporal"))
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every view that is
    eventually followed by a purchase from the same user, the gap to
    the NEXT purchase, summarized as exact interpolated percentiles —
    the 'how long does intent take to convert' curve funnel reports
    plot next to events_funnel's conversion counts.

    Parity: gaps are exact integer microseconds (MIN over a
    bigint-keyed join), converted to seconds by one exact division
    before the quantile; both engines implement the same
    linear-interpolation quantile over identical doubles
    (agg_percentiles' established contract).

    Scale: the view-purchase candidate join is user-keyed and
    time-filtered (same bounded-state shape as the streaming interval
    join); one final scalar aggregate. At extreme scale the MIN-per-
    view folds into the forward AS-OF carry (join_asof_forward) —
    zero extra shuffles.
    """
    ev = load_events_us(spark, sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts_us"
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts_us").alias("p_ts_us")
    )
    nxt = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts_us") >= F.col("ts_us")),
        )
        .groupBy("user_id", "event_id", "ts_us")
        .agg((F.min("p_ts_us") - F.first("ts_us")).alias("gap_us"))
    )
    return nxt.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted_views"),
        F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.5)).alias("p50_seconds"),
        F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.9)).alias("p90_seconds"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# inter-arrival statistics
# ---------------------------------------------------------------------------

_INTER_ARRIVAL_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events
),
g AS (
    SELECT user_id,
        ts_us - lag(ts_us) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
        ) AS gap_us
    FROM e
)
SELECT user_id,
    CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
    quantile_cont(gap_us / 1000000.0, 0.5) AS p50_gap_seconds,
    quantile_cont(gap_us / 1000000.0, 0.9) AS p90_gap_seconds,
    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
FROM g
WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


@query("events_inter_arrival", oracle=_INTER_ARRIVAL_ORACLE, tags=("events", "window", "agg", "anomaly"))
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival time distribution (median / p90 gap,
    minimum gap): the cadence fingerprint — machine traffic shows
    impossibly small or implausibly regular gaps, human traffic a
    heavy right tail; min_gap_us is the rate-limit audit column.

    Parity: gaps are exact integer microseconds from the lag; one
    exact division to seconds feeds the shared linear-interpolation
    quantile. Scale: lag and the aggregation share one user_id
    exchange.
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.5)).alias("p50_gap_seconds"),
        F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.9)).alias("p90_gap_seconds"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )


# ---------------------------------------------------------------------------
# point-in-time join against the SCD2 dimension
# ---------------------------------------------------------------------------

_POINT_IN_TIME_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
    FROM events
),
lagged AS (
    SELECT user_id, event_type, ts_us, event_id,
        lag(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
        ) AS prev_type
    FROM e
),
ch AS (
    SELECT user_id, event_type, ts_us, event_id
    FROM lagged
    WHERE prev_type IS NULL OR prev_type <> event_type
),
dim AS (
    SELECT user_id, event_type AS state, ts_us AS valid_from_us,
        lead(ts_us) OVER w AS valid_to_us,
        CAST(row_number() OVER w AS BIGINT) AS version
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
purchases AS (
    SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, d.state AS state_at_purchase, d.version
FROM purchases p JOIN dim d
  ON p.user_id = d.user_id
 AND d.valid_from_us <= p.ts_us
 AND (d.valid_to_us IS NULL OR p.ts_us < d.valid_to_us)
"""


@query("join_point_in_time", oracle=_POINT_IN_TIME_ORACLE, tags=("join", "temporal", "cdc", "events"))
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each purchase event joined to
    the SCD2 version (events_scd2_compress's output) that was valid AT
    the purchase instant — the time-travel join every feature store
    must get right (training-serving skew is exactly this join done
    wrong). Interval semantics [valid_from, valid_to): an event at a
    version boundary belongs to the NEW version, matching the
    dimension's own chaining invariant.

    Scale: both sides are user-keyed; the interval predicate rides the
    user_id equi-join (state bounded by versions per user — the same
    banded-join shape as join_range_bands, no broadcast needed since
    the dimension co-partitions with the facts).
    """
    ev = load_events_us(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", "ts_us", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    dim = changes.select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("long").alias("version"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    return (
        purchases.join(
            dim,
            (F.col("user_id") == F.col("d_user_id"))
            & (F.col("valid_from_us") <= F.col("ts_us"))
            & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us"))),
        )
        .select(
            "event_id",
            "user_id",
            F.col("state").alias("state_at_purchase"),
            "version",
        )
    )


# ---------------------------------------------------------------------------
# daily error-rate shares
# ---------------------------------------------------------------------------

_ERROR_RATE_ORACLE = """
WITH d AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_errors,
        CAST(COUNT(DISTINCT CASE WHEN event_type = 'error'
                                 THEN user_id END) AS BIGINT)
            AS n_users_with_errors
    FROM events GROUP BY 1
)
SELECT day, n_events, n_errors, n_users_with_errors,
    CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS error_rate
FROM d
"""


@query("events_error_rate", oracle=_ERROR_RATE_ORACLE, tags=("events", "agg", "anomaly"))
def events_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-rate report: error share of all events plus the
    distinct-user blast radius — the first chart on every service
    health dashboard, and the conditional-aggregation idiom
    (COUNT(DISTINCT CASE ...)) stated once as an oracle-checked
    contract.

    Scale: one day-keyed aggregation; the conditional distinct is the
    only expensive term (exact per-day user sets) — at extreme scale
    it swaps for approx_count_distinct with the same query shape.
    Rates divide exact bigints.
    """
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.countDistinct(
            F.when(F.col("event_type") == "error", F.col("user_id"))
        ).cast("long").alias("n_users_with_errors"),
    )
    return d.select(
        "day", "n_events", "n_errors", "n_users_with_errors",
        (
            F.col("n_errors").cast("double") / F.col("n_events").cast("double")
        ).alias("error_rate"),
    )


# ---------------------------------------------------------------------------
# audience overlap: Jaccard between event-type user populations
# ---------------------------------------------------------------------------

_AUDIENCE_OVERLAP_ORACLE = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY event_type),
inter AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
    FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b,
       CAST(i.n_both AS BIGINT) AS n_both,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       {sql_round6_ratio("i.n_both", "sa.n + sb.n - i.n_both")} AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


@query(
    "events_audience_overlap",
    oracle=_AUDIENCE_OVERLAP_ORACLE,
    tags=("events", "join", "agg", "cohort"),
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: exact Jaccard similarity between the
    user populations of every event-type pair — which behaviors share
    an audience (the segment-overlap report behind campaign targeting
    and the cross-source twin of dedup_source_overlap, keyed on users
    instead of shingles).

    Scale: the per-user self-join fans out C(types_per_user, 2) <=
    C(|event types|, 2) rows per user — bounded by the SQUARE OF THE
    VOCABULARY (5 types -> <= 10 pair rows/user), never by user count;
    one shuffle on user_id for the pair expansion, one on the 25-cell
    pair key for the count, and the size join broadcasts a |types|-row
    table. Jaccard divides three exactly-counted integers, so the
    doubles are bit-identical across engines.
    """
    ev = table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            # exact-integer 6-dp rounding (see functions.round6_ratio)
            round6_ratio("n_both", "n_a + n_b - n_both").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# hysteresis alerting: two-threshold state machine per user
# ---------------------------------------------------------------------------

_HYST_HIGH = 180.0
_HYST_LOW = 40.0

_HYSTERESIS_ORACLE = f"""
WITH crossings AS (
    SELECT user_id, event_id, ts, value,
        CASE WHEN value >= {_HYST_HIGH} THEN 'on'
             WHEN value <= {_HYST_LOW} THEN 'off' END AS crossing
    FROM events
),
carried AS (
    SELECT user_id, event_id, value,
        coalesce(last_value(crossing IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), 'off') AS state
    FROM crossings
),
flagged AS (
    SELECT user_id, state,
        CASE WHEN state = 'on' AND coalesce(lag(state) OVER (
            PARTITION BY user_id ORDER BY event_id
        ), 'off') = 'off' THEN 1 ELSE 0 END AS fired
    FROM carried
)
SELECT user_id,
       CAST(SUM(fired) AS BIGINT) AS n_alerts,
       CAST(COUNT(CASE WHEN state = 'on' THEN 1 END) AS BIGINT) AS n_events_in_alert,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM flagged
GROUP BY user_id
HAVING SUM(fired) > 0
"""


@query(
    "events_hysteresis_alerts",
    oracle=_HYSTERESIS_ORACLE,
    tags=("events", "anomaly", "window", "stateful"),
)
def events_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold (hysteresis) alerting: a per-user state machine
    that trips ON when value crosses the high watermark and clears only
    below the low watermark — the debounce pattern that stops a metric
    oscillating around a single threshold from paging every sample.

    Sequential state expressed relationally: classify each event as an
    'on'/'off' CROSSING or a no-op, carry the latest crossing forward
    with last_value(IGNORE NULLS) over the (ts, event_id)-ordered user
    window, and count off->on edges with lag. One exchange on user_id
    serves the carry, the edge detection and the final rollup — the
    same single-pass shape a stateful streaming implementation
    (streaming_sessionize_state) maintains incrementally.

    The lag ordering uses event_id alone, which the carry order (ts,
    event_id) makes consistent in both engines — lag over a
    differently-keyed reorder of equal rows is where engines silently
    disagree.
    """
    ev = table(spark, sf_dir, "events")
    crossing = F.when(F.col("value") >= _HYST_HIGH, F.lit("on")).when(
        F.col("value") <= _HYST_LOW, F.lit("off")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.select(
        "user_id",
        "event_id",
        F.coalesce(
            F.last(crossing, ignorenulls=True).over(w_carry), F.lit("off")
        ).alias("state"),
    )
    w_lag = Window.partitionBy("user_id").orderBy("event_id")
    flagged = carried.select(
        "user_id",
        "state",
        F.when(
            (F.col("state") == "on")
            & (F.coalesce(F.lag("state").over(w_lag), F.lit("off")) == "off"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("fired"),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum("fired").cast("long").alias("n_alerts"),
            F.count(F.when(F.col("state") == "on", 1)).cast("long").alias("n_events_in_alert"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .filter(F.col("n_alerts") > 0)
    )


# ---------------------------------------------------------------------------
# OHLC resampling: open/high/low/close bars per hour
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH ordered AS (
    SELECT event_type,
        strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bar_hour,
        value,
        row_number() OVER (
            PARTITION BY event_type, date_trunc('hour', ts)
            ORDER BY ts, event_id
        ) AS rn_open,
        row_number() OVER (
            PARTITION BY event_type, date_trunc('hour', ts)
            ORDER BY ts DESC, event_id DESC
        ) AS rn_close
    FROM events
)
SELECT event_type, bar_hour,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       MIN(CASE WHEN rn_open = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MIN(CASE WHEN rn_close = 1 THEN value END) AS close
FROM ordered
GROUP BY event_type, bar_hour
"""


@query(
    "timeseries_ohlc_bars",
    oracle=_OHLC_ORACLE,
    tags=("temporal", "window", "agg", "analytic"),
)
def timeseries_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling: per (series, hour) bars with open/high/low/
    close — the canonical time-series downsampling (finance candles,
    metrics rollups). Open/close are ORDER-DEFINED (first/last tick by
    time), so they ride tie-safe row_number windows ordered by
    (ts, event_id) while high/low/count are plain aggregates; one
    exchange on the (series, hour) bar key serves both windows and the
    rollup.

    The hour key is emitted as a formatted string (engine-portable
    like the lifecycle day keys); open/close doubles pass through
    untouched — no arithmetic, so no float-parity surface at all.
    """
    ev = table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    w_open = Window.partitionBy("event_type", bar).orderBy("ts", "event_id")
    w_close = Window.partitionBy("event_type", bar).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ordered = ev.select(
        "event_type",
        F.date_format(bar, "yyyy-MM-dd HH:00:00").alias("bar_hour"),
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return ordered.groupBy("event_type", "bar_hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.min(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
    )


# ---------------------------------------------------------------------------
# grid resample with linear interpolation (round 4)
# ---------------------------------------------------------------------------

RESAMPLE_STEP_US = 6 * 3600 * 1_000_000  # 6-hour grid
RESAMPLE_MAX_USER = 300

_RESAMPLE_ORACLE = f"""
WITH obs AS (
    SELECT user_id, epoch_ns(ts) // 1000 AS t,
        CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE user_id < {RESAMPLE_MAX_USER}
    GROUP BY user_id, ts
),
bounds AS (
    SELECT user_id,
        MIN(t) - MIN(t) % {RESAMPLE_STEP_US} AS h0,
        MAX(t) - MAX(t) % {RESAMPLE_STEP_US} AS h1
    FROM obs GROUP BY user_id
),
grid AS (
    SELECT user_id, unnest(range(h0, h1 + 1, {RESAMPLE_STEP_US})) AS t
    FROM bounds
),
prevj AS (
    SELECT g.user_id, g.t, o.t AS pt, o.cents AS pv
    FROM grid g ASOF LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.t >= o.t
),
nextj AS (
    SELECT g.user_id, g.t, o.t AS nt, o.cents AS nv
    FROM (SELECT user_id, t, -t AS mt FROM grid) g
    ASOF LEFT JOIN (SELECT user_id, t, cents, -t AS mt FROM obs) o
      ON g.user_id = o.user_id AND g.mt >= o.mt
)
SELECT p.user_id, p.t AS grid_t,
    CASE
        WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
        WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
        WHEN nt = pt THEN CAST(pv AS DOUBLE)
        ELSE CAST(pv AS DOUBLE)
             + CAST(nv - pv AS DOUBLE)
               * (CAST(p.t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
    END AS value_interp
FROM prevj p JOIN nextj n ON p.user_id = n.user_id AND p.t = n.t
"""


@query(
    "timeseries_resample_interpolate",
    oracle=_RESAMPLE_ORACLE,
    tags=("events", "temporal", "window", "timeseries"),
)
def timeseries_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular value series onto a regular
    6-hour grid with LINEAR interpolation between the surrounding
    observations (edges clamp to the nearest observation) — the
    InfluxDB/Timescale `interpolate()` / pandas `resample().
    interpolate()` primitive, companion to `timeseries_gap_fill`'s
    zero/forward-fill.

    One pass, no per-grid-point probe: grid points and observations
    union into one relation; a forward and a backward
    last-non-null window (partitioned by user, total order
    (t, is_grid) so an observation AT a grid instant wins both
    directions) carry (prev_t, prev_v) and (next_t, next_v) onto every
    grid row — the same union+carry shape as `join_asof`, run in both
    directions. The oracle derives the identical result independently
    via DuckDB's native ASOF JOIN (backward, and forward through
    negated keys). Parity: values are exact cents, times exact
    microseconds; the interpolation is the only float arithmetic,
    a literally mirrored expression tree over exactly-determined
    inputs. Scale: grid size is span-bounded per user, everything
    partitions on user_id.
    """
    ev = load_events_us(spark, sf_dir).filter(F.col("user_id") < RESAMPLE_MAX_USER)
    obs = ev.groupBy("user_id", F.col("ts_us").alias("t")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias("cents")
    )
    step = F.lit(RESAMPLE_STEP_US)
    bounds = obs.groupBy("user_id").agg(
        (F.min("t") - F.min("t") % step).alias("h0"),
        (F.max("t") - F.max("t") % step).alias("h1"),
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("h0", "h1", step)).alias("t")
    )
    tagged = grid.select(
        "user_id", "t", F.lit(None).cast("long").alias("cents"), F.lit(1).alias("is_grid")
    ).unionByName(obs.select("user_id", "t", "cents", F.lit(0).alias("is_grid")))

    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").asc(), F.col("is_grid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), F.col("is_grid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_t = F.when(F.col("cents").isNotNull(), F.col("t"))
    carried = tagged.select(
        "user_id",
        "t",
        "is_grid",
        F.last("cents", ignorenulls=True).over(w_fwd).alias("pv"),
        F.last(obs_t, ignorenulls=True).over(w_fwd).alias("pt"),
        F.last("cents", ignorenulls=True).over(w_bwd).alias("nv"),
        F.last(obs_t, ignorenulls=True).over(w_bwd).alias("nt"),
    )
    g = carried.filter(F.col("is_grid") == 1)
    interp = (
        F.when(F.col("pv").isNull(), F.col("nv").cast("double"))
        .when(F.col("nv").isNull(), F.col("pv").cast("double"))
        .when(F.col("nt") == F.col("pt"), F.col("pv").cast("double"))
        .otherwise(
            F.col("pv").cast("double")
            + (F.col("nv") - F.col("pv")).cast("double")
            * (
                (F.col("t") - F.col("pt")).cast("double")
                / (F.col("nt") - F.col("pt")).cast("double")
            )
        )
    )
    return g.select("user_id", F.col("t").alias("grid_t"), interp.alias("value_interp"))


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest (round 4)
# ---------------------------------------------------------------------------

_FORECAST_BACKTEST_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
dowd AS (
    SELECT event_type, day, cents, CAST(EXTRACT(DOW FROM day) AS BIGINT) AS dow
    FROM daily
),
fc AS (
    SELECT event_type, day, cents,
        SUM(cents) OVER w AS hist_sum,
        COUNT(*)  OVER w AS hist_n
    FROM dowd
    WINDOW w AS (
        PARTITION BY event_type, dow ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    )
),
scored AS (
    SELECT event_type,
        {sql_round6_micro("CAST(cents AS {W}) * hist_n - hist_sum", "hist_n")} AS err_u
    FROM fc WHERE hist_n > 0
)
SELECT event_type,
    CAST(COUNT(*) AS BIGINT) AS n_scored,
    {sql_round6_ratio("SUM(CAST(abs(err_u) AS {W}))", "CAST(1000000 AS {W}) * COUNT(*)")} AS mae_cents,
    {sql_round6_ratio("SUM(CAST(err_u AS {W}))", "CAST(1000000 AS {W}) * COUNT(*)")} AS bias_cents
FROM scored
GROUP BY event_type
"""


@query(
    "events_forecast_backtest",
    oracle=_FORECAST_BACKTEST_ORACLE,
    tags=("events", "temporal", "window", "ml"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine forecast backtest: the seasonal-naive baseline (each
    day's prediction = expanding mean of the SAME weekday's history)
    walked forward over the whole series, scored by MAE and signed
    bias per event type — the evaluation loop every forecasting
    pipeline needs, expressed as one windowed DAG with no per-day
    driver iteration (the expanding window IS the walk-forward).

    Leakage-safe by construction: ROWS UNBOUNDED PRECEDING .. 1
    PRECEDING ends strictly before the scored day. Parity: daily
    totals are exact cents; the forecast is one double division of
    exact sums; each day's error is rounded to an exact integer
    micro-cent BEFORE the cross-day summation (float accumulation
    order never reaches the engines — `text_unigram_logprob`
    discipline), then one final division + round.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long").alias("cents")
    )
    dowd = daily.withColumn("dow", (F.dayofweek("day") - 1).cast("long"))
    w = (
        Window.partitionBy("event_type", "dow")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the window sum widens to DECIMAL(38,0) BEFORE accumulating:
    # hist_sum has the same magnitude as cents*hist_n, so a LongType
    # window sum would wrap at exactly the scale the {W} widening below
    # protects (DuckDB's window SUM(BIGINT) is already HUGEINT — the
    # unwidened Spark side was the silent half of the split). The daily
    # `cents` itself is one day's volume per (type, day) group —
    # ~2 orders under int64 even at cluster scale — and is documented
    # rather than widened (functions._micro_sql contract)
    fc = dowd.select(
        "event_type",
        "cents",
        F.sum(F.col("cents").cast("decimal(38,0)")).over(w).alias("hist_sum"),
        F.count(F.lit(1)).over(w).alias("hist_n"),
    ).filter(F.col("hist_n") > 0)
    # err = cents - hist_sum/hist_n = (cents*hist_n - hist_sum)/hist_n:
    # micro-cent error rounded in exact integer arithmetic (the double
    # round splits engines on exact halves — hist_n = 2 makes them
    # common; see functions.round6_ratio), then exact-integer rounding
    # again for the cross-day means
    # {W}-widened operands (see functions._micro_sql): cents*hist_n and
    # the micro-error sums would pass 2^63 on a cluster-scale history,
    # where Spark wraps silently but DuckDB raises
    scored = fc.select(
        "event_type",
        round6_micro("CAST(cents AS {W}) * hist_n - hist_sum", "hist_n").alias("err_u"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        round6_ratio(
            "sum(CAST(abs(err_u) AS {W}))", "CAST(1000000 AS {W}) * count(*)"
        ).alias("mae_cents"),
        round6_ratio(
            "sum(CAST(err_u AS {W}))", "CAST(1000000 AS {W}) * count(*)"
        ).alias("bias_cents"),
    )
