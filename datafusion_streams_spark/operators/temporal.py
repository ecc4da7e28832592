"""Temporal join operators Spark lacks natively: AS-OF join and range
join — the canonical "custom operator" examples from the build brief,
implemented as compositions of built-in DataFrame ops (no UDFs), so
Catalyst still optimizes every stage.

Oracle: DuckDB has a native ASOF JOIN, which independently validates
the composition — our Spark implementation must reproduce the exact
semantics of a different engine's native operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import dec
from datafusion_streams_spark.operators import query

# ---------------------------------------------------------------------------
# AS-OF join: each click matched to the latest same-user purchase at or
# before its timestamp.
# ---------------------------------------------------------------------------


def _asof_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of family's one input: purchases (kind 0, duplicate
    same-user same-ts rows pre-aggregated to MAX value, mirroring a
    deterministic ASOF pick) unioned with clicks (kind 1, null
    purchase columns). Each query carries ``purchase_ts`` /
    ``purchase_value`` through its own user_id window; kind orders a
    purchase before a same-instant click."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp_ntz").alias("purchase_ts"),
        F.lit(None).cast("double").alias("purchase_value"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.col("ts").alias("purchase_ts"),
            "purchase_value",
        )
    )
    return purchases.unionByName(clicks)


_ASOF_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts AS purchase_ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, p.purchase_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
"""


@query("join_asof", oracle=_ASOF_ORACLE, tags=("temporal", "asof", "join"))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join via the union + carry-forward composition.

    Instead of a per-row range probe (quadratic, unindexable in a
    shuffle engine), tag both streams, sort within user by event time,
    and carry the last purchase forward with last(ignoreNulls) — ONE
    shuffle on user_id, linear scan per partition. This is the
    formulation that scales: state per row is O(1) and AQE handles
    user skew.

    Tie semantics (ASOF's ts >= purchase_ts): at equal timestamps the
    purchase must be visible to the click, so purchases sort before
    clicks within a timestamp (kind=0 < kind=1). Duplicate same-user
    same-ts purchases are pre-aggregated (MAX value) to mirror a
    deterministic ASOF pick.
    """
    tagged = _asof_tagged(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "kind",
        F.last("purchase_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "purchase_ts", "purchase_value"
    )


# ---------------------------------------------------------------------------
# Range join: rows matched to value bands.
# ---------------------------------------------------------------------------

_RANGE_ORACLE = """
WITH bands(band, lo, hi) AS (
    VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 100000.0)
)
SELECT
    b.band,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
"""


@query("join_range_bands", oracle=_RANGE_ORACLE, tags=("temporal", "range", "join"))
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: fact rows against interval dimension.

    Scale: the band table broadcasts, so the range predicate is
    evaluated map-side (BroadcastNestedLoopJoin over a 3-row build
    side — effectively a map lookup). For large interval tables the
    composition switches to interval bucketing: explode each interval
    to its covering buckets, equi-join on bucket, re-check the
    predicate.
    """
    ev = table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 100000.0)],
        "band string, lo double, hi double",
    )
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Hypertable-style multi-resolution rollup
# ---------------------------------------------------------------------------

_MULTIRES_ORACLE = """
WITH minute_agg AS (
    SELECT date_trunc('minute', ts) AS minute_start, event_type,
           COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS v
    FROM events GROUP BY 1, 2
),
hour_agg AS (
    SELECT date_trunc('hour', minute_start) AS hour_start, event_type,
           SUM(n) AS n, SUM(v) AS v
    FROM minute_agg GROUP BY 1, 2
)
SELECT date_trunc('day', hour_start) AS day_start, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS total_value
FROM hour_agg GROUP BY 1, 2
"""


@query("rollup_multiresolution", oracle=_MULTIRES_ORACLE, tags=("temporal", "rollup", "agg"))
def rollup_multiresolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: raw -> minute -> hour -> day,
    each level aggregating the previous one (never re-reading raw).

    Decimal partials make the cascade EXACTLY equal to aggregating raw
    directly — the invariant that makes materialized rollup hierarchies
    trustworthy. At scale each level is a tiny fraction of the one
    below, so refreshing the hierarchy costs ~one scan of raw plus
    geometric small change.
    """
    ev = table(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("minute_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).alias("v"))
    hour = minute.groupBy(
        F.date_trunc("hour", "minute_start").alias("hour_start"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
    return hour.groupBy(
        F.date_trunc("day", "hour_start").alias("day_start"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("v").cast("double").alias("total_value"),
    )


_ASOF_FWD_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts AS purchase_ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, p.purchase_ts, p.purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts <= p.purchase_ts
"""


@query("join_asof_forward", oracle=_ASOF_FWD_ORACLE, tags=("temporal", "asof", "join"))
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD AS-OF join: each click matched to the user's NEXT
    purchase at or after it — the look-ahead direction (time-to-next-
    conversion, next-quote-after-trade) completing join_asof's
    backward carry. Same scale argument: union + tag + ONE user_id
    shuffle + linear carry, here scanning time DESCENDING so
    last(ignoreNulls) carries the nearest FUTURE purchase backward to
    each click; at equal timestamps the purchase sorts first in scan
    order (kind 0 before 1), making it visible to the same-instant
    click — exactly DuckDB's ASOF <= tie rule, hash-verified.
    """
    tagged = _asof_tagged(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "kind",
        F.last("purchase_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    return carried.filter(F.col("kind") == 1).select(
        "event_id", "user_id", "purchase_ts", "purchase_value"
    )


# ---------------------------------------------------------------------------
# NEAREST AS-OF join: backward + forward candidates, closer one wins
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts AS purchase_ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
),
back AS (
    SELECT c.event_id, c.user_id, c.ts,
           p.purchase_ts AS b_ts, p.purchase_value AS b_val
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
),
fwd AS (
    SELECT c.event_id, p.purchase_ts AS f_ts, p.purchase_value AS f_val
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.purchase_ts
)
SELECT b.event_id, b.user_id,
    CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
              OR epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts))
         THEN b.b_ts ELSE f.f_ts END AS purchase_ts,
    CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
              OR epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts))
         THEN b.b_val ELSE f.f_val END AS purchase_value,
    CASE WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN NULL
         WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL
              OR epoch_us(b.ts) - epoch_us(b.b_ts) <= epoch_us(f.f_ts) - epoch_us(b.ts))
         THEN 'back' ELSE 'fwd' END AS matched_dir
FROM back b JOIN fwd f ON b.event_id = f.event_id
"""


@query("join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE, tags=("temporal", "asof", "join"))
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST AS-OF join (pandas merge_asof direction='nearest'):
    each click matched to the temporally closest same-user purchase in
    EITHER direction; ties prefer the backward (at-or-before) match.
    Completes the asof family: join_asof (backward), join_asof_forward
    (forward), this (nearest).

    Scale: both directional carries ride ONE tagged union and ONE
    user_id hash exchange — the ascending and descending windows share
    the same partitioning, so Catalyst inserts one shuffle and two
    in-partition sorts (no second exchange). The nearest pick is a
    map-side CASE over epoch-microsecond deltas (exact integers, no
    float parity risk).
    """
    tagged = _asof_tagged(spark, sf_dir)
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "kind",
        F.last("purchase_ts", ignorenulls=True).over(wb).alias("b_ts"),
        F.last("purchase_value", ignorenulls=True).over(wb).alias("b_val"),
        F.last("purchase_ts", ignorenulls=True).over(wf).alias("f_ts"),
        F.last("purchase_value", ignorenulls=True).over(wf).alias("f_val"),
    ).filter(F.col("kind") == 1)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    back_wins = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | ((us("ts") - us("b_ts")) <= (us("f_ts") - us("ts")))
    )
    return carried.select(
        "event_id",
        "user_id",
        F.when(back_wins, F.col("b_ts")).otherwise(F.col("f_ts")).alias("purchase_ts"),
        F.when(back_wins, F.col("b_val")).otherwise(F.col("f_val")).alias("purchase_value"),
        F.when(F.col("b_ts").isNull() & F.col("f_ts").isNull(), F.lit(None).cast("string"))
        .when(back_wins, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("matched_dir"),
    )


# ---------------------------------------------------------------------------
# AS-OF with tolerance: staleness-bounded backward match
# ---------------------------------------------------------------------------

_ASOF_TOL_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, ts AS purchase_ts, MAX(value) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
    CASE WHEN c.ts - p.purchase_ts <= INTERVAL 1 HOUR THEN p.purchase_ts END
        AS purchase_ts,
    CASE WHEN c.ts - p.purchase_ts <= INTERVAL 1 HOUR THEN p.purchase_value END
        AS purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
"""


@query("join_asof_tolerance", oracle=_ASOF_TOL_ORACLE, tags=("temporal", "asof", "join"))
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a staleness tolerance (pandas merge_asof's
    ``tolerance=``): each click matches its latest preceding purchase
    ONLY if that purchase is at most 1 hour old — the feature-store
    freshness contract ("use the last reading unless it has gone
    stale").

    Same single-shuffle union + carry-forward plan as join_asof — the
    tolerance adds a pure post-projection: because the carried match is
    the LATEST purchase <= ts, if IT is out of tolerance then no
    in-tolerance match exists (monotonicity), so a CASE on the carried
    age is exactly merge_asof's tolerance semantics, with no second
    probe. The age compare is exact integer microseconds.

    Completes the as-of family: backward (join_asof), forward
    (join_asof_forward), nearest (join_asof_nearest), tolerance (here).
    """
    tagged = _asof_tagged(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.select(
        "event_id",
        "user_id",
        "kind",
        "ts",
        F.last("purchase_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        F.last("purchase_value", ignorenulls=True).over(w).alias("purchase_value"),
    )
    in_tol = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("purchase_ts").cast("timestamp"))
    ) <= 3600 * 1000 * 1000
    return carried.filter(F.col("kind") == 1).select(
        "event_id",
        "user_id",
        F.when(in_tol, F.col("purchase_ts")).alias("purchase_ts"),
        F.when(in_tol, F.col("purchase_value")).alias("purchase_value"),
    )
