"""Relational operator surface (SURVEY.md §2 Tier C).

The reference delegates this entire layer to DataFusion (zero lines of
join/agg/sort code of its own — SURVEY.md §2.3); here it is Spark's
native DataFrame API, so Catalyst supplies predicate pushdown, column
pruning, broadcast-join selection, partial aggregation and AQE for
free. Every query is paired with a DuckDB oracle.

Scale notes appear per-query. Common posture:
  - money/quantity aggregates go through exact DECIMAL (see
    ``functions``) — exact under any partitioning, so partial
    aggregation (map-side combine) never changes the answer;
  - dimension tables (region/nation/customer/supplier/part) sit under
    the broadcast threshold at TPC-H ratios, so fact-table joins are
    broadcast hash joins with no fact shuffle;
  - sorts with LIMIT compile to TakeOrderedAndProject (per-partition
    top-k + driver merge), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.functions import (
    davg,
    dec,
    disc_price,
    charged_price,
    dsum,
    round6_ratio,
    sql_round6_ratio,
)
from datafusion_streams_spark.operators import query

# SQL fragment mirroring functions.disc_price / charged_price exactly.
_DISC_PRICE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)
_CHARGED_PRICE_SQL = f"{_DISC_PRICE_SQL} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"


# ---------------------------------------------------------------------------
# q1 — pricing summary (filter → grouped aggregate, TPC-H Q1 shape)
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
    l_returnflag,
    l_linestatus,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
    CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE)                       AS sum_disc_price,
    CAST(SUM({_CHARGED_PRICE_SQL}) AS DOUBLE)                    AS sum_charge,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
    CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) / COUNT(*)       AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_ORACLE, tags=("agg", "filter"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregate with exact-decimal sums.

    Scale: the filter pushes to the parquet scan; the group-by has 6
    groups so partial aggregation reduces ~everything map-side — the
    shuffle moves 6 rows per task regardless of input size.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(charged_price()).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 3, 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q3 — shipping priority (3-way join → agg → top-k)
# ---------------------------------------------------------------------------

_Q3_ORACLE = f"""
SELECT
    l_orderkey,
    CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
    strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_ORACLE, tags=("join", "agg", "topk"))
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim filter → fact join → grouped agg → deterministic top-10.

    Scale: customer (filtered) broadcasts, so lineitem — the 100 TB
    side — never shuffles for the join; the final ORDER BY + LIMIT is
    TakeOrderedAndProject (per-partition heap, driver merge of 10 rows).
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q5 — local supplier volume (6-way join → agg)
# ---------------------------------------------------------------------------

_Q5_ORACLE = f"""
SELECT
    n_name,
    CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@query("q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("join", "agg"))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-way join, all dimension sides broadcast.

    Scale: region→nation→supplier chain collapses to one broadcast of
    the filtered supplier set; customer broadcasts too at TPC-H ratios
    (or AQE converts to shuffle join if it grows past threshold). The
    only big-big join is lineitem⋈orders on the orderkey — co-shuffled
    once, reused through the aggregation.
    """
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    asia = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        table(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(table(spark, sf_dir, "customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(table(spark, sf_dir, "supplier")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(asia), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q6 — revenue forecast (pure filter + scalar agg)
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
    COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_revenue_forecast", oracle=_Q6_ORACLE, tags=("filter", "agg"))
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highly selective filter → scalar aggregate.

    Scale: all four predicates push down to the parquet scan (min/max
    row-group pruning on shipdate); only two columns are read.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount", 3, 2)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q10 — returned items (4-way join → agg → top-k)
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
SELECT
    c_custkey,
    c_name,
    CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
    c_acctbal,
    n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=_Q10_ORACLE, tags=("join", "agg", "topk"))
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer, top 20, deterministic tiebreak."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(table(spark, sf_dir, "customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# filter + projection pushdown
# ---------------------------------------------------------------------------

_FILTER_ORACLE = f"""
SELECT
    l_orderkey,
    l_linenumber,
    l_quantity,
    CAST({_DISC_PRICE_SQL} AS DOUBLE) AS net_price
FROM lineitem
WHERE l_quantity >= 48 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


@query("filter_project_pushdown", oracle=_FILTER_ORACLE, tags=("filter", "projection"))
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + narrow projection; the plan must show PushedFilters and a
    6-column ReadSchema (asserted in tests/test_plans.py). Map-only at
    any scale — no shuffle."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 48) & (F.col("l_shipdate") >= "2000-01-01"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            disc_price().cast("double").alias("net_price"),
        )
    )


# ---------------------------------------------------------------------------
# aggregation variants
# ---------------------------------------------------------------------------

_COUNT_DISTINCT_ORACLE = """
SELECT
    o_orderpriority,
    COUNT(DISTINCT o_custkey) AS n_customers,
    COUNT(*)                  AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_orderpriority
"""


@query("agg_count_distinct", oracle=_COUNT_DISTINCT_ORACLE, tags=("agg", "distinct"))
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) alongside plain aggregates.

    Scale: Spark expands this to a two-phase partial-distinct plan
    automatically; for cardinality estimation at 100 TB one would add
    approx_count_distinct (HLL) — exposed in tests, kept out of the
    oracle because it is approximate by design.
    """
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_spend"),
    )


_ROLLUP_ORACLE = """
SELECT
    COALESCE(l_returnflag, 'ALL') AS return_flag,
    COALESCE(l_linestatus, 'ALL') AS line_status,
    COUNT(*) AS n_items,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE, tags=("agg", "rollup"))
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; NULL grouping keys normalized to 'ALL'."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            "n_items",
            "sum_qty",
        )
    )


_CUBE_ORACLE = """
SELECT
    COALESCE(o_orderstatus, 'ALL')    AS order_status,
    COALESCE(o_orderpriority, 'ALL')  AS order_priority,
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


@query("agg_cube", oracle=_CUBE_ORACLE, tags=("agg", "cube"))
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 2^2 grouping sets in one pass."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("order_status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("order_priority"),
            "n_orders",
            "total_spend",
        )
    )


# ---------------------------------------------------------------------------
# join variants
# ---------------------------------------------------------------------------

_BROADCAST_JOIN_ORACLE = """
SELECT
    p_type,
    COUNT(*) AS n_items,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 10
GROUP BY p_type
"""


@query("join_broadcast_dim", oracle=_BROADCAST_JOIN_ORACLE, tags=("join", "broadcast"))
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim with an explicit broadcast hint: the lineitem side never
    shuffles (asserted BroadcastHashJoin in tests/test_plans.py)."""
    part = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@query("join_left_semi", oracle=_SEMI_ORACLE, tags=("join", "semi"))
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): emits each customer at most once, and the
    probe side only ships join keys — the cheapest join shape at scale."""
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        table(spark, sf_dir, "customer")
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
"""


@query("join_left_anti", oracle=_ANTI_ORACLE, tags=("join", "anti"))
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders."""
    return (
        table(spark, sf_dir, "customer")
        .join(table(spark, sf_dir, "orders"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


_OUTER_ORACLE = """
SELECT
    c_custkey,
    COUNT(o_orderkey) AS n_orders,
    CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


@query("join_left_outer_agg", oracle=_OUTER_ORACLE, tags=("join", "outer", "agg"))
def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers, then aggregate."""
    return (
        table(spark, sf_dir, "customer")
        .join(table(spark, sf_dir, "orders"), F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(dec(F.coalesce(F.col("o_totalprice"), F.lit(0)))).cast("double").alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# sorts / top-k
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 100
"""


@query("sort_topk_global", oracle=_TOPK_ORACLE, tags=("sort", "topk"))
def sort_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100: compiles to TakeOrderedAndProject — per-partition
    heaps + a 100-row driver merge, no global sort even at 100 TB."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------

_SET_A = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SET_B = "SELECT c_custkey FROM customer WHERE c_acctbal > 5000"


@query("set_union", oracle=f"{_SET_A} UNION {_SET_B}", tags=("setop",))
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


@query("set_intersect", oracle=f"{_SET_A} INTERSECT {_SET_B}", tags=("setop",))
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@query("set_except", oracle=f"{_SET_A} EXCEPT {_SET_B}", tags=("setop",))
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.subtract(b)


# ---------------------------------------------------------------------------
# scalar function packs (string / date / math / json)
# ---------------------------------------------------------------------------

_STRING_PACK_ORACLE = r"""
SELECT
    p_partkey,
    upper(p_name)                                   AS up_name,
    lower(p_brand)                                  AS lo_brand,
    substr(p_name, 1, 5)                            AS name5,
    concat_ws('-', p_brand, p_type)                 AS brand_type,
    CAST(length(p_name) AS BIGINT)                  AS name_len,
    replace(p_name, ' ', '_')                       AS name_us,
    lpad(CAST(p_size AS VARCHAR), 3, '0')           AS size_pad,
    regexp_extract(p_name, '^(\w+)', 1)             AS first_word,
    reverse(p_name)                                 AS rev_name
FROM part
"""


@query("scalar_string_pack", oracle=_STRING_PACK_ORACLE, tags=("scalar", "string"))
def scalar_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (extends the reference's single exercised
    scalar, ``length`` — `/root/reference/tests/basic_tests.rs:60`)."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_pad"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.reverse("p_name").alias("rev_name"),
    )


_DATE_PACK_ORACLE = """
SELECT
    o_orderkey,
    CAST(year(o_orderdate) AS BIGINT)    AS order_year,
    CAST(month(o_orderdate) AS BIGINT)   AS order_month,
    CAST(day(o_orderdate) AS BIGINT)     AS order_day,
    CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
    strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS month_start,
    strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d')                   AS plus_30d,
    CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98
FROM orders
"""


@query("scalar_date_pack", oracle=_DATE_PACK_ORACLE, tags=("scalar", "date"))
def scalar_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.quarter("o_orderdate").cast("long").alias("order_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus_30d"),
        F.datediff(F.lit("1998-01-01").cast("date"), d).cast("long").alias("days_to_98"),
    )


_MATH_PACK_ORACLE = """
SELECT
    l_orderkey,
    l_linenumber,
    CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS tithe,
    abs(l_extendedprice - 50000.0)                     AS dist_50k,
    CAST(ceiling(l_quantity / 7.0) AS BIGINT)          AS qty_weeks,
    CAST(floor(l_quantity / 7.0) AS BIGINT)            AS qty_weeks_floor,
    sqrt(l_extendedprice)                              AS price_sqrt,
    round(ln(l_extendedprice + 1), 6)                  AS price_ln,
    round(power(l_discount + 1, 2), 6)                 AS disc_sq,
    l_orderkey % 7                                     AS key_mod
FROM lineitem
"""


@query("scalar_math_pack", oracle=_MATH_PACK_ORACLE, tags=("scalar", "math"))
def scalar_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery. Transcendentals (ln/pow) are rounded to 6dp: libm
    implementations may differ in the last ulp across engines; sqrt is
    IEEE-correctly-rounded so it passes through raw. The 2dp rounding
    (tithe) runs as round() over exact decimal — double round() is
    engine-dependent at representation boundaries (Spark rounds the
    shortest decimal string, DuckDB the binary value), and decimal
    scale-down CASTs disagree too (Spark HALF_UP, DuckDB truncates);
    round(decimal) is HALF_UP/half-away in both — identical for
    positive values."""
    from pyspark.sql.types import DecimalType

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(dec("l_extendedprice") * F.lit(0.1).cast(DecimalType(2, 1)), 2)
        .cast("double")
        .alias("tithe"),
        F.abs(F.col("l_extendedprice") - 50000.0).alias("dist_50k"),
        F.ceil(F.col("l_quantity") / 7.0).alias("qty_weeks"),
        F.floor(F.col("l_quantity") / 7.0).alias("qty_weeks_floor"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 6).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


_JSON_ORACLE = """
SELECT
    event_id,
    event_type,
    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
"""


@query("scalar_json_extract", oracle=_JSON_ORACLE, tags=("scalar", "json"))
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events.props payload column."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT o_orderpriority,
    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
    CAST(1 AS BIGINT) AS within_bound
FROM orders GROUP BY o_orderpriority
"""


@query("agg_approx_distinct", oracle=_APPROX_DISTINCT_ORACLE, tags=("agg", "approx", "scale"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count — THE cardinality operator at 100 TB
    (fixed memory per group vs. the unbounded set an exact distinct
    shuffles).

    The estimate itself has no DuckDB twin, so the ACCURACY CONTRACT is
    emitted as data (r8 verdict item #2, the `similarity_recall_lsh`
    pattern): per group, the exact count plus `within_bound` — computed
    Spark-side as |est − exact| ≤ 5%·exact (rsd=0.02, so 5% is 2.5σ) —
    which the oracle pins to literal 1. A hash match therefore PROVES
    the sketch met its bound on this data; the raw estimate stays in
    tests/test_oracle_parity.py's accuracy test.

    CLIFF (r9 ADVICE): 5% is 2.5σ of the sketch's rsd — a
    PROBABILISTIC bound hash-checked as a literal. It holds on every
    current fixture (verified at sf0.001/0.01/0.1), but a regenerated
    fixture or a new scale draws fresh hash randomness and can
    legitimately land outside 2.5σ (~1% per group). If a driver row
    for this query ever flips to hash-mismatch with within_bound=0,
    FIRST re-verify the bound on the new fixture (run the query, read
    the flag) before hunting a code regression — and bump the bound
    to 3σ/6% only with the measured |est−exact| in the commit
    message."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_est"),
    ).select(
        "o_orderpriority",
        "exact_customers",
        (
            F.abs(F.col("_est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).cast("long").alias("within_bound"),
    )


_SALTED_ORACLE = """
SELECT
    event_type,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@query("agg_salted_skew", oracle=_SALTED_ORACLE, tags=("agg", "skew", "scale"))
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a low-cardinality hot key.

    events has 5 event types over millions of rows — the canonical
    skewed-aggregation shape. Phase 1 groups by (key, salt) so the hot
    keys spread over 16 reducers; phase 2 merges the partials. Decimal
    partials make the two-phase result EXACTLY equal to the plain
    GROUP BY, which is what the oracle checks. (Spark's own partial
    aggregation usually hides this problem for algebraic aggregates;
    explicit salting is the pattern for when it can't — e.g. exact
    distinct or collect-style aggregates per hot key.)
    """
    ev = table(spark, sf_dir, "events")
    salted = ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
    phase1 = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pc"),
        F.sum(dec("value")).alias("ps"),
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pc").alias("n_events"),
        F.sum("ps").cast("double").alias("total_value"),
    )


_PIVOT_ORACLE = """
SELECT
    user_id,
    COUNT(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
    COUNT(CASE WHEN event_type = 'error'    THEN 1 END) AS error,
    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
    COUNT(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
    COUNT(CASE WHEN event_type = 'view'     THEN 1 END) AS view
FROM events
GROUP BY user_id
"""


@query("agg_pivot", oracle=_PIVOT_ORACLE, tags=("agg", "pivot"))
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide conditional aggregation). The value list is explicit —
    at scale an implicit pivot first runs a distinct scan to discover
    columns, which is a whole extra pass over the fact table."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select(
            "user_id",
            *[F.col(c).cast("long").alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
        )
    )


_CONDITIONAL_ORACLE = """
SELECT
    l_orderkey,
    l_linenumber,
    CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted' ELSE 'none' END AS flag_desc,
    CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class,
    NULLIF(l_discount, 0.0)                    AS disc_or_null,
    GREATEST(l_quantity, 25.0)                 AS qty_floor25,
    LEAST(l_quantity, 25.0)                    AS qty_cap25,
    COALESCE(NULLIF(l_discount, 0.0), -1.0)    AS disc_or_neg1
FROM lineitem
"""


@query("scalar_conditional_pack", oracle=_CONDITIONAL_ORACLE, tags=("scalar", "conditional"))
def scalar_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE / NULLIF / GREATEST / LEAST / COALESCE battery."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", "returned")
        .when(F.col("l_returnflag") == "A", "accepted")
        .otherwise("none")
        .alias("flag_desc"),
        F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias("qty_class"),
        F.nullif(F.col("l_discount"), F.lit(0.0)).alias("disc_or_null"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_floor25"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_cap25"),
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias("disc_or_neg1"),
    )


_Q18_ORACLE = """
SELECT
    c_custkey,
    c_name,
    o_orderkey,
    CAST(o_totalprice AS DOUBLE) AS o_totalprice,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


@query("q18_large_orders", oracle=_Q18_ORACLE, tags=("join", "agg", "having", "topk"))
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 shape): grouped agg + HAVING + top-k.

    Scale: the HAVING filter runs post-aggregation on the (small)
    grouped result; the heavy lineitem->order rollup is one shuffle on
    the orderkey, reused by the customer broadcast join."""
    return (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(table(spark, sf_dir, "customer")), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(50)
    )


_Q14_ORACLE = f"""
SELECT
    CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL} END) AS DOUBLE)
         / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS DOUBLE) AS promo_revenue_pct,
    COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
"""


@query("q14_promo_share", oracle=_Q14_ORACLE, tags=("join", "agg", "conditional"))
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (TPC-H Q14 shape): conditional aggregation
    ratio. Both sums are exact decimal; the ratio is one double division
    — identical in both engines."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", disc_price())).cast("double")
    total = F.sum(disc_price()).cast("double")
    return (
        li.join(F.broadcast(table(spark, sf_dir, "part")), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.00) * promo / total).cast("double").alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q19_ORACLE = f"""
SELECT
    CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
    COUNT(*) AS n_items
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
"""


@query("q19_disjunctive_filter", oracle=_Q19_ORACLE, tags=("join", "filter", "disjunction"))
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-column predicates across the join (TPC-H Q19
    shape) — exercises CNF conversion / partial pushdown: the per-table
    conjuncts implied by the OR (e.g. p_brand IN (...)) are pushed below
    the join by Catalyst."""
    part = F.broadcast(table(spark, sf_dir, "part"))
    j = table(spark, sf_dir, "lineitem").join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        F.sum(disc_price()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_Q12_ORACLE = """
SELECT
    CAST(year(l_shipdate) AS BIGINT) AS ship_year,
    COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_priority,
    COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_priority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY year(l_shipdate)
"""


@query("q12_priority_classes", oracle=_Q12_ORACLE, tags=("join", "agg", "conditional"))
def q12_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-class line counts per ship year (TPC-H Q12 shape):
    conditional counting over a fact-fact join."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.count(F.when(hi, 1)).alias("high_priority"),
            F.count(F.when(~hi, 1)).alias("low_priority"),
        )
    )


_Q22_ORACLE = """
SELECT
    c_mktsegment,
    COUNT(*) AS n_customers,
    CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM customer c2 WHERE c2.c_acctbal > 0
)
AND NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
)
GROUP BY c_mktsegment
"""


@query("q22_sales_opportunity", oracle=_Q22_ORACLE, tags=("subquery", "anti", "agg"))
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no large order (TPC-H Q22
    shape): scalar subquery threshold + anti join + aggregate. The
    1-row average broadcasts back into the SAME DAG (q11's idiom,
    ``q11_important_stock``) instead of an eager ``.first()`` pull —
    no separate job, and an empty positive-balance relation yields a
    NULL threshold → 0 rows, exactly the oracle's NULL-comparison
    semantics (pinned at sf0.001 by
    ``test_scalar_threshold_queries_survive_empty_inputs``). The anti
    join ships only keys."""
    c = table(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0)
    avg_bal = pos.agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    big_orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(big_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


_PERCENTILE_ORACLE = """
SELECT
    l_returnflag,
    quantile_cont(l_extendedprice, 0.5)  AS p50_price,
    quantile_cont(l_extendedprice, 0.9)  AS p90_price,
    quantile_cont(l_extendedprice, 0.99) AS p99_price,
    COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_percentiles", oracle=_PERCENTILE_ORACLE, tags=("agg", "percentile"))
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines implement
    the same linear-interpolation quantile definition).

    Scale note: exact percentile shuffles the full column per group; at
    100 TB swap in approx_percentile (t-digest/GK sketch, fixed memory)
    — same query shape, bounded error, exposed via agg_approx_distinct's
    pattern.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_price"),
        F.percentile("l_extendedprice", F.lit(0.9)).alias("p90_price"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("p99_price"),
        F.count(F.lit(1)).alias("n_items"),
    )


_ARRAY_PACK_ORACLE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings)
SELECT
    vec_id,
    CAST(len(v) AS BIGINT)                    AS dim,
    v[1]                                      AS head_val,
    v[len(v)]                                 AS tail_val,
    CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_positive,
    list_sort(v)[1]                           AS min_val,
    list_sort(v)[len(v)]                      AS max_val,
    CASE WHEN list_contains(list_transform(v, x -> x > 0.5), true) THEN 1 ELSE 0 END AS has_big
FROM e
"""


@query("scalar_array_pack", oracle=_ARRAY_PACK_ORACLE, tags=("scalar", "array"))
def scalar_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery over the embedding column: size, element
    access, filter/transform lambdas, sort-based min/max, existence.
    All higher-order built-ins — the toolkit for array<float> feature
    columns; scalar outputs keep the oracle hash stable."""
    from datafusion_streams_spark.functions import as_double_array

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array("embedding").alias("v")
    )
    v = F.col("v")
    return e.select(
        "vec_id",
        F.size(v).cast("long").alias("dim"),
        F.element_at(v, 1).alias("head_val"),
        F.element_at(v, F.size(v)).alias("tail_val"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_positive"),
        F.element_at(F.array_sort(v), 1).alias("min_val"),
        F.element_at(F.array_sort(v), F.size(v)).alias("max_val"),
        F.when(F.exists(v, lambda x: x > 0.5), 1).otherwise(0).alias("has_big"),
    )


# ---------------------------------------------------------------------------
# full outer join (round 3): presence matrix across disjoint keyspaces
# ---------------------------------------------------------------------------

_FULL_OUTER_ORACLE = """
WITH ev AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id
),
j AS (
    SELECT
        COALESCE(ev.user_id, c.c_custkey) AS entity_id,
        ev.n_events,
        c.c_acctbal
    FROM ev FULL OUTER JOIN customer c ON ev.user_id = c.c_custkey
)
SELECT
    CAST(n_events IS NOT NULL AS BIGINT) AS has_events,
    CAST(c_acctbal IS NOT NULL AS BIGINT) AS has_customer,
    CAST(COUNT(*) AS BIGINT) AS n_entities,
    CAST(COALESCE(SUM(n_events), 0) AS BIGINT) AS total_events,
    CAST(SUM(CAST(COALESCE(c_acctbal, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM j GROUP BY 1, 2
"""


@query("join_full_outer", oracle=_FULL_OUTER_ORACLE, tags=("join", "outer", "setop"))
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join across two only-partially-overlapping keyspaces
    (event actors vs the customer dimension), rolled into a presence
    matrix: entities with activity but no account, both, or account
    only. The unmatched-side preservation is the semantics under test —
    inner/left variants silently drop exactly the rows this keeps.

    Scale: both sides pre-aggregate before the join (events collapse to
    one row per user), so the full-outer shuffle carries keyspace-sized
    inputs, not event-sized; the presence rollup is a 4-group reduce.
    """
    ev = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    j = ev.join(c, ev["user_id"] == c["c_custkey"], "full_outer")
    return (
        j.groupBy(
            F.col("n_events").isNotNull().cast("long").alias("has_events"),
            F.col("c_acctbal").isNotNull().cast("long").alias("has_customer"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.coalesce(F.sum("n_events"), F.lit(0)).cast("long").alias("total_events"),
            dsum(F.coalesce(F.col("c_acctbal"), F.lit(0))).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# unpivot / melt (round 3): wide measures -> long (measure, value) rows
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
    SELECT
        l_returnflag,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        CAST(COUNT(*) AS DOUBLE)                                    AS n_rows
    FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, value FROM (
    SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'n_rows' AS measure, n_rows AS value FROM wide
)
"""


@query("agg_unpivot", oracle=_UNPIVOT_ORACLE, tags=("agg", "unpivot", "setop"))
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): a wide per-flag aggregate turned into long
    (measure, value) rows — the inverse of ``agg_pivot`` and the shape
    metric stores and chart layers consume. Uses the native DataFrame
    ``unpivot`` (SQL ``stack``), which is a zero-shuffle projection:
    the only exchange is the upstream aggregation's.

    Measures are decimal-exact sums cast to double once, so the melted
    doubles hash identically to the oracle's UNION ALL formulation.
    """
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="measure",
        valueColumnName="value",
    )


_APPROX_PCTL_ORACLE = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        COUNT(*) OVER (PARTITION BY l_returnflag) AS n
    FROM lineitem
)
SELECT l_returnflag,
    CAST(MAX(n) AS BIGINT) AS n_rows,
    MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN l_extendedprice END) AS exact_p50,
    MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN l_extendedprice END) AS exact_p90,
    CAST(1 AS BIGINT) AS bound_ok_50,
    CAST(1 AS BIGINT) AS bound_ok_90
FROM ranked GROUP BY l_returnflag
"""


@query("agg_approx_percentile", oracle=_APPROX_PCTL_ORACLE, tags=("agg", "approx", "scale"))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles (Greenwald-Khanna with relative rank
    error 1e-4) — the fixed-memory companion to ``agg_percentiles``'
    exact formulation, which must sort the full column per group. At
    100 TB the sketch mergeable-summary shape is the only viable one.

    The GK estimate has no DuckDB twin, so the ACCURACY CONTRACT is
    emitted as data (r8 verdict item #2): per group, the exact
    DISCRETE percentiles (the data value at rank ceil(p·n) — an actual
    parquet double, bit-identical across engines, no interpolation
    arithmetic) plus ``bound_ok_*`` flags computed Spark-side: the GK
    value must lie between the data values at ranks ceil((p∓0.01)·n)
    — a ±1%-rank corridor, 100× wider than the sketch's guaranteed
    1e-4 rank error, so the flag is DETERMINISTICALLY 1 and the oracle
    pins it to literal 1. Rank targets use exact integer arithmetic
    ((p·100·n + 99) div 100 = ceil) in both engines. The raw estimate
    stays in tests/test_oracle_parity.py's accuracy test."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def at_rank(rank_sql: str) -> Column:
        # clamp to [1, n]: the corridor edges can step outside at the
        # extremes of small groups
        tgt = F.expr(f"greatest(1L, least(n, {rank_sql}))")
        return F.max(F.when(F.col("rn") == tgt, F.col("l_extendedprice")))

    agg = ranked.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n_rows"),
        at_rank("(50 * n + 99) div 100").alias("exact_p50"),
        at_rank("(90 * n + 99) div 100").alias("exact_p90"),
        at_rank("(49 * n + 99) div 100").alias("_lo50"),
        at_rank("(51 * n + 99) div 100").alias("_hi50"),
        at_rank("(89 * n + 99) div 100").alias("_lo90"),
        at_rank("(91 * n + 99) div 100").alias("_hi90"),
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias("_ap50"),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(10000)).alias("_ap90"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_p50",
        "exact_p90",
        ((F.col("_ap50") >= F.col("_lo50")) & (F.col("_ap50") <= F.col("_hi50")))
        .cast("long").alias("bound_ok_50"),
        ((F.col("_ap90") >= F.col("_lo90")) & (F.col("_ap90") <= F.col("_hi90")))
        .cast("long").alias("bound_ok_90"),
    )


# ---------------------------------------------------------------------------
# fuzzy entity matching (round 3): edit-distance join on the vocabulary
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 2

_FUZZY_ORACLE = f"""
WITH names AS (
    SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
"""


@query("join_fuzzy_match", oracle=_FUZZY_ORACLE, tags=("join", "fuzzy", "entity-resolution"))
def join_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: name pairs within Levenshtein distance 2,
    with each name's corpus support — the typo/variant detector of an
    entity-resolution pass (both engines implement the identical DP
    edit distance, so the integer result is exactly comparable).

    Scale: the quadratic term runs on the DISTINCT VOCABULARY, never
    the corpus — names collapse to (name, n_parts) first (one shuffle
    on the name keyspace), and the vocabulary side is broadcast for the
    theta join. A 100 TB parts table with a bounded name vocabulary
    costs the same pair scan as this fixture; corpus rows rejoin by
    exact key afterwards if row-level output is needed.
    """
    p = table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    a = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST),
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
            "n_parts_a",
            "n_parts_b",
        )
    )


_BITWISE_ORACLE = """
SELECT
    p_partkey,
    CAST(p_size & 15 AS BIGINT)            AS size_and,
    CAST(p_size | 64 AS BIGINT)            AS size_or,
    CAST(xor(p_size, 255) AS BIGINT)       AS size_xor,
    CAST(p_size << 2 AS BIGINT)            AS size_shl,
    CAST(p_size >> 1 AS BIGINT)            AS size_shr,
    CAST(~p_size AS BIGINT)                AS size_not,
    CAST(bit_count(CAST(p_size AS BIGINT)) AS BIGINT) AS size_popcount
FROM part
"""


@query("scalar_bitwise_pack", oracle=_BITWISE_ORACLE, tags=("scalar", "bitwise"))
def scalar_bitwise_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise-operator battery (and/or/xor/shifts/not/popcount) —
    exact integer semantics on both engines, the toolkit behind flag
    columns, bitmap indexes, and hash bucketing."""
    p = table(spark, sf_dir, "part")
    size = F.col("p_size")
    return p.select(
        "p_partkey",
        size.bitwiseAND(15).cast("long").alias("size_and"),
        size.bitwiseOR(64).cast("long").alias("size_or"),
        size.bitwiseXOR(255).cast("long").alias("size_xor"),
        F.shiftleft(size, 2).cast("long").alias("size_shl"),
        F.shiftright(size, 1).cast("long").alias("size_shr"),
        F.bitwise_not(size).cast("long").alias("size_not"),
        F.bit_count(size.cast("long")).cast("long").alias("size_popcount"),
    )


# ---------------------------------------------------------------------------
# salted skew JOIN (round 4) — the join-side twin of agg_salted_skew
# ---------------------------------------------------------------------------

_SALT_JOIN_N = 8

_SALTED_JOIN_ORACLE = """
SELECT
    e.event_type,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
    CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.event_type
"""


@query("join_salted_skew", oracle=_SALTED_JOIN_ORACLE, tags=("join", "skew", "scale"))
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the fact side carries a deterministic salt
    (event_id mod 8), the dimension side is replicated once per salt
    value, and the join keys on (key, salt) — so a hot join key spreads
    over 8 reducers instead of stalling one. This is the standard
    manual skew-join idiom for when AQE's runtime skew split can't
    apply (e.g. the skewed side feeds a stateful op, or stats are
    unavailable); the result is provably identical to the plain join,
    which is exactly what the oracle checks.

    Scale: replication factor x dim size is the cost — salt counts are
    chosen per-key in production (only salt the hot keys, from a
    frequency sketch); here a uniform salt keeps the oracle exact. The
    shuffle is forced (broadcast disabled via hint-free sort-merge on
    the salted key) to exercise the pattern the idiom exists for.
    """
    ev = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(_SALT_JOIN_N)).cast("int")
    )
    dim = (
        table(spark, sf_dir, "customer")
        .select("c_custkey")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_JOIN_N)])))
    )
    joined = ev.hint("shuffle_merge").join(
        dim, (ev["user_id"] == dim["c_custkey"]) & (ev["salt"] == dim["salt"])
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        dsum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# histogram aggregation (round 4)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 20
_HIST_LO = 0.0
_HIST_HI = 1000.0

_HISTOGRAM_ORACLE = f"""
SELECT
    CAST(CASE WHEN value < {_HIST_LO} THEN 0
              WHEN value >= {_HIST_HI} THEN {_HIST_BUCKETS} + 1
              ELSE CAST(floor((value - {_HIST_LO}) / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BUCKETS})) AS BIGINT) + 1
         END AS BIGINT) AS bucket,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(MIN(value) AS DOUBLE) AS lo,
    CAST(MAX(value) AS DOUBLE) AS hi
FROM events
GROUP BY 1
"""


@query("agg_histogram", oracle=_HISTOGRAM_ORACLE, tags=("agg", "distribution", "events"))
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bucket histogram (width_bucket semantics: 0 = underflow,
    n_buckets+1 = overflow) over the event value distribution — the
    one-pass distribution profile every data-quality report starts
    with, and the binning primitive under quantile-sketch validation.

    Scale: pure map-side bucket assignment + one keyspace-sized
    aggregation (22 groups); never sorts and never collects the
    distribution. The bucket expression is written out arithmetically
    (floor of scaled offset) so both engines evaluate the identical
    IEEE expression — width_bucket()'s edge-case conventions differ
    across engines, the arithmetic form does not.
    """
    ev = table(spark, sf_dir, "events")
    width = (_HIST_HI - _HIST_LO) / _HIST_BUCKETS
    bucket = (
        F.when(F.col("value") < _HIST_LO, F.lit(0))
        .when(F.col("value") >= _HIST_HI, F.lit(_HIST_BUCKETS + 1))
        .otherwise(
            F.floor((F.col("value") - F.lit(_HIST_LO)) / F.lit(width)).cast("long")
            + 1
        )
        .cast("long")
    )
    return (
        ev.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# bucketed co-located join (round 4): the pre-shuffled 100 TB layout
# ---------------------------------------------------------------------------

_BUCKETED_ORACLE = """
SELECT
    o.o_orderpriority,
    CAST(COUNT(*) AS BIGINT) AS n_items,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@query("join_bucketed", oracle=_BUCKETED_ORACLE, tags=("join", "bucketing", "scale"))
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketBy(8)
    + sortBy on the join key, then sort-merge joined with ZERO
    exchange on either side (plan-asserted in tests/test_plans.py) —
    the layout a recurring 100 TB join amortizes its shuffle into.
    One bucketed write replaces a shuffle in EVERY subsequent join on
    that key; at petabyte scale that is the difference between a
    nightly pipeline that re-shuffles the fact table per query and one
    that never moves it again.

    The aggregate hash-matches the plain-join oracle, proving bucket
    pruning/merging loses no rows. Table names are per-sf so repeated
    calls in one session reuse the bucketed layout (the amortization
    being demonstrated) instead of rewriting it.
    """
    import shutil

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    ot, lt = f"dfs_orders_b_{tag}", f"dfs_lineitem_b_{tag}"

    def ensure(name: str, src: str, cols: list[str], key: str) -> None:
        if spark.catalog.tableExists(name):
            return
        # a PRIOR session's managed-table directory may survive in the
        # warehouse while this session's catalog has no entry — clear it
        # or saveAsTable fails with LOCATION_ALREADY_EXISTS
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        table(spark, sf_dir, src).select(*cols).write.mode(
            "overwrite"
        ).bucketBy(8, key).sortBy(key).saveAsTable(name)

    ensure(ot, "orders", ["o_orderkey", "o_orderpriority"], "o_orderkey")
    ensure(lt, "lineitem", ["l_orderkey", "l_extendedprice"], "l_orderkey")
    lb = spark.table(lt)
    ob = spark.table(ot)
    joined = lb.join(ob.hint("merge"), lb["l_orderkey"] == ob["o_orderkey"])
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        dsum("l_extendedprice").alias("total_price"),
    )


_MODE_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY user_id, event_type
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY n DESC, event_type
    ) AS rn
    FROM c
)
SELECT user_id, event_type AS mode_event, n AS n_occurrences
FROM r WHERE rn = 1
"""


@query("agg_mode_tiebreak", oracle=_MODE_ORACLE, tags=("agg", "events"))
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: each user's most frequent event type, ties
    resolved to the lexicographically smallest — the explicit-tiebreak
    formulation that native mode() aggregates (Spark and DuckDB both
    leave tie order undefined) cannot hash-check. Count-then-rank is
    also the scalable shape: the heavy relation is (user, type) counts
    (keyspace-bounded), and the window ranks only that.
    """
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), F.col("n").alias("n_occurrences"))
    )


_CORRELATION_ORACLE = """
WITH p AS (
    SELECT l_returnflag,
        CAST(round(l_quantity, 0) AS BIGINT) AS x,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(x) AS BIGINT) AS sx,
        CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
    FROM p GROUP BY l_returnflag
)
SELECT l_returnflag, n,
    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        AS corr_qty_price
FROM s
"""


@query("agg_correlation", oracle=_CORRELATION_ORACLE, tags=("agg", "analytic"))
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return
    flag, from exact-integer sufficient statistics — the two-column
    relationship profile (built-in corr() accumulates doubles in
    partition order and is NOT reproducible across engines or runs;
    this formulation is).

    Parity: x is integer units, y integer cents (both exact in the
    fixture); the five cross-sums accumulate as DECIMAL(38,0) —
    order-free exact integers — each cast ONCE to double, after which
    both engines run the identical correlation expression tree.
    Scale: one shuffle on the group key with map-side partials, the
    same distributed-moments shape as events_value_trend.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.round("l_quantity", 0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    p = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    d38 = "decimal(38,0)"
    s = p.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast("double").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        (
            (n_d * F.col("sxy") - sx_d * sy_d)
            / (
                F.sqrt(n_d * F.col("sxx") - sx_d * sx_d)
                * F.sqrt(n_d * F.col("syy") - sy_d * sy_d)
            )
        ).alias("corr_qty_price"),
    )


_STRING_CONCAT_ORACLE = """
SELECT n_name,
    string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
    CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@query("agg_string_concat_ordered", oracle=_STRING_CONCAT_ORACLE, tags=("agg", "string"))
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered LISTAGG: supplier names per nation joined
    '|'-delimited in sorted order. collect_list's arrival order is
    partition-dependent — the array_sort makes the concatenation a
    pure function of the SET, reproducible at any parallelism (the
    same discipline every string-valued aggregate in this repo
    follows; DuckDB mirrors it with string_agg ORDER BY).

    Scale: one shuffle on the group key; the per-group string is
    group-cardinality bounded — for unbounded groups, cap with
    slice(array_sort(...), 1, k) and emit the count alongside (the
    count column here shows the pattern).
    """
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias("suppliers"),
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        )
    )


_BASKET_TOP = 20

_BASKET_ORACLE = f"""
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
pc AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
    FROM items GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        CAST(COUNT(*) AS BIGINT) AS support_ab
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
)
SELECT part_a, part_b, support_ab,
    CAST(support_ab AS DOUBLE) / CAST(pa.n_part AS DOUBLE) AS confidence_a_b,
    CAST(support_ab AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
        / (CAST(pa.n_part AS DOUBLE) * CAST(pb.n_part AS DOUBLE)) AS lift
FROM pairs
JOIN pc pa ON pairs.part_a = pa.l_partkey
JOIN pc pb ON pairs.part_b = pb.l_partkey
CROSS JOIN n
ORDER BY support_ab DESC, part_a, part_b
LIMIT {_BASKET_TOP}
"""


@query("join_market_basket", oracle=_BASKET_ORACLE, tags=("join", "agg", "topk", "analytic"))
def join_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: top part pairs ordered
    together, with support, confidence and lift — the association-rule
    primitive (recommendations, bundling, also-bought).

    Scale: the self-join is keyed on the ORDER — fan-out is
    C(items_per_order, 2), a per-basket constant (~20 for retail
    baskets), never corpus-quadratic; the pair aggregation shuffles on
    the (part, part) key with map-side combine, and the per-part
    counts broadcast back onto the pair relation. Ratios divide exact
    bigints (bit-identical doubles), and the top-20 compiles to
    per-partition heaps.
    """
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    pc = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support_ab"))
    )
    pa = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("na"))
    pb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("nb"))
    scored = (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            "support_ab",
            (F.col("support_ab").cast("double") / F.col("na").cast("double")).alias(
                "confidence_a_b"
            ),
            (
                F.col("support_ab").cast("double")
                * F.lit(float(n_orders))
                / (F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("support_ab"), "part_a", "part_b").limit(_BASKET_TOP)


_MAP_PACK_ORACLE = """
WITH m AS (
    SELECT p_partkey,
        MAP(['brand', 'type'], [p_brand, p_type]) AS attrs,
        MAP(['size'], [CAST(p_size AS VARCHAR)]) AS extra
    FROM part
)
SELECT p_partkey,
    (attrs['brand'])[1] AS brand_val,
    (attrs['type'])[1] AS type_val,
    array_to_string(map_keys(attrs), ',') AS keys_csv,
    array_to_string(map_values(attrs), '|') AS vals_csv,
    CAST(cardinality(attrs) AS BIGINT) AS n_entries,
    (map_concat(attrs, extra)['size'])[1] AS size_val
FROM m
"""


@query("scalar_map_pack", oracle=_MAP_PACK_ORACLE, tags=("scalar", "map"))
def scalar_map_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type scalar battery — construction (map from key/value
    arrays), extraction (element_at), introspection (map_keys /
    map_values / size) and merge (map_concat) — the semi-structured
    attribute-bag surface (SURVEY §2.3's scalar row lists map functions
    alongside string/date/math/array/json; this completes the set).
    Outputs are flattened to strings/longs so the hash compare sees
    engine-portable scalars, not engine-specific map renderings.

    Scale: pure per-row projection, whole-stage codegen, no shuffle.
    """
    p = table(spark, sf_dir, "part")
    attrs = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    extra = F.create_map(F.lit("size"), F.col("p_size").cast("string"))
    return p.select(
        "p_partkey",
        F.element_at(attrs, "brand").alias("brand_val"),
        F.element_at(attrs, "type").alias("type_val"),
        F.array_join(F.map_keys(attrs), ",").alias("keys_csv"),
        F.array_join(F.map_values(attrs), "|").alias("vals_csv"),
        F.size(attrs).cast("long").alias("n_entries"),
        F.element_at(F.map_concat(attrs, extra), "size").alias("size_val"),
    )


_NULL_SAFE_ORACLE = """
WITH k AS (
    SELECT o_orderkey,
        CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderstatus END AS k
    FROM orders
),
a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_a FROM k GROUP BY k),
b AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_b FROM k WHERE o_orderkey % 2 = 0 GROUP BY k)
SELECT
    COALESCE(CAST(a.k AS VARCHAR), '<NULL>') AS join_key,
    a.n_a,
    COALESCE(b.n_b, 0) AS n_b
FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@query("join_null_safe", oracle=_NULL_SAFE_ORACLE, tags=("join", "outer", "scalar"))
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (IS NOT DISTINCT FROM / <=>): NULL keys
    match each other instead of vanishing — the semantics CDC merges
    and dimension lookups with optional keys actually need (a plain
    equi-join silently drops every NULL-keyed row; this query's
    synthesized 10%-NULL key makes that difference the tested
    behavior, with the NULL group surfacing as an explicit row).

    Scale: Spark plans <=> as an ordinary hash join on a coalesced
    key — same single shuffle as the plain join; the NULL group is one
    key and skews like any hot key (salt it if NULLs dominate).
    """
    o = table(spark, sf_dir, "orders")
    k = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    a = k.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    b = (
        k.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n_b"))
        .withColumnRenamed("k", "kb")
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["kb"]), "left")
        .select(
            F.coalesce(F.col("k").cast("string"), F.lit("<NULL>")).alias("join_key"),
            "n_a",
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )


_SET_ALL_ORACLE = """
WITH a AS (SELECT o_orderstatus AS s, o_orderpriority AS p FROM orders WHERE o_orderkey % 3 = 0),
b AS (SELECT o_orderstatus AS s, o_orderpriority AS p FROM orders WHERE o_orderkey % 2 = 0),
u AS (SELECT s, p FROM a UNION ALL SELECT s, p FROM b),
i AS (SELECT s, p FROM a INTERSECT ALL SELECT s, p FROM b),
e AS (SELECT s, p FROM a EXCEPT ALL SELECT s, p FROM b)
SELECT s, p,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM u WHERE u.s = g.s AND u.p = g.p) AS n_union_all,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM i WHERE i.s = g.s AND i.p = g.p) AS n_intersect_all,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE e.s = g.s AND e.p = g.p) AS n_except_all
FROM (SELECT DISTINCT s, p FROM u) g
"""


@query("set_ops_all", oracle=_SET_ALL_ORACLE, tags=("setop", "agg", "subquery"))
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (UNION ALL / INTERSECT ALL /
    EXCEPT ALL) — the multiplicity-preserving variants, whose row
    counts per group are the tested contract (set_union/intersect/
    except cover the DISTINCT forms; ALL semantics differ exactly when
    duplicates exist, which the overlapping orders slices guarantee).
    INTERSECT ALL keeps min(multiplicity), EXCEPT ALL subtracts with a
    floor of zero — both checked per (status, priority) group.

    Scale: Spark plans intersectAll/exceptAll as aggregations over
    tagged unions — one shuffle each on the full row key; the counting
    projection here adds a tiny distinct-key rollup.
    """
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    )
    b = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    )
    u = a.unionAll(b)
    i = a.intersectAll(b)
    e = a.exceptAll(b)

    def counts(df, name):
        return df.groupBy("s", "p").agg(F.count(F.lit(1)).cast("long").alias(name))

    g = u.select("s", "p").distinct()
    return (
        g.join(counts(u, "n_union_all"), ["s", "p"], "left")
        .join(counts(i, "n_intersect_all"), ["s", "p"], "left")
        .join(counts(e, "n_except_all"), ["s", "p"], "left")
        .select(
            "s", "p",
            F.coalesce("n_union_all", F.lit(0)).cast("long").alias("n_union_all"),
            F.coalesce("n_intersect_all", F.lit(0)).cast("long").alias("n_intersect_all"),
            F.coalesce("n_except_all", F.lit(0)).cast("long").alias("n_except_all"),
        )
    )


_MOMENTS_ORACLE = f"""
WITH p AS (
    SELECT l_returnflag,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(y AS DECIMAL(38,0))) AS s1i,
        CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS s2,
        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y * y) AS DOUBLE) AS s3,
        CAST(SUM(CAST(CAST(y AS DECIMAL(38,0)) * y AS DECIMAL(38,0))
                 * CAST(CAST(y AS DECIMAL(38,0)) * y AS DECIMAL(38,0)))
             AS DOUBLE) AS s4
    FROM p GROUP BY l_returnflag
),
m AS (
    SELECT l_returnflag, n, s1, s2, s3, s4,
        s1 / CAST(n AS DOUBLE) AS m1
    FROM s
),
c AS (
    SELECT l_returnflag, n, m1,
        s2 / CAST(n AS DOUBLE) - m1 * m1 AS mu2,
        s3 / CAST(n AS DOUBLE) - 3.0 * m1 * (s2 / CAST(n AS DOUBLE))
            + 2.0 * m1 * m1 * m1 AS mu3,
        s4 / CAST(n AS DOUBLE) - 4.0 * m1 * (s3 / CAST(n AS DOUBLE))
            + 6.0 * m1 * m1 * (s2 / CAST(n AS DOUBLE))
            - 3.0 * m1 * m1 * m1 * m1 AS mu4
    FROM m
)
SELECT c.l_returnflag, c.n,
    {sql_round6_ratio("s.s1i", "100 * c.n")} AS mean_price,
    round(sqrt(mu2) / 100.0, 6) AS stddev_pop_price,
    round(mu3 / (sqrt(mu2) * sqrt(mu2) * sqrt(mu2)), 6) AS skewness,
    round(mu4 / (mu2 * mu2) - 3.0, 6) AS excess_kurtosis
FROM c JOIN s ON c.l_returnflag = s.l_returnflag
"""


@query("agg_skew_kurtosis", oracle=_MOMENTS_ORACLE, tags=("agg", "analytic"))
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per return flag from
    exact raw power sums — the distribution-shape profile (is price
    right-tailed? heavy-tailed?) that built-in skewness()/kurtosis()
    compute with order-dependent float accumulation; here S1..S4 are
    DECIMAL(38,0)-exact integer sums (cents^4 at 100 TB row counts
    still fits 38 digits), so both engines derive central moments from
    identical doubles. The final transcendental-free expressions are
    rounded to 6 dp only to absorb the one sqrt's last-ulp.

    Scale: one shuffle with map-side partial power sums — the
    classic distributed-moments sketch (constant state per group).
    """
    li = table(spark, sf_dir, "lineitem")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    p = li.select("l_returnflag", y.alias("y"))
    d38 = "decimal(38,0)"
    y2 = (F.col("y").cast(d38) * F.col("y")).cast(d38)
    s = p.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast(d38)).alias("s1i"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("s1"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast("double").alias("s2"),
        F.sum(F.col("y").cast(d38) * F.col("y") * F.col("y")).cast("double").alias("s3"),
        F.sum(y2 * y2).cast("double").alias("s4"),
    )
    n_d = F.col("n").cast("double")
    m1 = F.col("s1") / n_d
    mu2 = F.col("s2") / n_d - m1 * m1
    mu3 = F.col("s3") / n_d - F.lit(3.0) * m1 * (F.col("s2") / n_d) + F.lit(2.0) * m1 * m1 * m1
    mu4 = (
        F.col("s4") / n_d
        - F.lit(4.0) * m1 * (F.col("s3") / n_d)
        + F.lit(6.0) * m1 * m1 * (F.col("s2") / n_d)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        "n",
        # exact-integer 6-dp rounding of s1/(100n) (functions.round6_ratio)
        round6_ratio("s1i", "100 * n").alias("mean_price"),
        F.round(F.sqrt(mu2) / 100.0, 6).alias("stddev_pop_price"),
        F.round(mu3 / (F.sqrt(mu2) * F.sqrt(mu2) * F.sqrt(mu2)), 6).alias("skewness"),
        F.round(mu4 / (mu2 * mu2) - F.lit(3.0), 6).alias("excess_kurtosis"),
    )


_GROUPING_ID_ORACLE = """
SELECT
    COALESCE(o_orderstatus, '<ALL>') AS status,
    COALESCE(o_orderpriority, '<ALL>') AS priority,
    CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
    CAST(COUNT(*) AS BIGINT) AS n_orders,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("agg_grouping_id", oracle=_GROUPING_ID_ORACLE, tags=("agg", "rollup", "cube"))
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id: the bitmask that tells subtotal rows
    apart from data rows whose key genuinely is NULL — without it a
    cube over nullable keys is ambiguous (the consumer cannot tell
    'all statuses' from 'status unknown'). COALESCE to '<ALL>' plus
    the gid column is the standard disambiguated subtotal report.

    Scale: same single-shuffle expansion as agg_cube (each input row
    contributes to 4 grouping sets map-side); gid is computed from the
    grouping bit vector — no extra pass.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<ALL>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<ALL>")).alias("priority"),
            "gid",
            "n_orders",
            "sum_total",
        )
    )


# Tie-safe arg-extrema key: exact integer cents scaled past the orderkey
# range (orderkey < 10^8 at any fixture SF), tiebreak folded in so the
# winner is unique: max prefers the SMALLEST orderkey among price ties,
# min likewise.
_MIN_MAX_BY_ORACLE = """
WITH k AS (
    SELECT o_custkey, o_orderkey, o_orderpriority,
        CAST(round(o_totalprice * 100, 0) AS BIGINT) * 100000000 AS cents_hi
    FROM orders
)
SELECT o_custkey,
    CAST(arg_max(o_orderkey, cents_hi + (99999999 - o_orderkey)) AS BIGINT)
        AS biggest_order,
    CAST(arg_min(o_orderkey, cents_hi + o_orderkey) AS BIGINT)
        AS smallest_order,
    arg_max(o_orderpriority, cents_hi + (99999999 - o_orderkey))
        AS biggest_priority,
    CAST(COUNT(*) AS BIGINT) AS n_orders
FROM k
GROUP BY o_custkey
"""


@query("agg_min_max_by", oracle=_MIN_MAX_BY_ORACLE, tags=("agg", "analytic"))
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by (arg-extrema) battery: per customer, the order
    key and priority of their most- and least-expensive orders — the
    'attribute of the winner' aggregate that otherwise costs a window
    + filter pass. Ties on o_totalprice are broken deterministically
    by folding the orderkey INTO a single exact-integer comparison key
    (cents scaled past the orderkey range) so the winner is unique by
    construction in both engines (bare max_by leaves tie winners
    undefined — the same hazard agg_mode_tiebreak documents for
    mode()).

    Scale: single shuffle with map-side partial arg-extrema (constant
    state per group) — strictly cheaper than the window formulation.
    """
    o = table(spark, sf_dir, "orders")
    cents_hi = F.round(F.col("o_totalprice") * 100, 0).cast("long") * 100000000
    ordkey = cents_hi + (F.lit(99999999) - F.col("o_orderkey"))
    ordkey_min = cents_hi + F.col("o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordkey).cast("long").alias("biggest_order"),
        F.min_by("o_orderkey", ordkey_min).cast("long").alias("smallest_order"),
        F.max_by("o_orderpriority", ordkey).alias("biggest_priority"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# exact weighted median (round 4)
# ---------------------------------------------------------------------------

_WEIGHTED_MEDIAN_ORACLE = """
WITH base AS (
    SELECT l_returnflag, l_linestatus, l_extendedprice,
        CAST(l_quantity AS DECIMAL(18,2)) AS w,
        l_orderkey, l_linenumber
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, l_linestatus, l_extendedprice,
        SUM(w) OVER (
            PARTITION BY l_returnflag, l_linestatus
            ORDER BY l_extendedprice, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cw,
        SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tw
    FROM base
)
SELECT l_returnflag, l_linestatus,
    MIN(l_extendedprice) AS weighted_median,
    CAST(MAX(tw) AS DOUBLE) AS total_weight
FROM cum
WHERE 2 * cw >= tw
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_weighted_median", oracle=_WEIGHTED_MEDIAN_ORACLE, tags=("agg", "window", "percentile"))
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median: the smallest price whose
    cumulative quantity weight reaches half the group's total — the
    quantity-weighted "typical unit price" per (returnflag,
    linestatus). No built-in computes this; percentile_approx ignores
    weights and an explode-by-weight rewrite multiplies the row count
    by the weight sum.

    Exactness: weights go through DECIMAL(18,2); the running and total
    sums stay decimal, and the half-total comparison (2*cw >= tw) is
    exact integer-scaled arithmetic — no float epsilon at the
    boundary. The cumulative order is total (price, orderkey,
    linenumber), so ROWS == RANGE and both engines agree at ties.

    Scale: ONE shuffle on the group key serves both windows (same
    partitioning; the running and total sums are two frame specs over
    one sort), then the boundary filter and a 4-row report. Group
    count is tiny here, but the plan is identical for a
    high-cardinality group key — state per group is O(1).
    """
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        dec("l_quantity").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("l_returnflag", "l_linestatus")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag", "l_linestatus")
    cum = base.select(
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.min("l_extendedprice").alias("weighted_median"),
            F.max("tw").cast("double").alias("total_weight"),
        )
    )


_REGEXP_PACK_ORACLE = r"""
SELECT
    p_partkey,
    regexp_extract(p_name, '^(\w+)\s+(\w+)', 2)                 AS second_word,
    regexp_replace(p_name, '[aeiou]', '*', 'g')                 AS starred,
    CAST(regexp_matches(p_name, '(^|\s)s\w+') AS BIGINT)        AS has_s_word,
    CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT)  AS n_vowels,
    CAST(len(regexp_split_to_array(p_type, '\s+')) AS BIGINT)   AS n_type_words,
    regexp_extract(p_type, '(\w+)$', 1)                         AS last_type_word
FROM part
"""


@query("scalar_regexp_pack", oracle=_REGEXP_PACK_ORACLE, tags=("scalar", "string", "regexp"))
def scalar_regexp_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression function battery: extract (group select),
    global replace, boolean match, match counting, regex split, and
    anchored extraction — all JVM-codegen built-ins, no Python in the
    row path. Patterns stay inside the RE2-compatible subset (no
    backreferences/lookaround) so Java regex and DuckDB's RE2 agree
    literally. The boolean surfaces as BIGINT 0/1 (engine-neutral
    hashing); counts via regexp_extract_all length on the oracle side
    mirror regexp_count exactly.
    """
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)\s+(\w+)", 2).alias("second_word"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("starred"),
        F.col("p_name").rlike(r"(^|\s)s\w+").cast("long").alias("has_s_word"),
        F.regexp_count("p_name", F.lit("[aeiou]")).cast("long").alias("n_vowels"),
        F.size(F.split("p_type", r"\s+")).cast("long").alias("n_type_words"),
        F.regexp_extract("p_type", r"(\w+)$", 1).alias("last_type_word"),
    )


_BOOLEAN_AGG_ORACLE = """
SELECT
    l_returnflag,
    CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_qty,
    CAST(bool_or(l_discount > 0.05) AS BIGINT)  AS any_deep_discount,
    CAST(bool_and(l_extendedprice > 0) AS BIGINT) AS all_positive_price,
    CAST(SUM(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tax_free,
    CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS high_qty_ratio
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_boolean_battery", oracle=_BOOLEAN_AGG_ORACLE, tags=("agg", "scalar", "conditional"))
def agg_boolean_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregate battery: count_if, bool_or,
    bool_and, and a conditional ratio — the predicate-aggregation
    surface (ANY/EVERY in the standard). Booleans aggregate with
    map-side partials like any sum/min; outputs cast to BIGINT 0/1 for
    engine-neutral hashing, and the ratio divides two exactly-counted
    integers (one deterministic float op, identical in both engines).
    """
    li = table(spark, sf_dir, "lineitem")
    high = F.count_if(F.col("l_quantity") > 25)
    return li.groupBy("l_returnflag").agg(
        high.cast("long").alias("n_high_qty"),
        F.bool_or(F.col("l_discount") > 0.05).cast("long").alias("any_deep_discount"),
        F.bool_and(F.col("l_extendedprice") > 0).cast("long").alias("all_positive_price"),
        F.count_if(F.col("l_tax") == 0).cast("long").alias("n_tax_free"),
        (high.cast("double") / F.count(F.lit(1)).cast("double")).alias("high_qty_ratio"),
    )


_LINEAR_FIT_ORACLE = """
WITH p AS (
    SELECT l_returnflag,
        CAST(round(l_quantity, 0) AS BIGINT) AS x,
        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(x) AS BIGINT) AS sx,
        CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
        CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy
    FROM p GROUP BY l_returnflag
),
fit AS (
    SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
        (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
    FROM s
)
SELECT l_returnflag, n,
    slope AS slope_cents_per_unit,
    (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents,
    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS r2
FROM fit
"""


@query("agg_linear_fit", oracle=_LINEAR_FIT_ORACLE, tags=("agg", "analytic", "ml"))
def agg_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS fit (slope, intercept, R^2) of extended price
    (cents) on quantity, from exact-integer sufficient statistics —
    the distributed closed-form regression: one shuffle carries five
    DECIMAL(38,0)-exact power sums per group, the fit itself is
    driver-free arithmetic on those scalars. Built-in
    regr_slope/regr_intercept accumulate doubles in partition order
    (irreproducible across partitionings); this formulation is
    bit-stable under ANY partitioning because every float op happens
    AFTER the exact integer aggregation, in a tree mirrored verbatim
    in the oracle (same discipline as `agg_correlation`; R^2 is
    written as the same two-factor product in both engines, not a
    pow(), to keep the operation sequence literal).
    """
    li = table(spark, sf_dir, "lineitem")
    p = li.select(
        "l_returnflag",
        F.round("l_quantity", 0).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    dec38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = p.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec38("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec38("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec38("x") * F.col("y")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    cov_n = nd * F.col("sxy") - sxd * syd
    var_x_n = nd * F.col("sxx") - sxd * sxd
    var_y_n = nd * F.col("syy") - syd * syd
    fit = s.select(
        "l_returnflag", "n", "sx", "sy", "syy", "sxy",
        (cov_n / var_x_n).alias("slope"),
        cov_n.alias("cov_n"), var_x_n.alias("var_x_n"), var_y_n.alias("var_y_n"),
    )
    return fit.select(
        "l_returnflag",
        "n",
        F.col("slope").alias("slope_cents_per_unit"),
        (
            (F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept_cents"),
        (F.col("cov_n") * (F.col("cov_n") / (F.col("var_x_n") * F.col("var_y_n")))).alias("r2"),
    )
