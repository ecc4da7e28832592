"""SQL entry point + subquery surface.

The reference *intended* a SQL/catalog layer — ``src/kafka/context.rs``
is an empty placeholder and ``src/kafka/mod.rs:1`` declares it — but
never built it (SURVEY.md §3, entry point 3). In Spark it is
``createOrReplaceTempView`` + ``spark.sql``. These queries run ONE SQL
text through both engines: the string passed to ``spark.sql`` is
byte-identical to the DuckDB oracle, which also demonstrates dialect-
portable SQL (exact-decimal aggregate discipline included).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datafusion_streams_spark.catalog import register_views
from datafusion_streams_spark.operators import query

_SQL_ENTRY = """
SELECT
    n_name,
    COUNT(*) AS n_suppliers,
    CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@query("sql_entry_point", oracle=_SQL_ENTRY, tags=("sql", "join", "agg"))
def sql_entry_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register topic/table views, run SQL — the catalog layer the
    reference left as an empty file. The SQL text is shared verbatim
    with the oracle."""
    register_views(spark, sf_dir, "supplier", "nation")
    return spark.sql(_SQL_ENTRY)


_SQL_CORRELATED = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier s
WHERE s_acctbal > (
    SELECT CAST(SUM(CAST(s2.s_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
    FROM supplier s2
    WHERE s2.s_nationkey = s.s_nationkey
)
"""


@query("sql_correlated_subquery", oracle=_SQL_CORRELATED, tags=("sql", "subquery"))
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (above-per-group-average). Catalyst
    decorrelates this into an aggregate + join — no per-row re-execution
    at any scale."""
    register_views(spark, sf_dir, "supplier")
    return spark.sql(_SQL_CORRELATED)


_SQL_IN = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
"""


@query("sql_in_subquery", oracle=_SQL_IN, tags=("sql", "subquery", "semi"))
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery — planned as a (broadcastable) left-semi join."""
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(_SQL_IN)


_SQL_GROUPING_SETS = """
SELECT
    COALESCE(l_returnflag, 'ALL') AS return_flag,
    COALESCE(l_linestatus, 'ALL') AS line_status,
    COUNT(*) AS n_items,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
"""


@query("sql_grouping_sets", oracle=_SQL_GROUPING_SETS, tags=("sql", "agg", "grouping-sets"))
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under cube/rollup) —
    one pass, all requested grouping combinations."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_GROUPING_SETS)


_SQL_WINDOW = """
SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
    CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk,
    lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS prev_orderkey,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
"""


@query("sql_window_functions", oracle=_SQL_WINDOW, tags=("sql", "window"))
def sql_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions through the SQL entry point — ranking, offset,
    and a decimal-exact running frame in one statement the ANSI oracle
    replays verbatim (int-returning functions cast to BIGINT on both
    sides; the frame sum is decimal so partition order cannot drift)."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SQL_WINDOW)


# ---------------------------------------------------------------------------
# recursive CTE (round 4): date-spine densification
# ---------------------------------------------------------------------------

# 60-day spine anchored at the fixture's stable epoch; depth stays under
# Spark's cteRecursionLevelLimit (default 100). At scale a spine is
# generated once per query, spine-length rows — never corpus-sized.
_SPINE_START = "1995-01-01"
_SPINE_DAYS = 60

_RECURSIVE_SPINE_ORACLE = f"""
WITH RECURSIVE spine(day) AS (
    SELECT DATE '{_SPINE_START}'
    UNION ALL
    SELECT day + INTERVAL 1 DAY FROM spine
    WHERE day < DATE '{_SPINE_START}' + INTERVAL {_SPINE_DAYS - 1} DAY
)
SELECT CAST(s.day AS VARCHAR) AS day,
    CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
    CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS day_total
FROM spine s LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.day
GROUP BY s.day
"""

_RECURSIVE_SPINE_SPARK = f"""
WITH RECURSIVE spine(day) AS (
    SELECT DATE '{_SPINE_START}'
    UNION ALL
    SELECT date_add(day, 1) FROM spine
    WHERE day < date_add(DATE '{_SPINE_START}', {_SPINE_DAYS - 1})
)
SELECT CAST(s.day AS STRING) AS day,
    CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
    CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS day_total
FROM spine s LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = s.day
GROUP BY s.day
"""


@query("sql_recursive_date_spine", oracle=_RECURSIVE_SPINE_ORACLE, tags=("sql", "recursive", "temporal"))
def sql_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE) generating a 60-day
    calendar spine, left-joined to per-day order totals — time-series
    DENSIFICATION: days with zero orders appear with explicit zeros,
    which a plain GROUP BY can never produce. The DuckDB oracle runs
    the same recursion (dialect delta: date_add vs + INTERVAL).

    This exercises the recursive-query surface end-to-end through
    spark.sql: recursion-depth limiting, the UNION ALL anchor/step
    split, and a recursive relation joined against a fact table. The
    spine is spine-length rows (60) — generation cost is nil at any
    corpus scale; the join broadcasts the spine.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_RECURSIVE_SPINE_SPARK)


_SQL_LATERAL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
"""


@query("sql_lateral_topk", oracle=_SQL_LATERAL, tags=("sql", "subquery", "topk", "join"))
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT —
    the SQL-standard spelling of top-k-per-group (index-nested-loop
    shape in a row engine). The text is byte-identical in both
    engines; Catalyst decorrelates it into a partitioned window +
    filter — exactly the window_topk_per_group plan — so the
    "per-customer re-execution" the syntax implies never happens at
    scale: one shuffle on the correlation key, rank, filter. The
    physical plan (verified) even applies WindowGroupLimit BEFORE the
    exchange: each map task keeps only its local top-2 per key, so
    the shuffle carries at most 2 x |keys| rows per partition.
    Customers with no orders drop out (inner lateral semantics),
    identically in both engines.
    """
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_LATERAL)
