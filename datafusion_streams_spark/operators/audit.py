"""Data-quality constraint auditing as a registered, oracle-checked
query — the Deequ/Great-Expectations capability expressed as one
declarative Catalyst DAG.

The reference engine has no audit surface; this extends the envelope
the way a production Spark shop does: before a 100 TB table feeds a
training pipeline, every load is gated on a constraint suite
(uniqueness, referential integrity, domains, ranges, null contracts).
Each check is a full-scan aggregate — one pass per table, counts only
through the exchanges, nothing wider than a GROUP BY NULL — so the
audit costs O(input) with no driver-side data movement, and the whole
suite is a single union DAG Spark can share scans across.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_streams_spark.catalog import table
from datafusion_streams_spark.operators import query

_AUDIT_ORACLE = """
SELECT 'orders_pk_unique' AS check_name,
    CAST(COUNT(*) AS BIGINT) AS n_checked,
    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'lineitem_fk_orders',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'customer_fk_nation',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
UNION ALL
SELECT 'lineitem_quantity_range',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders_status_domain',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'lineitem_ship_after_order',
    CAST(COUNT(*) AS BIGINT),
    CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'customer_acctbal_not_null',
    CAST(COUNT(*) AS BIGINT),
    CAST(COUNT(*) - COUNT(c_acctbal) AS BIGINT)
FROM customer
"""


@query("audit_constraints", oracle=_AUDIT_ORACLE, tags=("audit", "agg", "join", "quality"))
def audit_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over the TPC-H-shaped tables: primary-key
    uniqueness, two referential-integrity checks, value-range and
    domain checks, a cross-table temporal-consistency rule, and a
    null contract — each reported as (check_name, n_checked,
    n_violations) so a pipeline can gate on `n_violations == 0`
    per rule.

    Shapes: uniqueness is COUNT - COUNT(DISTINCT) (one exchange of
    partial distinct state); FK checks are LEFT joins counting
    null-extended probes (nation broadcasts; the orders-side join
    shuffles on the key like any fact-fact join and AQE handles
    skew); range/domain/null checks are pure map-side conditional
    sums. Nothing collects; the result is eight rows however large
    the input.
    """
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")

    def check(name: str, df: DataFrame, violation: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.when(violation, 1).otherwise(0)).cast("long").alias("n_violations"),
        )

    pk = orders.agg(
        F.lit("orders_pk_unique").alias("check_name"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("long").alias("n_violations"),
    )
    fk_li = check(
        "lineitem_fk_orders",
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
            "left",
        ),
        F.col("o_orderkey").isNull(),
    )
    fk_cust = check(
        "customer_fk_nation",
        customer.join(
            F.broadcast(nation.select("n_nationkey")),
            customer["c_nationkey"] == F.col("n_nationkey"),
            "left",
        ),
        F.col("n_nationkey").isNull(),
    )
    qty = check(
        "lineitem_quantity_range",
        lineitem,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    disc = check(
        "lineitem_discount_range",
        lineitem,
        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
    )
    status = check(
        "orders_status_domain",
        orders,
        ~F.col("o_orderstatus").isin("O", "F", "P"),
    )
    ship = check(
        "lineitem_ship_after_order",
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"]),
        F.col("l_shipdate") < F.col("o_orderdate"),
    )
    nn = customer.agg(
        F.lit("customer_acctbal_not_null").alias("check_name"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
        (F.count(F.lit(1)) - F.count("c_acctbal")).cast("long").alias("n_violations"),
    )
    out = pk
    for part in (fk_li, fk_cust, qty, disc, status, ship, nn):
        out = out.unionByName(part)
    return out
