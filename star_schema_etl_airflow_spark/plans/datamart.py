"""Datamart-layer aggregations (reference parity).

- ``sales_summary``      ← sql/datamart/sales/sales_summary.sql:10-60
  (join facts to product dim, 5-key GROUP BY, SUM, COUNT DISTINCT,
  SAFE_DIVIDE — operators J4, A1, A2, A3, A6, P3 of SURVEY.md §2)
- ``customer_analytics`` ← sql/datamart/sales/customer_analytics.sql:10-74
  (RFM: MIN/MAX, DATE_DIFF recency, COUNT DISTINCT, SUM, SAFE_DIVIDE,
  CASE segmentation — operators A4, A6, P4, P6)

Both are expressed over the driver fixtures per FIXTURES.md §B:
orders/lineitem play raw orders/order_items, ``part`` plays the product
dimension (category := p_type), ``customer`` plays the current customer
profile.

Scale notes (100 TB): the fact side (lineitem⋈orders) is the big join —
it shuffles on the order key, which is also the natural bucketing key for
both tables; ``part``/``customer`` are dimension-sized and explicitly
broadcast so the enrich join never shuffles the fact stream.  All
aggregates are partial-agg friendly (map-side combine) except
COUNT(DISTINCT order_id), which Catalyst plans as a two-phase expand —
the dominant cost at scale.  Two escape hatches, both exact-preserving
at the value level: (a) pre-aggregate lineitem to (order, category)
grain first, after which COUNT(*) equals the distinct count (measured
~10% faster at sf0.1, and the pre-agg shrinks the orderkey shuffle at
scale); (b) ``approx_count_distinct`` when exactness isn't required.
Form (a) is now the production plan (see ``sales_summary``); the direct
COUNT DISTINCT operator (A3) stays demonstrated by q16_supplier_cnt,
the events queries, and ``operators/profile.py``.

``customer_analytics`` is the pipeline's own plan, order grain included:
its shape lives with ``plans.sales_domain.customer_rfm``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.functions import (
    month_name,
    safe_divide,
    sum_money,
)
from star_schema_etl_airflow_spark.plans.sales_domain import customer_rfm
from star_schema_etl_airflow_spark.sources.fixtures import (
    load_table,
    spread_scan,
)

# Analysis date for recency metrics: the fixture o_orderdate range is
# 1995-01-01..2001-08-01 at every sf; pin a reproducible "run date" just
# past it (replaces the reference's CURRENT_DATE per SURVEY.md §7.4
# decision 3) so recency is always non-negative.
RUN_DATE = "2001-09-01"

# customer_analytics.sql:65-71's segment thresholds, in the shape of
# ``sales_domain.REFERENCE_SEGMENTS``, rescaled to the fixture value range
FIXTURE_SEGMENTS = ((90, 8, 500000), (180, 5), 365, 730)


def sales_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily sales by product category (sales_summary.sql:38-60 transposed).

    Plan shape — the escape-hatch (a) form from the module docstring,
    promoted after measurement: pre-aggregate to (order, category) grain
    first (broadcast part join, one full-fact shuffle with map-side
    combine, NO count-distinct Expand), then broadcast-join orders for
    the date and re-aggregate the already-tiny grain.  COUNT(*) on that
    grain IS COUNT(DISTINCT l_orderkey) per (date, category) because
    each order has exactly one sale_date; money stays DECIMAL(18,2)
    through BOTH aggregation stages (decimal addition is associative —
    exact under any regrouping) and is cast to double only at the edge.
    At 100 TB this halves the big shuffle (the mixed distinct/plain
    aggregate otherwise plans an Expand that doubles every shuffled
    row) and the second shuffle carries ~|orders|·|categories-per-order|
    rows, not the fact stream.  The direct COUNT DISTINCT operator (A3)
    remains demonstrated by q16/events/profile queries.
    """
    # r16: spread the 4-column fact projection across the cores — the
    # single-row-group fixture scan otherwise caps the broadcast-part
    # probe + partial agg at its split count (measured one 3-task stage,
    # ~1 s of task time at sf0.1); hashpartitioning(l_orderkey) also
    # satisfies the (l_orderkey, category) clustering, so the pre-agg
    # reuses this exchange.  No-op at production split counts.
    lineitem = spread_scan(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey",
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.to_date("o_orderdate").alias("sale_date"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        F.col("p_type").alias("product_category"),
    )

    per_order_cat = (
        lineitem
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy("l_orderkey", "product_category")
        .agg(
            # exact decimal partial — NOT sum_money (its trailing double
            # cast would make the second-stage sum order-dependent)
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__sales"),
            F.sum("l_quantity").alias("__qty"),
        )
    )

    # Group only on the minimal key (year/month/month_name are functions
    # of sale_date — deriving them AFTER the aggregate keeps the hash key
    # narrow; same result, cheaper shuffle).
    return (
        per_order_cat
        .join(orders, per_order_cat.l_orderkey == orders.o_orderkey, "inner")
        .groupBy("sale_date", "product_category")
        .agg(
            F.sum("__sales").cast("double").alias("total_sales"),
            F.count("*").alias("total_orders"),
            F.sum("__qty").alias("total_quantity"),
        )
        .select(
            "sale_date",
            F.year("sale_date").alias("year"),
            F.month("sale_date").alias("month"),
            month_name(F.col("sale_date")).alias("month_name"),
            "product_category",
            "total_sales",
            "total_orders",
            "total_quantity",
            safe_divide(F.col("total_sales"), F.col("total_orders")).alias(
                "avg_order_value"
            ),
        )
    )


SALES_SUMMARY_ORACLE = """
SELECT
  CAST(o.o_orderdate AS DATE)                          AS sale_date,
  CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER)    AS "year",
  CAST(EXTRACT(MONTH FROM o.o_orderdate) AS INTEGER)   AS "month",
  monthname(o.o_orderdate)                             AS month_name,
  p.p_type                                             AS product_category,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
  COUNT(DISTINCT l.l_orderkey)                         AS total_orders,
  SUM(l.l_quantity)                                    AS total_quantity,
  CASE WHEN COUNT(DISTINCT l.l_orderkey) = 0 THEN NULL
       ELSE CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / COUNT(DISTINCT l.l_orderkey)
  END                                                  AS avg_order_value
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part   p ON l.l_partkey  = p.p_partkey
GROUP BY 1, 2, 3, 4, 5
"""


def customer_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer RFM metrics (customer_analytics.sql:10-74 transposed).

    Recency is measured against the pinned RUN_DATE (reproducible stand-in
    for the reference's DATE('{{dstart}}'), customer_analytics.sql:34).
    """
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("mktsegment"),
        "c_nationkey",
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("customer_id"),
        F.to_date("o_orderdate").alias("first_order_date"),
    ).withColumn("last_order_date", F.col("first_order_date"))
    # r16: same spread as sales_summary — here hashpartitioning on
    # l_orderkey IS the per_order groupBy's clustering, so the pre-agg
    # runs exchange-free on the spread rows.
    lineitem = spread_scan(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey",
        "l_orderkey", "l_extendedprice",
    )

    # pre-aggregate lineitem to order grain before the orders join: the
    # orderkey join input shrinks ~4x
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("order_value")
    )
    order_rows = per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
    profile = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("customer_id", "customer_name", "mktsegment", F.col("n_name").alias("nation_name"))
    return customer_rfm(order_rows, profile, RUN_DATE, FIXTURE_SEGMENTS)


CUSTOMER_ANALYTICS_ORACLE = f"""
WITH per_customer AS (
  SELECT
    c.c_custkey                                    AS customer_id,
    c.c_name                                       AS customer_name,
    c.c_mktsegment                                 AS mktsegment,
    n.n_name                                       AS nation_name,
    MIN(CAST(o.o_orderdate AS DATE))               AS first_order_date,
    MAX(CAST(o.o_orderdate AS DATE))               AS last_order_date,
    COUNT(DISTINCT o.o_orderkey)                   AS total_orders,
    CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_lifetime_value
  FROM lineitem l
  JOIN orders   o ON l.l_orderkey  = o.o_orderkey
  JOIN customer c ON o.o_custkey   = c.c_custkey
  JOIN nation   n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2, 3, 4
)
SELECT
  customer_id, customer_name, mktsegment, nation_name,
  first_order_date, last_order_date, total_orders, total_lifetime_value,
  CAST(date_diff('day', last_order_date, DATE '{RUN_DATE}') AS BIGINT) AS days_since_last_order,
  CASE WHEN total_orders = 0 THEN NULL
       ELSE total_lifetime_value / total_orders END AS average_order_value,
  CASE
    WHEN date_diff('day', last_order_date, DATE '{RUN_DATE}') <= 90
         AND total_orders >= 8 AND total_lifetime_value >= 500000 THEN 'VIP'
    WHEN date_diff('day', last_order_date, DATE '{RUN_DATE}') <= 180
         AND total_orders >= 5 THEN 'Loyal'
    WHEN date_diff('day', last_order_date, DATE '{RUN_DATE}') <= 365 THEN 'Active'
    WHEN date_diff('day', last_order_date, DATE '{RUN_DATE}') <= 730 THEN 'At Risk'
    ELSE 'Inactive'
  END AS customer_segment
FROM per_customer
"""
