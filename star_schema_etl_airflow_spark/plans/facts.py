"""Fact builder: transaction-grain fact_orders with PIT-resolved dimension
keys (sql/core/fact/fact_orders.sql, operators J1 + J2 + S7).

Fixes reference bugs #1/#2 (SURVEY.md §2.11): ``product_sk`` is included in
the output (the reference's INSERT drops it), and ``unit_price`` /
``item_amount`` are derived from the raw line schema
(``unit_price := extended_price / quantity``, ``item_amount :=
extended_price``) since the declared raw schema has no such columns.

The PIT key resolution is the pipeline's own,
``plans.sales_domain.resolve_dim_keys``; this module only maps the fixture
tables onto it.

Scale design: the header×lines join shuffles on the order key (bucketable);
both dimension joins broadcast the dim side so the fact stream is shuffled
exactly once end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.dims import (
    SCD2_CUSTOMER_DIM_SQL,
    synthetic_scd2_customer_dim,
)
from star_schema_etl_airflow_spark.plans.sales_domain import resolve_dim_keys
from star_schema_etl_airflow_spark.sources.fixtures import (
    load_table,
    spread_scan,
)

# Single-version product dimension derived from `part` (products carry no
# version history in the fixtures; the PIT join still applies, degenerately).
PRODUCT_DIM_EFF = "1995-01-01"


def product_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").cast("long").alias("product_sk"),
        F.col("p_partkey").alias("product_id"),
        F.col("p_type").alias("category"),
        F.col("p_retailprice").alias("price"),
        F.lit(PRODUCT_DIM_EFF).cast("date").alias("effective_date"),
        F.lit(None).cast("date").alias("expiration_date"),
        F.lit(True).alias("is_current"),
    )


PRODUCT_DIM_SQL = f"""
  SELECT CAST(p_partkey AS BIGINT) AS product_sk,
         p_partkey                 AS product_id,
         p_type                    AS category,
         p_retailprice             AS price,
         DATE '{PRODUCT_DIM_EFF}'  AS effective_date,
         CAST(NULL AS DATE)        AS expiration_date,
         TRUE                      AS is_current
  FROM part
"""


def fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble the transaction-grain fact (one row per order line item)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.to_date("o_orderdate").alias("order_date"),
        F.col("o_custkey").alias("customer_id"),
        F.col("o_totalprice").alias("order_amount"),
        F.col("o_orderstatus").alias("status"),
    )
    # r16: spread the single-split lineitem scan so the join probe +
    # as-of pipelines run on every core (no-op at production splits)
    items = spread_scan(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey",
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
        "l_extendedprice",
    ).select(
        F.col("l_orderkey"),
        F.col("l_linenumber").alias("order_item_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").alias("quantity"),
        # ref bug #2 fix: derive unit_price/item_amount from the line schema
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.col("l_extendedprice").alias("item_amount"),
    )
    source = orders.join(items, orders.order_id == items.l_orderkey).drop("l_orderkey")

    resolved = resolve_dim_keys(
        source, synthetic_scd2_customer_dim(spark, sf_dir), product_dim(spark, sf_dir))
    return resolved.select(
        "order_id",
        "order_date",
        "customer_sk",
        "order_amount",
        "quantity",
        "order_item_id",
        "product_id",
        "product_sk",  # ref bug #1 fix: present in the column list AND values
        "unit_price",
        "item_amount",
        "status",
    )


FACT_ORDERS_ORACLE = f"""
WITH cdim AS ({SCD2_CUSTOMER_DIM_SQL}),
pdim AS ({PRODUCT_DIM_SQL})
SELECT
  o.o_orderkey                 AS order_id,
  CAST(o.o_orderdate AS DATE)  AS order_date,
  c.customer_sk,
  o.o_totalprice               AS order_amount,
  l.l_quantity                 AS quantity,
  l.l_linenumber               AS order_item_id,
  l.l_partkey                  AS product_id,
  p.product_sk,
  l.l_extendedprice / l.l_quantity AS unit_price,
  l.l_extendedprice            AS item_amount,
  o.o_orderstatus              AS status
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN cdim c
  ON o.o_custkey = c.customer_id
 AND CAST(o.o_orderdate AS DATE) >= c.effective_date
 AND (c.expiration_date IS NULL OR CAST(o.o_orderdate AS DATE) < c.expiration_date)
JOIN pdim p
  ON l.l_partkey = p.product_id
 AND CAST(o.o_orderdate AS DATE) >= p.effective_date
 AND (p.expiration_date IS NULL OR CAST(o.o_orderdate AS DATE) < p.expiration_date)
"""
