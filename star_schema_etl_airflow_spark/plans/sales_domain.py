"""The reference's full sales pipeline, Spark-native: landing CSVs →
raw layer → SCD2 star schema → datamarts, one run date at a time.

This is the end-to-end parity surface for the reference's three DAGs
(dags/ingest_raw_sales.py, process_core_sales.py, process_datamart_sales.py)
re-expressed as one config-driven :class:`Pipeline`:

- ingest_*          ← GCSBigQueryOperator CSV loads (S1/S2), WRITE_APPEND,
                      ingestion_timestamp stamping
- dim_customers /
  dim_products      ← SCD2 MERGE scripts (dim_customers.sql, dim_products.sql)
                      via the set-based ``apply_scd2``
- dim_dates         ← dim_dates.sql MERGE (upsert on full_date)
- fact_orders       ← fact_orders.sql MERGE: J1 assembly + PIT joins +
                      composite-key upsert, partitioned by order_date
- sales_summary     ← per-date DELETE+INSERT → dynamic partition overwrite
- customer_analytics← full refresh (DELETE WHERE TRUE + INSERT)

Storage: ``base_dir/{raw,core,datamart}/<table>`` parquet, date-partitioned
where the reference partitions (README.md:113-116).  Audit timestamp columns
are intentionally replaced by the injected ``run_date`` (SURVEY.md §7.4
decision 3) so reruns are byte-identical — the idempotency the reference
claims but violates (ref bug #6).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.functions import safe_divide
from star_schema_etl_airflow_spark.operators.merge import merge_upsert
from star_schema_etl_airflow_spark.operators.pit import as_of_join
from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2
from star_schema_etl_airflow_spark.plans.dims import build_date_dim
from star_schema_etl_airflow_spark.plans.pipeline import Pipeline
from star_schema_etl_airflow_spark.sources import io as sio
from star_schema_etl_airflow_spark.sources import schema as scfg

CUSTOMER_TRACKED = [
    "first_name", "last_name", "email", "address", "city", "state", "zipcode",
]
PRODUCT_TRACKED = ["name", "category", "price"]


def _scd2_dim_schema(key: str, tracked_fields: list[T.StructField], sk: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(sk, T.LongType()),
            T.StructField(key, T.StringType()),
            *tracked_fields,
            T.StructField("effective_date", T.DateType()),
            T.StructField("expiration_date", T.DateType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )


class SalesWarehouse:
    """Paths + read/write helpers for one warehouse directory."""

    def __init__(self, spark: SparkSession, base_dir: str, cfg: dict[str, Any]):
        self.spark = spark
        self.base = base_dir
        self.cfg = cfg

    # --- paths ---------------------------------------------------------
    def landing_path(self, table: str, run_date: str) -> str:
        template = scfg.table_config(self.cfg, table)["source"]["path"]
        return os.path.join(self.base, "landing", sio.resolve_dated_path(template, run_date))

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    # --- reads ---------------------------------------------------------
    def read(self, layer: str, table: str) -> DataFrame:
        return self.spark.read.parquet(self.path(layer, table))

    def read_or_empty(self, layer: str, table: str, schema: T.StructType) -> DataFrame:
        p = self.path(layer, table)
        # a crash mid-publish leaves the table only as a swap sibling;
        # reading that as "no table yet" would rebuild it from one day
        sio.recover_swap(p)
        if os.path.isdir(p) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs
        ):
            return self.spark.read.schema(schema).parquet(p)
        return self.spark.createDataFrame([], schema)

    def raw_slice(self, table: str, run_date: str) -> DataFrame:
        """One day's raw partition (P2: the {{dstart}} filter — prunes to
        the ingest_date partition)."""
        return self.read("raw", table).filter(
            F.col("ingest_date") == F.lit(run_date).cast("date")
        )


def _dim_stage(wh: SalesWarehouse, table: str, raw_table: str, key: str,
               sk: str, tracked: list[str], run_date: str) -> DataFrame:
    raw_schema = scfg.table_schema(wh.cfg, raw_table)
    tracked_fields = [f for f in raw_schema.fields if f.name in tracked]
    dim_schema = _scd2_dim_schema(key, tracked_fields, sk)
    dim = wh.read_or_empty("core", table, dim_schema)
    src = wh.raw_slice(raw_table, run_date).select(key, *tracked, "ingestion_timestamp")
    new_dim = apply_scd2(
        dim, src, key=key, tracked=tracked, run_date=run_date,
        sk_col=sk, order_col="ingestion_timestamp",
    )
    # full read-modify-write rewrite; swap because new_dim's lineage reads
    # the same path (SCD2 touches open-ended versions, so per-partition
    # refresh doesn't apply — dims are small, facts are the big table)
    sio.write_swap(new_dim, wh.path("core", table))
    return wh.read("core", table)


def build_sales_pipeline(wh: SalesWarehouse) -> Pipeline:
    cfg = wh.cfg
    p = Pipeline()

    # --- ingest stages (config fan-out, O3) ----------------------------
    def make_ingest(table: str):
        def ingest(spark: SparkSession, run_date: str, results: dict) -> int:
            df = sio.read_csv(
                spark,
                wh.landing_path(table, run_date),
                scfg.table_schema(cfg, table),
                tolerant=True,
            )
            # reproducible audit stamp: run_date midnight, not wall clock
            df = df.withColumn(
                "ingestion_timestamp", F.lit(f"{run_date} 00:00:00").cast("timestamp")
            ).withColumn("ingest_date", F.to_date("ingestion_timestamp"))
            # dynamic partition overwrite of the run_date partition instead of
            # the reference's WRITE_APPEND: re-running a date replaces that
            # day's slice rather than duplicating it (fixes ref bug #6's raw
            # half; other dates' partitions are untouched)
            sio.write_partition_overwrite(df, wh.path("raw", table), "ingest_date")
            return df.count()

        return ingest

    for t in scfg.tables_of_type(cfg, "raw"):
        p.add_stage(t, make_ingest(t), layer="raw")

    # --- core: SCD2 dims ----------------------------------------------
    def dim_customers(spark, run_date, results):
        return _dim_stage(wh, "dim_customers", "customers", "customer_id",
                          "customer_sk", CUSTOMER_TRACKED, run_date)

    def dim_products(spark, run_date, results):
        return _dim_stage(wh, "dim_products", "products", "product_id",
                          "product_sk", PRODUCT_TRACKED, run_date)

    def dim_dates(spark, run_date, results):
        """dim_dates.sql: run_date → +3 years, upsert on full_date."""
        generated = build_date_dim(spark, run_date, _plus_years(run_date, 3))
        existing = wh.read_or_empty("core", "dim_dates", generated.schema)
        merged = merge_upsert(existing, generated, keys=["full_date"])
        sio.write_swap(merged, wh.path("core", "dim_dates"))
        return wh.read("core", "dim_dates")

    p.add_stage("dim_customers", dim_customers,
                deps=scfg.dependencies(cfg, "dim_customers"), layer="core")
    p.add_stage("dim_products", dim_products,
                deps=scfg.dependencies(cfg, "dim_products"), layer="core")
    p.add_stage("dim_dates", dim_dates, layer="core")

    # --- core: fact ----------------------------------------------------
    def fact_orders(spark, run_date, results):
        orders = wh.raw_slice("orders", run_date)
        items = wh.raw_slice("order_items", run_date)
        source = (
            orders.select(
                "order_id",
                "order_date",
                "customer_id",
                F.col("amount").alias("order_amount"),
                "status",
            )
            .join(
                items.select(
                    F.col("order_id").alias("oi_order_id"),
                    "order_item_id",
                    "product_id",
                    "quantity",
                    # ref bug #2 fix: unit_price := price, item_amount := q*price
                    F.col("price").alias("unit_price"),
                    (F.col("quantity") * F.col("price")).alias("item_amount"),
                ),
                F.col("order_id") == F.col("oi_order_id"),
            )
            .drop("oi_order_id")
        )
        cdim = wh.read("core", "dim_customers").select(
            "customer_sk", F.col("customer_id").alias("dim_cid"),
            "effective_date", "expiration_date",
        )
        pdim = wh.read("core", "dim_products").select(
            "product_sk", F.col("product_id").alias("dim_pid"),
            "effective_date", "expiration_date",
        )
        resolved = as_of_join(
            source, cdim, fact_key="customer_id", dim_key="dim_cid", as_of="order_date"
        ).drop("dim_cid", "effective_date", "expiration_date")
        resolved = as_of_join(
            resolved, pdim, fact_key="product_id", dim_key="dim_pid", as_of="order_date"
        ).drop("dim_pid", "effective_date", "expiration_date")
        fact_cols = [
            "order_id", "order_date", "customer_sk", "order_amount", "quantity",
            "order_item_id", "product_id", "product_sk", "unit_price",
            "item_amount", "status",
        ]
        new_rows = resolved.select(fact_cols)
        existing = wh.read_or_empty("core", "fact_orders", new_rows.schema)
        merged = merge_upsert(existing, new_rows, keys=["order_id", "order_item_id"])
        sio.write_swap(merged, wh.path("core", "fact_orders"),
                       partition_by="order_date")
        return wh.read("core", "fact_orders")

    p.add_stage("fact_orders", fact_orders,
                deps=scfg.dependencies(cfg, "fact_orders"), layer="core")

    # --- datamarts -----------------------------------------------------
    def sales_summary(spark, run_date, results):
        """Per-date refresh (S8): only the run_date partition is rewritten."""
        fo = wh.read("core", "fact_orders").filter(
            F.col("order_date") == F.lit(run_date).cast("date")
        )
        dp = wh.read("core", "dim_products").select("product_sk", "category")
        dd = wh.read("core", "dim_dates").select(
            "full_date", "year", "month", "month_name"
        )
        agg = (
            fo.join(F.broadcast(dp), "product_sk")
            .join(F.broadcast(dd), fo.order_date == dd.full_date)
            .groupBy(
                F.col("order_date").alias("date"),
                "year", "month", "month_name",
                F.col("category").alias("product_category"),
            )
            .agg(
                F.sum(F.col("order_amount").cast("decimal(18,2)")).cast("double")
                .alias("total_sales"),
                F.countDistinct("order_id").alias("total_orders"),
                F.sum("quantity").alias("total_quantity"),
            )
            .withColumn(
                "avg_order_value",
                safe_divide(F.col("total_sales"), F.col("total_orders")),
            )
        )
        sio.write_partition_overwrite(agg, wh.path("datamart", "sales_summary"), "date")
        return wh.read("datamart", "sales_summary")

    def customer_analytics(spark, run_date, results):
        """Full refresh (S9) over current customer profiles (P4).

        Deliberate deviation from customer_analytics.sql:37-44: the
        reference joins facts to dims on customer_sk AND is_current, which
        silently drops every order that resolved a *historical* SCD2
        version.  The intent (lifetime metrics under the current profile)
        needs sk → business key via ALL versions first, then the current
        profile attached by business key.
        """
        fo = wh.read("core", "fact_orders")
        dim = wh.read("core", "dim_customers")
        sk_map = dim.select("customer_sk", "customer_id")
        dc = dim.filter("is_current").select(
            "customer_id", "first_name", "last_name", "city", "state"
        )
        per_cust = (
            fo.join(F.broadcast(sk_map), "customer_sk")
            .join(F.broadcast(dc), "customer_id")
            .groupBy("customer_id", "first_name", "last_name", "city", "state")
            .agg(
                F.min("order_date").alias("first_order_date"),
                F.max("order_date").alias("last_order_date"),
                F.countDistinct("order_id").alias("total_orders"),
                F.sum(F.col("item_amount").cast("decimal(18,2)")).cast("double")
                .alias("total_lifetime_value"),
            )
            .withColumn(
                "days_since_last_order",
                F.datediff(F.lit(run_date).cast("date"), F.col("last_order_date"))
                .cast("long"),
            )
            .withColumn(
                "average_order_value",
                safe_divide(F.col("total_lifetime_value"), F.col("total_orders")),
            )
        )
        seg = (
            F.when(
                (F.col("days_since_last_order") <= 30)
                & (F.col("total_orders") >= 3)
                & (F.col("total_lifetime_value") >= 500),
                "VIP",
            )
            .when((F.col("days_since_last_order") <= 90) & (F.col("total_orders") >= 2), "Loyal")
            .when(F.col("days_since_last_order") <= 180, "Active")
            .when(F.col("days_since_last_order") <= 365, "At Risk")
            .otherwise("Inactive")
        )
        result = per_cust.withColumn("customer_segment", seg)
        sio.write_full_overwrite(result, wh.path("datamart", "customer_analytics"))
        return wh.read("datamart", "customer_analytics")

    p.add_stage("sales_summary", sales_summary,
                deps=scfg.dependencies(cfg, "sales_summary"), layer="datamart")
    p.add_stage("customer_analytics", customer_analytics,
                deps=scfg.dependencies(cfg, "customer_analytics"), layer="datamart")
    return p


def _plus_years(run_date: str, years: int) -> str:
    y, rest = run_date.split("-", 1)
    if rest == "02-29":  # leap day has no +N-years counterpart
        rest = "02-28"
    return f"{int(y) + years}-{rest}"
