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

Declared schemas: every warehouse read declares its table's stored schema
from one map, :attr:`SalesWarehouse.schemas` — never inferred.  Inferring
reads a footer in a Spark job of its own, and fails with
``UNABLE_TO_INFER_SCHEMA`` on a table that has no files yet, such as a
``fact_orders`` whose first date resolved no rows.

Stage results: stages talk to each other only through their tables.  An
ingest stage returns the number of rows it wrote, observed on the write
itself (``DataFrame.observe``) rather than by a second scan; every other
stage returns ``None`` instead of a read-back of the table it wrote.
Callers that want a table read it with :meth:`SalesWarehouse.read`.

:func:`resolve_dim_keys` and :func:`customer_rfm` are shared with the
registry specs in ``plans/facts.py`` and ``plans/datamart.py``.
``sales_summary`` is not: this stage sums the order header amount on every
line, as the reference does; the registry spec sums line prices.
"""

from __future__ import annotations

import os
from functools import cached_property
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.functions import safe_divide
from star_schema_etl_airflow_spark.operators.merge import merge_upsert
from star_schema_etl_airflow_spark.operators.pit import as_of_join
from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2
from star_schema_etl_airflow_spark.plans import dims
from star_schema_etl_airflow_spark.plans.dims import build_date_dim
from star_schema_etl_airflow_spark.plans.pipeline import Pipeline
from star_schema_etl_airflow_spark.sources import io as sio
from star_schema_etl_airflow_spark.sources import schema as scfg

CUSTOMER_TRACKED = [
    "first_name", "last_name", "email", "address", "city", "state", "zipcode",
]
PRODUCT_TRACKED = ["name", "category", "price"]
# (dimension, raw source table, business key, surrogate key, tracked columns)
DIMS = [
    ("dim_customers", "customers", "customer_id", "customer_sk", CUSTOMER_TRACKED),
    ("dim_products", "products", "product_id", "product_sk", PRODUCT_TRACKED),
]


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


# Stored schemas of the tables the pipeline derives, in the column order a
# read returns: merge keys first (the anti-join of ``merge_upsert`` leads
# with them), the partition column last.
FACT_ORDERS_DDL = (
    "order_id STRING, order_item_id STRING, customer_sk BIGINT, "
    "order_amount DOUBLE, quantity BIGINT, product_id STRING, product_sk BIGINT, "
    "unit_price DOUBLE, item_amount DOUBLE, status STRING, order_date DATE"
)
SALES_SUMMARY_DDL = (
    "year INT, month INT, month_name STRING, product_category STRING, "
    "total_sales DOUBLE, total_orders BIGINT, total_quantity BIGINT, "
    "avg_order_value DOUBLE, date DATE"
)
CUSTOMER_ANALYTICS_DDL = (
    "customer_id STRING, first_name STRING, last_name STRING, city STRING, "
    "state STRING, first_order_date DATE, last_order_date DATE, "
    "total_orders BIGINT, total_lifetime_value DOUBLE, "
    "days_since_last_order BIGINT, average_order_value DOUBLE, "
    "customer_segment STRING"
)

# customer_analytics.sql:65-71's CASE ladder as thresholds:
# ((VIP days, orders, value), (Loyal days, orders), Active days, At Risk days);
# a customer past all of them is Inactive
REFERENCE_SEGMENTS = ((30, 3, 500), (90, 2), 180, 365)


def resolve_dim_keys(
    source: DataFrame, customers: DataFrame, products: DataFrame
) -> DataFrame:
    """fact_orders.sql's PIT joins: add to each fact line the
    ``customer_sk`` and ``product_sk`` of the dimension versions in effect
    on its ``order_date``; lines with none are dropped (inner joins).
    ``as_of_join`` is called through this module's name, which is where
    perfbench's tracer wraps it.
    """
    for sk, key, dim in (
        ("customer_sk", "customer_id", customers),
        ("product_sk", "product_id", products),
    ):
        versions = dim.select(
            sk, F.col(key).alias("dim_key"), "effective_date", "expiration_date")
        source = as_of_join(
            source, versions, fact_key=key, dim_key="dim_key", as_of="order_date"
        ).drop("dim_key", "effective_date", "expiration_date")
    return source


def customer_rfm(
    orders: DataFrame, profile: DataFrame, run_date: str, segments: tuple
) -> DataFrame:
    """customer_analytics.sql's per-customer RFM metrics.

    ``orders`` holds one row per order: ``customer_id``,
    ``first_order_date``, ``last_order_date`` and an exact-decimal
    ``order_value``.  At that grain COUNT(*) is the distinct order count,
    with no count-distinct Expand (measured about 35% faster at sf0.1).
    ``profile`` (``customer_id`` plus the columns to report) is broadcast-
    joined after the aggregate, so its columns stay out of the hash key.
    ``segments`` has the shape of :data:`REFERENCE_SEGMENTS`.  Columns come
    out as ``customer_id``, the profile columns, then the metrics.
    """
    (vip_days, vip_orders, vip_value), (loyal_days, loyal_orders), \
        active_days, at_risk_days = segments
    per_customer = orders.groupBy("customer_id").agg(
        F.min("first_order_date").alias("first_order_date"),
        F.max("last_order_date").alias("last_order_date"),
        F.count("*").alias("total_orders"),
        F.sum("order_value").cast("double").alias("total_lifetime_value"),
    )
    recency = F.col("days_since_last_order")
    n_orders = F.col("total_orders")
    segment = (
        F.when(
            (recency <= vip_days) & (n_orders >= vip_orders)
            & (F.col("total_lifetime_value") >= vip_value),
            "VIP",
        )
        .when((recency <= loyal_days) & (n_orders >= loyal_orders), "Loyal")
        .when(recency <= active_days, "Active")
        .when(recency <= at_risk_days, "At Risk")
        .otherwise("Inactive")
    )
    return (
        per_customer.join(F.broadcast(profile), "customer_id")
        .select(
            "customer_id",
            *[c for c in profile.columns if c != "customer_id"],
            "first_order_date", "last_order_date", "total_orders",
            "total_lifetime_value",
        )
        .withColumn(
            "days_since_last_order",
            F.datediff(F.lit(run_date).cast("date"), F.col("last_order_date"))
            .cast("long"),
        )
        .withColumn(
            "average_order_value",
            safe_divide(F.col("total_lifetime_value"), n_orders),
        )
        .withColumn("customer_segment", segment)
    )


class SalesWarehouse:
    """Paths + read/write helpers for one warehouse directory."""

    def __init__(self, spark: SparkSession, base_dir: str, cfg: dict[str, Any]):
        self.spark = spark
        self.base = base_dir
        self.cfg = cfg

    @cached_property
    def schemas(self) -> dict[str, T.StructType]:
        """table → the schema every read of it declares."""
        out = {}
        for t in scfg.tables_of_type(self.cfg, "raw"):
            out[t] = T.StructType(
                scfg.table_schema(self.cfg, t).fields
                + [T.StructField("ingestion_timestamp", T.TimestampType()),
                   T.StructField("ingest_date", T.DateType())]
            )
        for dim, raw, key, sk, tracked in DIMS:
            fields = [f for f in out[raw].fields if f.name in tracked]
            out[dim] = _scd2_dim_schema(key, fields, sk)
        # a schema probe, so through ``dims``: perfbench wraps this module's
        # ``build_date_dim`` to count the date rows the dim_dates stage makes
        out["dim_dates"] = dims.build_date_dim(self.spark, "2000-01-01", "2000-01-01").schema
        out["fact_orders"] = T.StructType.fromDDL(FACT_ORDERS_DDL)
        out["sales_summary"] = T.StructType.fromDDL(SALES_SUMMARY_DDL)
        out["customer_analytics"] = T.StructType.fromDDL(CUSTOMER_ANALYTICS_DDL)
        return out

    # --- paths ---------------------------------------------------------
    def landing_path(self, table: str, run_date: str) -> str:
        template = scfg.table_config(self.cfg, table)["source"]["path"]
        return os.path.join(self.base, "landing", sio.resolve_dated_path(template, run_date))

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.base, layer, table)

    # --- reads ---------------------------------------------------------
    def read(self, layer: str, table: str) -> DataFrame:
        return self.spark.read.schema(self.schemas[table]).parquet(self.path(layer, table))

    def read_or_empty(self, layer: str, table: str) -> DataFrame:
        p = self.path(layer, table)
        # a crash mid-publish leaves the table only as a swap sibling;
        # reading that as "no table yet" would rebuild it from one day
        sio.recover_swap(p)
        if os.path.isdir(p):
            return self.read(layer, table)
        return self.spark.createDataFrame([], self.schemas[table])

    def raw_slice(self, table: str, run_date: str) -> DataFrame:
        """One day's raw partition (P2: the {{dstart}} filter — prunes to
        the ingest_date partition)."""
        return self.read("raw", table).filter(
            F.col("ingest_date") == F.lit(run_date).cast("date")
        )


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
            # the row count rides on the write: a separate count() re-scans
            # the CSV with every column pruned, so DROPMALFORMED never parses
            # (or drops) a malformed row and the count overstates the table
            written = Observation()
            df = df.observe(written, F.count(F.lit(1)).alias("rows"))
            # dynamic partition overwrite of the run_date partition instead of
            # the reference's WRITE_APPEND: re-running a date replaces that
            # day's slice rather than duplicating it (fixes ref bug #6's raw
            # half; other dates' partitions are untouched)
            sio.write_partition_overwrite(df, wh.path("raw", table), "ingest_date")
            return written.get["rows"]

        return ingest

    for t in scfg.tables_of_type(cfg, "raw"):
        p.add_stage(t, make_ingest(t), layer="raw")

    # --- core: SCD2 dims ----------------------------------------------
    def make_dim(table: str, raw_table: str, key: str, sk: str, tracked: list[str]):
        def dim_stage(spark, run_date, results):
            dim = wh.read_or_empty("core", table)
            src = wh.raw_slice(raw_table, run_date).select(
                key, *tracked, "ingestion_timestamp")
            new_dim = apply_scd2(
                dim, src, key=key, tracked=tracked, run_date=run_date,
                sk_col=sk, order_col="ingestion_timestamp",
            )
            # full read-modify-write rewrite; swap because new_dim's lineage
            # reads the same path (SCD2 touches open-ended versions, so
            # per-partition refresh doesn't apply — dims are small, facts
            # are the big table)
            sio.write_swap(new_dim, wh.path("core", table))

        return dim_stage

    for table, *spec in DIMS:
        p.add_stage(table, make_dim(table, *spec),
                    deps=scfg.dependencies(cfg, table), layer="core")

    def dim_dates(spark, run_date, results):
        """dim_dates.sql: run_date → +3 years, upsert on full_date."""
        generated = build_date_dim(spark, run_date, _plus_years(run_date, 3))
        existing = wh.read_or_empty("core", "dim_dates")
        merged = merge_upsert(existing, generated, keys=["full_date"])
        sio.write_swap(merged, wh.path("core", "dim_dates"))

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
        resolved = resolve_dim_keys(
            source, wh.read("core", "dim_customers"), wh.read("core", "dim_products"))
        # the merge reads the day slice twice (its keys and its rows):
        # build the PIT-resolved slice once
        new_rows = resolved.select(wh.schemas["fact_orders"].fieldNames()).persist()
        existing = wh.read_or_empty("core", "fact_orders")
        merged = merge_upsert(existing, new_rows, keys=["order_id", "order_item_id"])
        try:
            sio.write_swap(merged, wh.path("core", "fact_orders"),
                           partition_by="order_date")
        finally:
            new_rows.unpersist()

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

    def customer_analytics(spark, run_date, results):
        """Full refresh (S9) over current customer profiles (P4).

        Deliberate deviation from customer_analytics.sql:37-44: the
        reference joins facts to dims on customer_sk AND is_current, which
        silently drops every order that resolved a *historical* SCD2
        version.  The intent (lifetime metrics under the current profile)
        needs sk → business key via ALL versions first, then the current
        profile attached by business key.
        """
        dim = wh.read("core", "dim_customers")
        orders = (
            wh.read("core", "fact_orders")
            .join(F.broadcast(dim.select("customer_sk", "customer_id")), "customer_sk")
            # by order alone: the lines of an order re-landed under another
            # date carry both dates, and it is still one order
            .groupBy("customer_id", "order_id")
            .agg(
                F.min("order_date").alias("first_order_date"),
                F.max("order_date").alias("last_order_date"),
                F.sum(F.col("item_amount").cast("decimal(18,2)")).alias("order_value"),
            )
        )
        profile = dim.filter("is_current").select(
            "customer_id", "first_name", "last_name", "city", "state"
        )
        result = customer_rfm(orders, profile, run_date, REFERENCE_SEGMENTS)
        sio.write_full_overwrite(result, wh.path("datamart", "customer_analytics"))

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
