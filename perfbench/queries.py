"""Analyst read queries over the warehouse's parquet layers.

Each class has a Spark implementation (the system under test, reading the
files the pipeline wrote) and a DuckDB implementation over the same files
(the oracle).  Results are lists of plain tuples compared order-insensitively
with a float tolerance.
"""

from __future__ import annotations

import datetime as dt
import math
import os

from checks import scan

CLASSES = ("summary_range", "month_category_rollup", "day_pit_city",
           "customer_history", "segment_counts")

# Sums of single-precision amounts in different orders agree to ~1e-9
# relative; a dropped or duplicated row moves them by far more.
REL_TOL = 1e-6


def _path(base: str, layer: str, table: str) -> str:
    return os.path.join(base, layer, table)


def draw_param(rng, cls: str, ctx: dict):
    """Seeded parameter for one query of ``cls``."""
    if cls == "summary_range":
        return rng.choice(ctx["summary_starts"])
    if cls == "day_pit_city":
        return rng.choice(ctx["order_dates"])
    if cls == "customer_history":
        return rng.choice(ctx["history_customers"])
    return None


def spark_query(spark, base: str, cls: str, param) -> list[tuple]:
    from pyspark.sql import functions as F

    from star_schema_etl_airflow_spark.operators import pit

    read = lambda layer, table: spark.read.parquet(_path(base, layer, table))  # noqa: E731
    if cls == "summary_range":
        start = dt.date.fromisoformat(param)
        end = start + dt.timedelta(days=6)
        df = (
            read("datamart", "sales_summary")
            .filter(F.col("date").between(F.lit(start), F.lit(end)))
            .groupBy("product_category")
            .agg(F.sum("total_sales"), F.sum("total_orders"), F.sum("total_quantity"))
        )
    elif cls == "month_category_rollup":
        fo = read("core", "fact_orders")
        dp = read("core", "dim_products").select("product_sk", "category")
        dd = read("core", "dim_dates").select("full_date", "year", "month")
        df = (
            fo.join(dp, "product_sk")
            .join(dd, fo.order_date == dd.full_date)
            .groupBy("year", "month", "category")
            .agg(F.count("*"), F.sum("item_amount"))
        )
    elif cls == "day_pit_city":
        fo = (
            read("core", "fact_orders")
            .filter(F.col("order_date") == F.lit(dt.date.fromisoformat(param)))
            .select("order_date", "customer_sk", "item_amount")
        )
        dim = read("core", "dim_customers")
        ids = dim.select("customer_sk", F.col("customer_id").alias("cid"))
        versions = dim.select(F.col("customer_id").alias("dim_cid"), "city",
                              "effective_date", "expiration_date")
        df = (
            pit.as_of_join(fo.join(ids, "customer_sk"), versions, fact_key="cid",
                           dim_key="dim_cid", as_of="order_date")
            .groupBy("city")
            .agg(F.count("*"), F.sum("item_amount"))
        )
    elif cls == "customer_history":
        dim = (
            read("core", "dim_customers")
            .filter(F.col("customer_id") == param)
            .select("customer_sk", "city", "effective_date")
        )
        df = (
            read("core", "fact_orders")
            .join(dim, "customer_sk")
            .select("order_id", "order_item_id", "order_date", "customer_sk",
                    "city", "effective_date", "item_amount")
        )
    elif cls == "segment_counts":
        df = (
            read("datamart", "customer_analytics")
            .groupBy("customer_segment")
            .agg(F.count("*"), F.sum("total_lifetime_value"))
        )
    else:
        raise ValueError(f"unknown query class {cls!r}")
    return [tuple(r) for r in df.collect()]


def duck_query(con, base: str, cls: str, param) -> list[tuple]:
    fo, dp = scan(base, "core", "fact_orders"), scan(base, "core", "dim_products")
    dc, dd = scan(base, "core", "dim_customers"), scan(base, "core", "dim_dates")
    if cls == "summary_range":
        sql = f"""
          SELECT product_category, SUM(total_sales), SUM(total_orders), SUM(total_quantity)
          FROM {scan(base, "datamart", "sales_summary")}
          WHERE CAST("date" AS DATE) BETWEEN DATE '{param}' AND DATE '{param}' + INTERVAL 6 DAY
          GROUP BY 1"""
    elif cls == "month_category_rollup":
        sql = f"""
          SELECT d.year, d.month, p.category, COUNT(*), SUM(f.item_amount)
          FROM {fo} f JOIN {dp} p USING (product_sk)
          JOIN {dd} d ON CAST(f.order_date AS DATE) = d.full_date
          GROUP BY 1, 2, 3"""
    elif cls == "day_pit_city":
        sql = f"""
          SELECT v.city, COUNT(*), SUM(f.item_amount)
          FROM {fo} f JOIN {dc} i ON f.customer_sk = i.customer_sk
          JOIN {dc} v ON v.customer_id = i.customer_id
           AND CAST(f.order_date AS DATE) >= v.effective_date
           AND (v.expiration_date IS NULL OR CAST(f.order_date AS DATE) < v.expiration_date)
          WHERE CAST(f.order_date AS DATE) = DATE '{param}'
          GROUP BY 1"""
    elif cls == "customer_history":
        sql = f"""
          SELECT f.order_id, f.order_item_id, CAST(f.order_date AS DATE), f.customer_sk,
                 d.city, d.effective_date, f.item_amount
          FROM {fo} f JOIN {dc} d ON f.customer_sk = d.customer_sk
          WHERE d.customer_id = '{param}'"""
    elif cls == "segment_counts":
        sql = f"""
          SELECT customer_segment, COUNT(*), SUM(total_lifetime_value)
          FROM {scan(base, "datamart", "customer_analytics")} GROUP BY 1"""
    else:
        raise ValueError(f"unknown query class {cls!r}")
    return con.execute(sql).fetchall()


def _is_float(v) -> bool:
    return isinstance(v, float)


def _key(row: tuple) -> tuple:
    return tuple("" if _is_float(v) else str(v) for v in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality; floats within ``REL_TOL``."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if _is_float(a) or _is_float(b):
                if a is None or b is None or not math.isclose(
                        float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True
