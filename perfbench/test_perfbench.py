"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root."""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import catalog  # noqa: E402
import checks  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402
from landing import DateSpec, LandingGenerator, dates_from  # noqa: E402
from spans import Tracer  # noqa: E402

CONFIG = os.path.join(ROOT, "config", "sales_config.yaml")
SMALL_FIRST = dict(new_customers=60, new_products=12, customer_churn=0.0,
                   product_churn=0.0, orders=80, order_days=5)
SMALL_NEXT = dict(new_customers=5, new_products=1, customer_churn=0.1,
                  product_churn=0.1, orders=40)


def _cfg():
    from star_schema_etl_airflow_spark.sources.schema import load_config

    return load_config(CONFIG)


def _land(seed: int, base: str, n_dates: int = 3) -> LandingGenerator:
    gen = LandingGenerator(seed, base, _cfg())
    for i, d in enumerate(dates_from("2024-03-01", n_dates)):
        gen.land(DateSpec(d, **(SMALL_FIRST if i == 0 else SMALL_NEXT)))
    return gen


def _files(base: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fs in os.walk(base):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_landing(tmp_path):
    _land(7, str(tmp_path / "a"))
    _land(7, str(tmp_path / "b"))
    _land(8, str(tmp_path / "c"))
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert len(a) == 12  # 4 tables x 3 dates, in the config's dated layout
    assert "landing/sales/orders/20240301/orders_20240301.csv" in a
    assert a == b
    assert a != c


def test_generator_keeps_its_invariants(tmp_path):
    gen = _land(3, str(tmp_path))
    t = gen.truth
    assert t.customer_versions == sum(t.customer_version_count.values())
    assert t.customer_versions > t.customers  # churn made extra versions
    first = min(t.order_dates)
    assert first >= "2024-03-01"  # no order before the first ingest date
    assert sum(n for n, _ in t.date_category.values()) == t.fact_rows


def test_compare_flags_a_dropped_fact_row():
    truth = {"fact_rows": 3, "customers": 2, "products": 1,
             "customer_versions": 3, "product_versions": 1,
             "date_category": {("2024-03-01", "Toys"): (3, 30.0)}}
    dim = {"keys": 2, "versions": 3, "bad_current": 0}
    good = {"fact_rows": 3, "date_category": {("2024-03-01", "Toys"): (3, 30.0)},
            "dim_customers": dim,
            "dim_products": {"keys": 1, "versions": 1, "bad_current": 0}}
    assert checks.compare(good, truth) == []
    dropped = dict(good, fact_rows=2,
                   date_category={("2024-03-01", "Toys"): (2, 20.0)})
    assert len(checks.compare(dropped, truth)) == 2
    two_current = dict(good, dim_customers=dict(dim, bad_current=1))
    assert checks.compare(two_current, truth)


def test_same_rows_is_order_insensitive_and_strict():
    want = [("a", 1, 10.0), ("b", 2, 20.0)]
    assert queries.same_rows(list(reversed(want)), want)
    assert queries.same_rows([("a", 1, 10.0 + 1e-9), ("b", 2, 20.0)], want)
    assert not queries.same_rows(want[:1], want)
    assert not queries.same_rows([("a", 1, 10.5), ("b", 2, 20.0)], want)


def _bench(trace: int = 0) -> run.Bench:
    b = run.Bench.__new__(run.Bench)
    b.args = argparse.Namespace(workload="nightly_incremental", seed=1,
                                seconds=0.0, trace=trace)
    b.traced = trace == 1
    b.latencies, b.cpu_times, b.traced_latencies = [], [], []
    b.attempted = b.failed = 0
    return b


def test_a_failed_operation_is_counted():
    b = _bench()
    outcomes = iter([True, False, True])
    b.closed_loop(lambda i, traced: ("op", 0.01, 0.02, next(outcomes)), min_ops=3)
    assert (b.attempted, b.failed) == (3, 1)


def test_traced_loop_alternates_and_keeps_both_kinds():
    b = _bench(trace=1)
    kinds = []
    b.closed_loop(lambda i, traced: ("op", kinds.append(traced) or 0.01, 0.02, True), min_ops=2)
    assert kinds == [False, True, False, True]
    assert len(b.latencies) == len(b.traced_latencies) == 2
    assert b.cpu_times == [("op", 0.02)] * 2  # CPU time of the untraced ones


def test_class_p50_is_the_geometric_mean_of_class_medians():
    samples = [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 8.0), ("b", 8.0)]
    assert run.class_p50(samples) == pytest.approx(4.0)  # sqrt(2 * 8)


def test_cpu_between_differences_each_thread():
    """A thread that exits counts 0 (its lifetime total is not subtracted);
    a thread that starts counts from 0."""
    before = {(1, "10"): 5_000_000, (1, "11"): 900_000_000}
    after = {(1, "10"): 8_000_000, (1, "12"): 2_000_000}
    assert run.cpu_between(before, after) == pytest.approx(0.005)
    now = run.thread_cpu_ns([os.getpid()])
    assert (os.getpid(), str(os.getpid())) in now
    assert run.cpu_between(now, run.thread_cpu_ns([os.getpid()])) >= 0


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_catalog_star_is_seeded(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    for name, seed in (("a", 4), ("b", 4), ("c", 5)):
        catalog.write_star(seed, str(tmp_path / name))
    read = lambda name, t: pq.read_table(str(tmp_path / name / f"{t}.parquet"))  # noqa: E731
    for t in catalog.TABLES:
        assert read("a", t).equals(read("b", t))
    assert not read("a", "lineitem").equals(read("c", "lineitem"))
    assert read("a", "orders").num_rows == catalog.ORDERS


def test_catalog_rows_compare_across_engines():
    """Spark's DATE and DECIMAL against DuckDB's TIMESTAMP and DOUBLE, with
    columns in another order; one dropped row fails."""
    import datetime as dt
    import decimal

    spark_rows = catalog._by_name(
        ["b", "a"], [(dt.date(2000, 1, 2), decimal.Decimal("1.50")),
                     (dt.date(2000, 1, 3), decimal.Decimal("2.25"))])
    duck_rows = catalog._by_name(
        ["a", "b"], [(2.25, dt.datetime(2000, 1, 3)), (1.5, dt.datetime(2000, 1, 2))])
    assert queries.same_rows(spark_rows, duck_rows)
    assert not queries.same_rows(spark_rows[1:], duck_rows)


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mimics the attribute name
        @staticmethod
        def setJobGroup(*a):
            pass

        @staticmethod
        def setLocalProperty(*a):
            pass


def test_self_time_subtracts_children():
    t = Tracer(_FakeSpark(), "r")
    with t.span("outer", job_group=True) as outer:
        with t.span("inner") as inner:
            pass
        t.instrument(lambda: None)
    kids = t.children(outer["id"])
    assert [k["name"] for k in kids] == ["inner", "trace.instrument"]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    total = sum(t.duration(k) for k in kids)
    assert t.self_time(outer) == pytest.approx(t.duration(outer) - total)
    assert t.instrument_time(outer) == pytest.approx(t.duration(kids[1]))


def test_corrupted_warehouse_fails_the_check(tmp_path):
    """End to end on a tiny warehouse: the real pipeline passes the check,
    then one dropped fact row makes it fail."""
    duckdb = pytest.importorskip("duckdb")
    pq = pytest.importorskip("pyarrow.parquet")
    from star_schema_etl_airflow_spark.plans.sales_domain import (
        SalesWarehouse,
        build_sales_pipeline,
    )
    from star_schema_etl_airflow_spark.session import get_spark

    base = str(tmp_path)
    gen = _land(5, base, n_dates=2)
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.driver.memory": "1g"})
    pipe = build_sales_pipeline(SalesWarehouse(spark, base, _cfg()))
    for d in dates_from("2024-03-01", 2):
        pipe.run(spark, d)
    con = duckdb.connect()
    assert checks.compare(checks.observe(con, base), gen.truth.snapshot()) == []

    fact = os.path.join(base, "core", "fact_orders")
    victim = next(os.path.join(dp, f) for dp, _, fs in sorted(os.walk(fact))
                  for f in sorted(fs) if f.endswith(".parquet"))
    table = pq.read_table(victim)
    pq.write_table(table.slice(1), victim)
    errors = checks.compare(checks.observe(con, base), gen.truth.snapshot())
    assert any("fact rows" in e for e in errors)
