"""End-to-end sales pipeline: landing CSVs → raw → SCD2 star schema →
datamarts over three consecutive run dates, plus SCD2 invariants and
rerun idempotency (the reference claims idempotency at README.md:139 but
violates it — ref bugs #3/#6; these tests pin the fixed behavior)."""

from __future__ import annotations

import os

import pytest

from star_schema_etl_airflow_spark.plans.sales_domain import (
    SalesWarehouse,
    build_sales_pipeline,
)
from star_schema_etl_airflow_spark.session import CODEGEN_CACHE_ENTRIES
from star_schema_etl_airflow_spark.sources.io import resolve_dated_path
from star_schema_etl_airflow_spark.sources.schema import load_config

CONFIG = os.path.join(os.path.dirname(__file__), "..", "config", "sales_config.yaml")

D1, D2, D3 = "2024-01-15", "2024-01-16", "2024-01-17"

CUSTOMERS_HDR = "customer_id,first_name,last_name,email,address,city,state,zipcode,created_at"
PRODUCTS_HDR = "product_id,name,category,price,created_at"
ORDERS_HDR = "order_id,customer_id,order_date,status,amount,created_at"
ITEMS_HDR = "order_item_id,order_id,product_id,quantity,price,created_at"

# D1: two customers, two products, one order.
# D2: c1 moves city (SCD2 change), new customer c3, p1 price change, new order.
# D3: no dim changes, one more order (PIT must resolve the D2 versions).
LANDING = {
    D1: {
        "customers": [
            "c1,Ada,Lovelace,ada@x.io,1 Main,London,LN,111,2024-01-15 08:00:00",
            "c2,Alan,Turing,alan@x.io,2 Side,Bletchley,BK,222,2024-01-15 08:00:00",
        ],
        "products": [
            "p1,Widget,Tools,10.0,2024-01-15 08:00:00",
            "p2,Gadget,Toys,20.0,2024-01-15 08:00:00",
        ],
        "orders": ["o1,c1,2024-01-15,complete,30.0,2024-01-15 09:00:00"],
        "order_items": [
            "i1,o1,p1,1,10.0,2024-01-15 09:00:00",
            "i2,o1,p2,1,20.0,2024-01-15 09:00:00",
        ],
    },
    D2: {
        "customers": [
            "c1,Ada,Lovelace,ada@x.io,9 New,Cambridge,CB,333,2024-01-16 08:00:00",
            "c3,Grace,Hopper,grace@x.io,3 Pier,NYC,NY,444,2024-01-16 08:00:00",
        ],
        "products": ["p1,Widget,Tools,12.0,2024-01-16 08:00:00"],
        "orders": ["o2,c3,2024-01-16,complete,24.0,2024-01-16 09:00:00"],
        "order_items": ["i3,o2,p1,2,12.0,2024-01-16 09:00:00"],
    },
    D3: {
        "customers": [],
        "products": [],
        "orders": ["o3,c1,2024-01-17,complete,12.0,2024-01-17 09:00:00"],
        "order_items": ["i4,o3,p1,1,12.0,2024-01-17 09:00:00"],
    },
}
HEADERS = {
    "customers": CUSTOMERS_HDR,
    "products": PRODUCTS_HDR,
    "orders": ORDERS_HDR,
    "order_items": ITEMS_HDR,
}


def _write_landing(base: str, cfg: dict, landing: dict = LANDING) -> None:
    for run_date, tables in landing.items():
        for table, rows in tables.items():
            template = cfg["tables"][table]["source"]["path"]
            rel = resolve_dated_path(template, run_date)
            path = os.path.join(base, "landing", rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(HEADERS[table] + "\n")
                for r in rows:
                    f.write(r + "\n")


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sales_wh"))
    cfg = load_config(CONFIG)
    _write_landing(base, cfg)
    wh = SalesWarehouse(spark, base, cfg)
    pipeline = build_sales_pipeline(wh)
    for d in (D1, D2, D3):
        pipeline.run(spark, d)
    return wh


def test_stage_order_respects_dependencies(spark, tmp_path):
    cfg = load_config(CONFIG)
    wh = SalesWarehouse(spark, str(tmp_path), cfg)
    order = build_sales_pipeline(wh).topological_order()
    pos = {name: i for i, name in enumerate(order)}
    assert pos["customers"] < pos["dim_customers"]
    assert pos["dim_customers"] < pos["fact_orders"]
    assert pos["dim_products"] < pos["fact_orders"]
    assert pos["fact_orders"] < pos["sales_summary"]
    assert pos["fact_orders"] < pos["customer_analytics"]


def test_scd2_invariants(warehouse):
    dim = warehouse.read("core", "dim_customers")
    rows = {r.customer_id: [] for r in dim.collect()}
    for r in dim.collect():
        rows[r.customer_id].append(r)

    # exactly one current version per business key
    cur = dim.filter("is_current").groupBy("customer_id").count().collect()
    assert all(r["count"] == 1 for r in cur)
    assert {r.customer_id for r in cur} == {"c1", "c2", "c3"}

    # c1 changed on D2: two versions, half-open contiguous ranges
    c1 = sorted(rows["c1"], key=lambda r: r.effective_date)
    assert len(c1) == 2
    assert str(c1[0].effective_date) == D1 and str(c1[0].expiration_date) == D2
    assert not c1[0].is_current
    assert str(c1[1].effective_date) == D2 and c1[1].expiration_date is None
    assert c1[1].is_current and c1[1].city == "Cambridge"

    # surrogate keys unique
    assert dim.select("customer_sk").distinct().count() == dim.count()


def test_fact_pit_resolution(warehouse):
    fact = warehouse.read("core", "fact_orders")
    dim = warehouse.read("core", "dim_customers")
    sk_of = {(r.customer_id, str(r.effective_date)): r.customer_sk for r in dim.collect()}

    by_order = {r.order_id: r for r in fact.collect()}
    # o1 (D1) must resolve c1's FIRST version; o3 (D3) the D2 version
    assert by_order["o1"].customer_sk == sk_of[("c1", D1)]
    assert by_order["o3"].customer_sk == sk_of[("c1", D2)]
    # p1's price change on D2: o1 item used 10.0, o3 used 12.0
    assert by_order["o1"].unit_price != by_order["o3"].unit_price

    # composite grain: one row per (order_id, order_item_id)
    assert fact.count() == 4
    assert fact.select("order_id", "order_item_id").distinct().count() == 4


def test_datamarts(warehouse):
    ss = warehouse.read("datamart", "sales_summary")
    # partitioned per date; all three dates present
    assert {str(r.date) for r in ss.select("date").distinct().collect()} == {D1, D2, D3}

    ca = warehouse.read("datamart", "customer_analytics")
    per = {r.customer_id: r for r in ca.collect()}
    assert per["c1"].total_orders == 2
    assert per["c3"].total_lifetime_value == 24.0


# D4 re-lands o1 under a new date with only one of its items: the merge
# moves i1 to D4 and leaves i2 on D1, so o1's fact lines carry two dates.
D4 = "2024-01-18"
RELANDED = {
    **LANDING,
    D4: {
        "customers": [],
        "products": [],
        "orders": ["o1,c1,2024-01-18,complete,30.0,2024-01-18 09:00:00"],
        "order_items": ["i1,o1,p1,1,10.0,2024-01-18 09:00:00"],
    },
}

# customer_analytics.sql from the stored fact and dim: customer_sk maps to
# the business key through every SCD2 version, the profile is the current one
CUSTOMER_ANALYTICS_RECOMPUTE = """
WITH per_customer AS (
  SELECT d.customer_id,
         MIN(f.order_date) AS first_order_date,
         MAX(f.order_date) AS last_order_date,
         COUNT(DISTINCT f.order_id) AS total_orders,
         CAST(SUM(CAST(f.item_amount AS DECIMAL(18,2))) AS DOUBLE)
           AS total_lifetime_value
  FROM fact f JOIN dim_customers d ON f.customer_sk = d.customer_sk
  GROUP BY d.customer_id
), rfm AS (
  SELECT p.*, date_diff('day', last_order_date, DATE '{run_date}')
           AS days_since_last_order
  FROM per_customer p
)
SELECT r.customer_id, c.first_name, c.last_name, c.city, c.state,
       first_order_date, last_order_date, total_orders, total_lifetime_value,
       days_since_last_order,
       total_lifetime_value / total_orders AS average_order_value,
       CASE
         WHEN days_since_last_order <= 30 AND total_orders >= 3
              AND total_lifetime_value >= 500 THEN 'VIP'
         WHEN days_since_last_order <= 90 AND total_orders >= 2 THEN 'Loyal'
         WHEN days_since_last_order <= 180 THEN 'Active'
         WHEN days_since_last_order <= 365 THEN 'At Risk'
         ELSE 'Inactive'
       END AS customer_segment
FROM rfm r JOIN dim_customers c ON c.customer_id = r.customer_id AND c.is_current
"""

# sales_summary.sql over the whole fact: the order header amount on every line
SALES_SUMMARY_RECOMPUTE = """
SELECT d.year, d.month, d.month_name, p.category AS product_category,
       CAST(SUM(CAST(f.order_amount AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
       COUNT(DISTINCT f.order_id) AS total_orders,
       SUM(f.quantity) AS total_quantity,
       CAST(SUM(CAST(f.order_amount AS DECIMAL(18,2))) AS DOUBLE)
         / COUNT(DISTINCT f.order_id) AS avg_order_value,
       f.order_date AS date
FROM fact f
JOIN dim_products p ON f.product_sk = p.product_sk
JOIN dim_dates d ON f.order_date = d.full_date
GROUP BY ALL
"""


def test_datamarts_match_duckdb_recompute(spark, tmp_path):
    """Both datamarts equal DuckDB's recompute from the fact and dims the
    pipeline wrote, after every run date.  D4 moves one line of o1 to a new
    date; o1 must still count as one order with its first and last date,
    and the summary of the date the line left must no longer count it."""
    import duckdb

    cfg = load_config(CONFIG)
    base = str(tmp_path)
    _write_landing(base, cfg, RELANDED)
    wh = SalesWarehouse(spark, base, cfg)
    pipeline = build_sales_pipeline(wh)
    con = duckdb.connect()
    for run_date in RELANDED:
        pipeline.run(spark, run_date)
        for table in ("dim_customers", "dim_products", "dim_dates"):
            con.execute(f"CREATE OR REPLACE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{wh.path('core', table)}/*.parquet')")
        con.execute(
            "CREATE OR REPLACE VIEW fact AS SELECT * REPLACE "
            "(CAST(order_date AS DATE) AS order_date) FROM read_parquet("
            f"'{wh.path('core', 'fact_orders')}/*/*.parquet', hive_partitioning=true)")

        want = con.execute(
            CUSTOMER_ANALYTICS_RECOMPUTE.format(run_date=run_date)).fetchall()
        got = wh.read("datamart", "customer_analytics").collect()
        assert sorted(want) == sorted(map(tuple, got)), run_date

        want = con.execute(SALES_SUMMARY_RECOMPUTE).fetchall()
        got = wh.read("datamart", "sales_summary").collect()
        assert sorted(want) == sorted(map(tuple, got)), run_date

    o1_dates = con.execute(
        "SELECT DISTINCT order_date FROM fact WHERE order_id = 'o1'").fetchall()
    assert len(o1_dates) == 2
    c1 = wh.read("datamart", "customer_analytics").filter("customer_id = 'c1'").first()
    assert c1.total_orders == 2  # o1 and o3
    assert (str(c1.first_order_date), str(c1.last_order_date)) == (D1, D4)

    # a re-run of an earlier date keeps the later dates' summary rows
    pipeline.run(spark, D2)
    want = con.execute(SALES_SUMMARY_RECOMPUTE).fetchall()
    got = wh.read("datamart", "sales_summary").collect()
    assert sorted(want) == sorted(map(tuple, got))


TABLES = [
    ("raw", "customers"), ("raw", "products"), ("raw", "orders"),
    ("raw", "order_items"),
    ("core", "dim_customers"), ("core", "dim_products"), ("core", "dim_dates"),
    ("core", "fact_orders"),
    ("datamart", "sales_summary"), ("datamart", "customer_analytics"),
]


def test_rerun_is_idempotent(spark, warehouse):
    """Re-running the last date must not change any table (ref bug #6 fix)."""
    before = {
        (layer, t): warehouse.read(layer, t).sort(*sorted(
            warehouse.read(layer, t).columns)).collect()
        for layer, t in TABLES
    }
    build_sales_pipeline(warehouse).run(spark, D3)
    for (layer, t), rows in before.items():
        after = warehouse.read(layer, t).sort(*sorted(
            warehouse.read(layer, t).columns)).collect()
        assert after == rows, f"{layer}.{t} changed on rerun"


def test_declared_schemas_match_stored_tables(spark, warehouse):
    """Every read declares its schema from ``SalesWarehouse.schemas``; each
    must equal what the writers actually stored (footer inference here is
    the test's own read, not the pipeline's)."""
    for layer, t in TABLES:
        stored = spark.read.parquet(warehouse.path(layer, t)).schema
        declared = warehouse.schemas[t]
        assert {f.name: f.dataType for f in stored} == {
            f.name: f.dataType for f in declared
        }, f"{layer}.{t}"


# Spark jobs of re-running D3 (all stages): 36 with declared-schema reads,
# no read-backs and ingest counts observed on the write; 64 before them.
# The bound leaves headroom for plan-shape noise, not for one more
# inferred read or read-back per stage.
RUN_DATE_JOB_BUDGET = 40


def test_run_date_job_budget(spark, warehouse):
    """Fixed per-job cost, not data, prices a small run date: an inferred
    schema read, a read-back of a written table or a count() re-scan each
    add Spark jobs that move no data.  Pin the date's job count."""
    sc = spark.sparkContext
    group = "test-run-date-job-budget"
    sc.setJobGroup(group, group)
    try:
        build_sales_pipeline(warehouse).run(spark, D3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= RUN_DATE_JOB_BUDGET


# Compilations of a warm re-run of D3: 0-2 with the codegen cache sized to
# the working set, 113-135 with Spark's 100-entry default, which evicts each
# generated class before the next date needs it again (the ranges cover
# running this test alone and after the rest of this file).  The bound
# leaves room for the classes that inline the run date as a literal.
RERUN_COMPILATION_BUDGET = 10


def test_rerun_compiles_no_generated_code(spark, warehouse):
    """A warm session's run date reuses its compiled code: a re-run of a
    date compiles (almost) nothing, so the codegen cache must hold the
    whole working set of a run date."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    # Janino compilations in this JVM, driver and task threads alike
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = codegen.METRIC_COMPILATION_TIME()
    pipeline = build_sales_pipeline(warehouse)
    pipeline.run(spark, D3)
    before = compilations.getCount()
    pipeline.run(spark, D3)
    assert compilations.getCount() - before <= RERUN_COMPILATION_BUDGET


def test_first_date_with_facts_older_than_dims_completes(spark, tmp_path):
    """Defect A's crash half: the first run date lands orders dated the day
    before, so every order predates the dimension versions (effective from
    the run date) and the inner PIT join resolves none.  ``fact_orders`` is
    written with no files; inferring its schema on read used to raise
    ``UNABLE_TO_INFER_SCHEMA`` in ``sales_summary``.  With declared schemas
    the date completes with an empty fact.  The unresolved rows still
    vanish without a reject (defect B)."""
    cfg = load_config(CONFIG)
    base = str(tmp_path)
    _write_landing(base, cfg, {D2: LANDING[D1]})
    wh = SalesWarehouse(spark, base, cfg)
    results = build_sales_pipeline(wh).run(spark, D2)
    assert results["order_items"] == 2
    assert wh.read("core", "dim_customers").count() == 2
    assert wh.read("core", "fact_orders").count() == 0
    assert wh.read("datamart", "sales_summary").count() == 0
    assert wh.read("datamart", "customer_analytics").count() == 0


def test_ingest_row_count_excludes_malformed_rows(spark, tmp_path):
    """A tolerant ingest drops a malformed row.  Its stage result must
    count what it wrote: a separate count() prunes every CSV column, so the
    parser never sees the bad value and the dropped row was counted."""
    cfg = load_config(CONFIG)
    base = str(tmp_path)
    _write_landing(base, cfg, {D1: {"order_items": [
        "i1,o1,p1,1,10.0,2024-01-15 09:00:00",
        "i2,o1,p2,notanint,20.0,2024-01-15 09:00:00",
    ]}})
    wh = SalesWarehouse(spark, base, cfg)
    written = build_sales_pipeline(wh).stages["order_items"].fn(spark, D1, {})
    assert wh.raw_slice("order_items", D1).count() == 1
    assert written == 1


def test_stage_callbacks(spark, tmp_path):
    """O5 analog: on_success fires once per stage in topo order."""
    cfg = load_config(CONFIG)
    base = str(tmp_path)
    _write_landing(base, cfg)
    wh = SalesWarehouse(spark, base, cfg)
    pipeline = build_sales_pipeline(wh)
    seen = []
    pipeline.run(spark, D1, on_success=lambda c: seen.append(c["stage"]))
    assert seen == pipeline.topological_order()


def _tiny_pipeline(fail_stage=None, fail_times=0):
    """Two-stage pipeline; `fail_stage` raises on its first `fail_times`
    invocations (mutable counter survives retries)."""
    from star_schema_etl_airflow_spark.plans.pipeline import Pipeline

    calls = {"n": 0}

    def a(spark, run_date, results):
        if fail_stage == "a":
            calls["n"] += 1
            if calls["n"] <= fail_times:
                raise RuntimeError("boom")
        return "A"

    def b(spark, run_date, results):
        return "B"

    return Pipeline().add_stage("a", a, layer="raw").add_stage(
        "b", b, deps=["a"], layer="core"
    )


def test_per_status_callbacks_success(spark, tmp_path):
    """on_success fires per stage with the full context dict; failure and
    retry channels stay silent on a clean run."""
    events = []
    _tiny_pipeline().run(
        spark, D1,
        on_success=lambda c: events.append(("ok", c["stage"], c["attempt"])),
        on_failure=lambda c: events.append(("fail", c["stage"])),
        on_retry=lambda c: events.append(("retry", c["stage"])),
    )
    assert events == [("ok", "a", 1), ("ok", "b", 1)]


def test_per_status_callbacks_retry_then_failure(spark, tmp_path):
    """A stage failing through its retry budget fires on_retry per retry
    and on_failure once, with the exception in the context (the MS Teams
    plugin's orange + red channels)."""
    events = []
    with pytest.raises(RuntimeError, match="boom"):
        _tiny_pipeline(fail_stage="a", fail_times=99).run(
            spark, D1,
            retries=2,
            on_success=lambda c: events.append(("ok", c["stage"])),
            on_failure=lambda c: events.append(
                ("fail", c["stage"], c["attempt"], str(c["exception"]))
            ),
            on_retry=lambda c: events.append(("retry", c["stage"], c["attempt"])),
        )
    assert events == [
        ("retry", "a", 1), ("retry", "a", 2), ("fail", "a", 3, "boom"),
    ]


def test_per_status_callbacks_retry_then_success(spark, tmp_path):
    """A stage that fails once then succeeds fires on_retry then
    on_success; the run completes."""
    events = []
    results = _tiny_pipeline(fail_stage="a", fail_times=1).run(
        spark, D1,
        retries=1,
        on_success=lambda c: events.append(("ok", c["stage"], c["attempt"])),
        on_retry=lambda c: events.append(("retry", c["stage"], c["attempt"])),
    )
    assert results == {"a": "A", "b": "B"}
    assert events == [("retry", "a", 1), ("ok", "a", 2), ("ok", "b", 1)]


def test_callback_errors_never_fail_the_run(spark, tmp_path):
    def bad_cb(ctx):
        raise ValueError("notification transport down")

    results = _tiny_pipeline(fail_stage="a", fail_times=1).run(
        spark, D1, retries=1, on_success=bad_cb, on_retry=bad_cb)
    assert results == {"a": "A", "b": "B"}
    # a failing callback on a failed stage leaves the stage's own error
    with pytest.raises(RuntimeError, match="boom"):
        _tiny_pipeline(fail_stage="a", fail_times=9).run(
            spark, D1, on_failure=bad_cb)


def test_concurrent_run_raises(spark, tmp_path):
    """max_active_runs=1 analog: while one run holds the lock, a second
    run on the same lock path raises instead of interleaving."""
    from star_schema_etl_airflow_spark.plans.pipeline import (
        ConcurrentRunError,
        Pipeline,
    )

    lock = str(tmp_path / "wh" / ".run_lock")

    def stage_that_reenters(spark_, run_date, results):
        with pytest.raises(ConcurrentRunError, match="already running"):
            _tiny_pipeline().run(spark_, D1, lock_path=lock)
        return "done"

    p = Pipeline().add_stage("reenter", stage_that_reenters)
    assert p.run(spark, D1, lock_path=lock) == {"reenter": "done"}
    # lock released after the run: a fresh run acquires it cleanly
    assert not os.path.exists(lock)
    assert _tiny_pipeline().run(spark, D1, lock_path=lock) == {"a": "A", "b": "B"}


def test_lock_released_on_failure_and_breakable(spark, tmp_path):
    from star_schema_etl_airflow_spark.plans.pipeline import (
        ConcurrentRunError,
        break_run_lock,
    )

    lock = str(tmp_path / ".run_lock")
    with pytest.raises(RuntimeError, match="boom"):
        _tiny_pipeline(fail_stage="a", fail_times=9).run(
            spark, D1, lock_path=lock)
    # failure path released the lock via the context manager
    assert not os.path.exists(lock)
    # simulate a crashed run's leftover marker
    with open(lock, "w") as f:
        f.write("pid=0 at=crashed")
    with pytest.raises(ConcurrentRunError):
        _tiny_pipeline().run(spark, D1, lock_path=lock)
    assert break_run_lock(lock) is True
    assert _tiny_pipeline().run(spark, D1, lock_path=lock) == {"a": "A", "b": "B"}


def test_audited_options_leave_the_tables_of_a_plain_run(spark, tmp_path):
    """The sales pipeline through every audited option (audit table, run
    lock, one retry) writes the same tables as a plain run, one ``ok``
    audit row per (date, stage), and releases its lock."""
    cfg = load_config(CONFIG)
    audit_path = str(tmp_path / "audit")
    lock = str(tmp_path / "audited" / ".run_lock")
    whs = []
    for name in ("audited", "plain"):
        base = str(tmp_path / name)
        _write_landing(base, cfg)
        wh = SalesWarehouse(spark, base, cfg)
        pipeline = build_sales_pipeline(wh)
        for d in (D1, D2, D3):
            if name == "audited":
                pipeline.run(spark, d, audit_path=audit_path, lock_path=lock,
                             retries=1)
            else:
                pipeline.run(spark, d)
        whs.append(wh)

    audited, plain = whs
    # a plain run writes the stages' tables and nothing else
    assert sorted(os.listdir(plain.base)) == ["core", "datamart", "landing", "raw"]
    for layer, t in TABLES:
        a, p = audited.read(layer, t), plain.read(layer, t)
        assert a.exceptAll(p).count() == 0 and p.exceptAll(a).count() == 0, t

    audit = spark.read.parquet(audit_path).select(
        "run_date", "stage", "status", "attempts").collect()
    stages = build_sales_pipeline(audited).topological_order()
    assert len(stages) == 10
    assert sorted(map(tuple, audit)) == sorted(
        (d, s, "ok", 1) for d in (D1, D2, D3) for s in stages)
    assert not os.path.exists(lock)
