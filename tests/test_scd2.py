"""SCD2 invariants over a multi-day scenario (SURVEY.md §5 test plan #2-#4).

Scenario (FIXTURES.md A4): D0 initial load; D1 changes + new key + same-key
duplicate + NULL transition; D2 no-op redelivery.  Invariants after every
day: exactly one is_current per key; non-overlapping, gap-free
[effective, expiration) ranges; idempotent re-application.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2

DIM_SCHEMA = T.StructType([
    T.StructField("sk", T.LongType()),
    T.StructField("cid", T.StringType()),
    T.StructField("city", T.StringType()),
    T.StructField("email", T.StringType()),
    T.StructField("effective_date", T.DateType()),
    T.StructField("expiration_date", T.DateType()),
    T.StructField("is_current", T.BooleanType()),
])
SRC_SCHEMA = "cid string, city string, email string, v int"

D0, D1, D2 = "2024-01-01", "2024-01-02", "2024-01-03"


def _apply(spark, dim, rows, run_date):
    src = spark.createDataFrame(rows, SRC_SCHEMA)
    return apply_scd2(
        dim, src, key="cid", tracked=["city", "email"], run_date=run_date,
        sk_col="sk", order_col="v",
    )


@pytest.fixture(scope="module")
def dims(spark):
    empty = spark.createDataFrame([], DIM_SCHEMA)
    d0 = _apply(spark, empty, [
        ("c1", "Oslo", "a@x.com", 1),
        ("c2", "Lima", None, 1),        # NULL email from the start
        ("c3", "Kiev", "c@x.com", 1),
    ], D0).cache()
    d1 = _apply(spark, d0, [
        ("c1", "Bonn", "a@x.com", 1),   # changed city
        ("c2", "Lima", "b@x.com", 1),   # NULL → value transition (ref bug #5)
        ("c3", "Kiev", "c@x.com", 1),   # unchanged redelivery
        ("c4", "Rome", "d@x.com", 1),   # brand-new key
        ("c1", "OLD!", "a@x.com", 0),   # same-key duplicate, stale version
    ], D1).cache()
    d2 = _apply(spark, d1, [
        ("c1", "Bonn", "a@x.com", 1),   # all unchanged
    ], D2).cache()
    return d0, d1, d2


def _invariants(dim):
    # exactly one current row per key
    bad_current = (
        dim.filter("is_current").groupBy("cid").count().filter("count != 1").count()
    )
    assert bad_current == 0
    # current rows have open expiration
    assert dim.filter("is_current AND expiration_date IS NOT NULL").count() == 0
    # versions don't overlap and leave no gaps: lead(effective) == expiration
    w = F.expr("lead(effective_date) OVER (PARTITION BY cid ORDER BY effective_date)")
    gaps = (
        dim.withColumn("next_eff", w)
        .filter("next_eff IS NOT NULL AND expiration_date IS DISTINCT FROM next_eff")
        .count()
    )
    assert gaps == 0


def test_d0_initial_load(dims):
    d0, _, _ = dims
    assert d0.count() == 3
    _invariants(d0)
    assert sorted(r.sk for r in d0.collect()) == [1, 2, 3]  # deterministic sks


def test_d1_versions(dims):
    _, d1, _ = dims
    _invariants(d1)
    # c1 changed (latest duplicate wins: Bonn, not OLD!), c2 NULL→value
    cur = {r.cid: r for r in d1.filter("is_current").collect()}
    assert cur["c1"].city == "Bonn"
    assert cur["c2"].email == "b@x.com"
    assert cur["c4"].city == "Rome"
    # expired versions carry run-date expiration
    old = {r.cid: r for r in d1.filter("NOT is_current").collect()}
    assert str(old["c1"].expiration_date) == D1
    assert str(old["c2"].expiration_date) == D1
    # unchanged c3 kept its single D0 version
    assert d1.filter("cid = 'c3'").count() == 1
    # 3 carried originals + 2 new versions (c1, c2) + 1 new key (c4) = 6 rows
    assert d1.count() == 6


def test_d2_noop_is_idempotent(dims):
    _, d1, d2 = dims
    assert d2.count() == d1.count()
    _invariants(d2)
    # byte-identical content (idempotency, ref bug #6 fixed)
    assert sorted(map(str, d1.collect())) == sorted(map(str, d2.collect()))


def test_null_unsafe_comparison_would_miss(spark, dims):
    """Documents WHY eqNullSafe matters: plain != misses NULL→value."""
    d0, d1, _ = dims
    # with reference semantics (plain !=), c2's NULL→value change is missed;
    # our d1 must contain TWO c2 versions
    assert d1.filter("cid = 'c2'").count() == 2


def test_null_business_key_is_dropped_and_reapply_is_idempotent(spark):
    """A slice row with a NULL business key never matches its current
    version (NULL = NULL is not true), so it used to classify "new" on
    every apply: re-applying one slice left two current versions of the
    NULL key.  NULL-key rows are dropped; re-applying changes nothing."""
    empty = spark.createDataFrame([], DIM_SCHEMA)
    rows = [(None, "Oslo", "n@x.com", 1), ("c1", "Bonn", "a@x.com", 1)]
    once = _apply(spark, empty, rows, D0).cache()
    twice = _apply(spark, once, rows, D0)
    assert [(r.cid, r.sk, r.is_current) for r in twice.collect()] == [("c1", 1, True)]
    _invariants(twice)
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_distributed_surrogate_keys_match_global(spark):
    """assign_surrogate_keys (range-partitioned, parallel) must produce
    exactly the keys a global `row_number() over (order by key)` would."""
    from pyspark.sql import functions as F

    from star_schema_etl_airflow_spark.operators.scd2 import assign_surrogate_keys

    df = spark.range(0, 5000).select(
        F.concat(F.lit("k"), F.format_string("%06d", (F.col("id") * 7919) % 100000))
        .alias("bk"),
        (F.col("id") * 2).alias("payload"),
    )
    out = assign_surrogate_keys(df, "bk", start_sk=100, sk_col="sk", num_partitions=8)
    rows = out.select("bk", "sk").collect()
    expected = {
        bk: 100 + i + 1
        for i, bk in enumerate(sorted(r.bk for r in rows))
    }
    assert len(rows) == 5000
    for r in rows:
        assert r.sk == expected[r.bk], (r.bk, r.sk, expected[r.bk])


def test_apply_scd2_distributed_keys_equivalent(spark):
    """distributed_keys=True yields the same dimension as the default path."""
    from pyspark.sql import functions as F

    from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2

    dim = spark.createDataFrame(
        [(1, "a", "x", "2024-01-01", None, True),
         (2, "b", "y", "2024-01-01", None, True)],
        "sk long, bk string, attr string, effective_date string, expiration_date string, is_current boolean",
    ).select(
        "sk", "bk", "attr",
        F.col("effective_date").cast("date").alias("effective_date"),
        F.col("expiration_date").cast("date").alias("expiration_date"),
        "is_current",
    )
    src = spark.createDataFrame(
        [("a", "x2"), ("c", "z")], "bk string, attr string"
    )
    kw = dict(key="bk", tracked=["attr"], run_date="2024-02-01", sk_col="sk")
    base = apply_scd2(dim, src, **kw).sort("sk").collect()
    dist = apply_scd2(dim, src, distributed_keys=True, **kw).sort("sk").collect()
    assert base == dist


def _tiny_dim_and_src(spark):
    from pyspark.sql import functions as F

    dim = spark.createDataFrame(
        [(1, "a", "x", "2024-01-01", None, True),
         (2, "b", "y", "2024-01-01", None, True)],
        "sk long, bk string, attr string, effective_date string, "
        "expiration_date string, is_current boolean",
    ).select(
        "sk", "bk", "attr",
        F.col("effective_date").cast("date").alias("effective_date"),
        F.col("expiration_date").cast("date").alias("expiration_date"),
        "is_current",
    )
    src = spark.createDataFrame(
        [("a", "x2"), ("c", "z")], "bk string, attr string"
    )
    return dim, src


def test_apply_scd2_auto_promotes_large_deltas(spark, monkeypatch):
    """Auto mode (distributed_keys=None, the default) must switch to the
    parallel surrogate-key path once the slice's estimated size exceeds
    DISTRIBUTED_SK_BYTES: same rows as the forced-global path, and the
    promoted plan carries NO single-partition exchange (the global window's
    signature bottleneck)."""
    import star_schema_etl_airflow_spark.operators.scd2 as scd2_mod

    dim, src = _tiny_dim_and_src(spark)
    kw = dict(key="bk", tracked=["attr"], run_date="2024-02-01", sk_col="sk")

    # sanity of the pin: the forced-global path DOES plan SinglePartition
    global_plan = (
        scd2_mod.apply_scd2(dim, src, distributed_keys=False, **kw)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" in global_plan
    # the probe itself sees a nonzero estimate without running a job
    assert scd2_mod._estimated_bytes(src) > 0

    monkeypatch.setattr(scd2_mod, "DISTRIBUTED_SK_BYTES", 0)
    auto = scd2_mod.apply_scd2(dim, src, **kw)  # any slice > 0 bytes promotes
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    forced = scd2_mod.apply_scd2(dim, src, distributed_keys=False, **kw)
    assert auto.sort("sk").collect() == forced.sort("sk").collect()


def test_distributed_keys_empty_delta(spark):
    """Empty insert set through the parallel key path: the per-partition
    offset map is empty and must stay typed (regression — a bare
    create_map() is map<void,void> and failed analysis)."""
    from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2

    dim, _ = _tiny_dim_and_src(spark)
    unchanged = dim.select("bk", "attr")  # re-deliver current values
    out = apply_scd2(
        dim, unchanged, key="bk", tracked=["attr"], run_date="2024-03-01",
        sk_col="sk", distributed_keys=True,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, dim.collect()))
