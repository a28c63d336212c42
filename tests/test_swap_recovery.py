"""Crash-safe swap publish (sources/io.py::_swap_publish / recover_swap).

Round-12 advice: the old rmtree-then-rename publish had a window — after
the rmtree, before the rename — where NO copy of the state existed.  A
crash there made a restarted streaming job (kmv_stream, scd2_stream)
treat the target as day-0 and silently rebuild state from a single
micro-batch.  The rename-aside protocol guarantees a complete copy on
disk at every instant; ``recover_swap`` adopts the complete
``__tmp_swap`` sibling (``_SUCCESS`` committed) or restores the
``__old_swap`` aside.  These tests walk every crash window.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.sources.io import _swap_publish, recover_swap


def _mkstate(path: str, marker: str, success: bool = True) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "data.txt"), "w") as f:
        f.write(marker)
    if success:
        with open(os.path.join(path, "_SUCCESS"), "w"):
            pass


def _marker(path: str) -> str:
    with open(os.path.join(path, "data.txt")) as f:
        return f.read()


def test_swap_publish_replaces_and_cleans(tmp_path):
    path, tmp = str(tmp_path / "t"), str(tmp_path / "t__tmp_swap")
    _mkstate(path, "old")
    _mkstate(tmp, "new")
    _swap_publish(tmp, path)
    assert _marker(path) == "new"
    assert not os.path.exists(tmp)
    assert not os.path.exists(path + "__old_swap")


def test_swap_publish_first_write_no_target(tmp_path):
    path, tmp = str(tmp_path / "t"), str(tmp_path / "t__tmp_swap")
    _mkstate(tmp, "new")
    _swap_publish(tmp, path)
    assert _marker(path) == "new"


def test_swap_publish_clears_stale_aside(tmp_path):
    # crash window: after rename-in, before delete-old — next publish
    # must not trip over the leftover aside
    path, tmp = str(tmp_path / "t"), str(tmp_path / "t__tmp_swap")
    _mkstate(path, "v2")
    _mkstate(path + "__old_swap", "v1")
    _mkstate(tmp, "v3")
    _swap_publish(tmp, path)
    assert _marker(path) == "v3"
    assert not os.path.exists(path + "__old_swap")


def test_swap_publish_keeps_aside_when_target_missing(tmp_path, monkeypatch):
    # crash window of an earlier publish: the target is aside, nothing
    # is at the target.  The aside is the last complete copy, so a
    # publish that crashes before its rename-in must not have deleted it
    path, tmp = str(tmp_path / "t"), str(tmp_path / "t__tmp_swap")
    _mkstate(path + "__old_swap", "v1")
    _mkstate(tmp, "v2")
    rename = os.rename

    def crash_on_rename_in(src, dst):
        if src == tmp:
            raise OSError("crash before rename-in")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_rename_in)
    with pytest.raises(OSError):
        _swap_publish(tmp, path)
    monkeypatch.undo()
    assert _marker(path + "__old_swap") == "v1"


def test_recover_adopts_complete_tmp(tmp_path):
    # crash window: after rename-aside, before rename-in — both the
    # aside (v1) and the complete tmp (v2) exist; the tmp is the full
    # merged state, prefer it
    path = str(tmp_path / "t")
    _mkstate(path + "__old_swap", "v1")
    _mkstate(path + "__tmp_swap", "v2")
    assert recover_swap(path) is True
    assert _marker(path) == "v2"


def test_recover_ignores_partial_tmp_restores_aside(tmp_path):
    # a tmp WITHOUT _SUCCESS is an uncommitted partial write — never
    # adopt it; the aside is the last complete state
    path = str(tmp_path / "t")
    _mkstate(path + "__old_swap", "v1")
    _mkstate(path + "__tmp_swap", "partial", success=False)
    assert recover_swap(path) is True
    assert _marker(path) == "v1"


def test_recover_noop_when_target_exists(tmp_path):
    path = str(tmp_path / "t")
    _mkstate(path, "v1")
    _mkstate(path + "__tmp_swap", "v2")
    assert recover_swap(path) is False
    assert _marker(path) == "v1"


def test_recover_nothing_to_recover(tmp_path):
    assert recover_swap(str(tmp_path / "t")) is False


# --- end-to-end: the exact silent-restart scenario from the advice ---

SRC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("text", T.StringType()),
])

BATCHES = [
    [(1, "a", "w1 w2 w3 w4 w5"), (2, "b", "w3 w4 w5 w6 w7")],
    [(3, "c", "w8 w9 w10 w11"), (4, "a", "x1 x2 x3 x4")],
]


def _stage(spark, tmp_path, landing, rows, seq):
    df = spark.createDataFrame(rows, SRC_SCHEMA)
    staging = str(tmp_path / f"stage_{seq}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging)
                if f.startswith("part-") and f.endswith(".parquet"))
    fpath = os.path.join(landing, f"batch_{seq}.parquet")
    os.rename(os.path.join(staging, part), fpath)
    t = time.time() - 100 + seq
    os.utime(fpath, (t, t))


def test_kmv_stream_survives_crash_mid_publish(spark, tmp_path):
    """Fold batch 0, simulate a crash in the publish window (target
    renamed away, complete tmp left), then fold batch 1 — the final
    sketch must equal the batch sketch of ALL rows, not just batch 1's
    (the pre-fix behavior rebuilt from the restart batch alone)."""
    from star_schema_etl_airflow_spark.plans.kmv_overlap import kmv_sketches
    from star_schema_etl_airflow_spark.streaming.kmv_stream import (
        run_kmv_stream,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    sketch = str(tmp_path / "sketch")

    _stage(spark, tmp_path, landing, BATCHES[0], 0)
    run_kmv_stream(spark, landing, sketch, SRC_SCHEMA)

    # crash mid-publish: the next fold's tmp was fully committed but the
    # rename-in never happened; the old copy was already renamed aside.
    # (Here the committed state IS the correct merged sketch, so moving
    # it to the tmp slot models "tmp holds the complete merged state".)
    os.rename(sketch, sketch + "__tmp_swap")
    assert not os.path.exists(sketch)

    _stage(spark, tmp_path, landing, BATCHES[1], 1)
    got = run_kmv_stream(spark, landing, sketch, SRC_SCHEMA)

    all_rows = [r for b in BATCHES for r in b]
    want = kmv_sketches(
        spark,
        spark.createDataFrame(all_rows, SRC_SCHEMA).select("source", "text"),
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_scd2_stream_survives_crash_mid_publish(spark, tmp_path):
    """Same crash window for the SCD2 dim fold: day-1 history must
    survive a mid-publish crash before day-2 arrives."""
    from star_schema_etl_airflow_spark.operators.scd2 import apply_scd2
    from star_schema_etl_airflow_spark.streaming.scd2_stream import (
        empty_dim,
        run_scd2_stream,
    )

    schema = T.StructType([
        T.StructField("customer_id", T.LongType()),
        T.StructField("email", T.StringType()),
        T.StructField("run_date", T.StringType()),
    ])
    days = {
        "2024-01-01": [(1, "a@x.com"), (2, "b@x.com")],
        "2024-01-02": [(1, "a@y.com")],
    }
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    dim_path = str(tmp_path / "dim")

    def stage(d, seq):
        df = spark.createDataFrame(
            [(*r, d) for r in days[d]], schema)
        staging = str(tmp_path / f"sstage_{seq}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging)
                    if f.startswith("part-") and f.endswith(".parquet"))
        fpath = os.path.join(landing, f"delta_{seq}.parquet")
        os.rename(os.path.join(staging, part), fpath)
        t = time.time() - 100 + seq
        os.utime(fpath, (t, t))

    stage("2024-01-01", 0)
    run_scd2_stream(
        spark, landing, dim_path, schema,
        key="customer_id", tracked=["email"],
    )
    os.rename(dim_path, dim_path + "__tmp_swap")

    stage("2024-01-02", 1)
    got = run_scd2_stream(
        spark, landing, dim_path, schema,
        key="customer_id", tracked=["email"],
    )

    expected = empty_dim(spark, schema, "customer_id", ["email"])
    for d in sorted(days):
        day = spark.createDataFrame(days[d], schema[:2])
        expected = apply_scd2(
            expected, day, "customer_id", ["email"], d, "sk")
    s = sorted(tuple(r) for r in got.collect())
    b = sorted(tuple(r) for r in expected.collect())
    assert s == b


def test_sales_pipeline_survives_crash_mid_publish(spark, tmp_path):
    """A crash after ``dim_customers`` was moved aside and before the new
    copy was renamed in: the next run date must pick up the aside copy,
    not rebuild the dimension from that day's slice alone."""
    from test_pipeline import CONFIG, D1, D2, _write_landing

    from star_schema_etl_airflow_spark.plans.sales_domain import (
        SalesWarehouse,
        build_sales_pipeline,
    )
    from star_schema_etl_airflow_spark.sources.schema import load_config

    cfg = load_config(CONFIG)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    _write_landing(crashed, cfg)
    build_sales_pipeline(SalesWarehouse(spark, crashed, cfg)).run(spark, D1)
    shutil.copytree(crashed, clean)

    dim = os.path.join(crashed, "core", "dim_customers")
    os.rename(dim, dim + "__old_swap")

    def dim_customers_after_d2(base):
        wh = SalesWarehouse(spark, base, cfg)
        build_sales_pipeline(wh).run(spark, D2)
        return sorted(tuple(r) for r in wh.read("core", "dim_customers").collect())

    assert dim_customers_after_d2(crashed) == dim_customers_after_d2(clean)
