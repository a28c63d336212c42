"""Schema-drift detection and the pipeline runner's audit options."""

from __future__ import annotations

import pytest

from star_schema_etl_airflow_spark.plans.pipeline import Pipeline
from star_schema_etl_airflow_spark.sources.schema import (
    build_struct_type,
    enforce_schema,
    schema_drift,
)

DECLARED = build_struct_type([
    {"name": "id", "type": "INTEGER"},
    {"name": "amount", "type": "FLOAT"},
    {"name": "note", "type": "STRING"},
])


def test_drift_report_names_every_divergence():
    observed = build_struct_type([
        {"name": "id", "type": "STRING"},       # type change
        {"name": "amount", "type": "FLOAT"},
        {"name": "extra", "type": "STRING"},    # added upstream
    ])                                           # note missing
    drift = schema_drift(DECLARED, observed)
    assert drift == {
        "added": ["extra"],
        "missing": ["note"],
        "type_changed": ["id: bigint→string"],
    }


def test_enforce_schema_modes():
    same = build_struct_type([
        {"name": "id", "type": "INTEGER"},
        {"name": "amount", "type": "FLOAT"},
        {"name": "note", "type": "STRING"},
        {"name": "new_col", "type": "STRING"},
    ])
    with pytest.raises(ValueError, match="schema drift"):
        enforce_schema(DECLARED, same)          # added col fails by default
    enforce_schema(DECLARED, same, allow_added=True)  # evolution mode ok


def test_audited_run_records_every_stage(spark, tmp_path):
    audit_path = str(tmp_path / "audit")
    p = (
        Pipeline()
        .add_stage("dim", lambda s, d, r: 1, layer="core")
        .add_stage("fact", lambda s, d, r: r["dim"] + 1, deps=["dim"],
                   layer="core")
    )
    results = p.run(spark, "2024-01-01", audit_path=audit_path)
    assert results == {"dim": 1, "fact": 2}
    audit = spark.read.parquet(audit_path)
    rows = {(r.stage, r.status) for r in audit.collect()}
    assert rows == {("dim", "ok"), ("fact", "ok")}
    assert audit.count() == 2


def test_failed_stage_is_flushed_before_raise(spark, tmp_path):
    audit_path = str(tmp_path / "audit_fail")

    def boom(s, d, r):
        raise RuntimeError("stage exploded")

    p = (
        Pipeline()
        .add_stage("ok_stage", lambda s, d, r: 1)
        .add_stage("bad_stage", boom, deps=["ok_stage"])
    )
    with pytest.raises(RuntimeError, match="stage exploded"):
        p.run(spark, "2024-01-01", audit_path=audit_path)
    got = {
        (r.stage, r.status)
        for r in spark.read.parquet(audit_path).collect()
    }
    assert got == {("ok_stage", "ok"), ("bad_stage", "failed")}


def test_retry_then_success(spark, tmp_path):
    calls = {"n": 0}

    def flaky(s, d, r):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "ok"

    audit_path = str(tmp_path / "audit")
    p = Pipeline()
    p.add_stage("flaky", flaky)
    results = p.run(spark, "2024-02-01", audit_path=audit_path, retries=1)
    assert results["flaky"] == "ok" and calls["n"] == 2
    row = spark.read.parquet(audit_path).filter("stage = 'flaky'").first()
    assert row.status == "ok" and row.attempts == 2


def test_resume_skips_completed_stages(spark, tmp_path):
    audit_path = str(tmp_path / "audit")
    ran: list[str] = []

    def mk(name, fail=False):
        def fn(s, d, r):
            ran.append(name)
            if fail:
                raise RuntimeError("boom")
            return name
        return fn

    p = Pipeline()
    p.add_stage("a", mk("a"))
    p.add_stage("b", mk("b", fail=True), deps=("a",))
    p.add_stage("c", mk("c"), deps=("b",))
    with pytest.raises(RuntimeError):
        p.run(spark, "2024-02-02", audit_path=audit_path)
    assert ran == ["a", "b"]

    # fix b, resume: a is skipped, b and c run
    ran.clear()
    p2 = Pipeline()
    p2.add_stage("a", mk("a"))
    p2.add_stage("b", mk("b"), deps=("a",))
    p2.add_stage("c", mk("c"), deps=("b",))
    results = p2.run(spark, "2024-02-02", audit_path=audit_path, resume=True)
    assert ran == ["b", "c"]
    assert results == {"a": None, "b": "b", "c": "c"}
    # the failed run's two rows, then the resumed run's three
    rows = sorted((r.stage, r.status)
                  for r in spark.read.parquet(audit_path).collect())
    assert rows == [("a", "ok"), ("a", "skipped"), ("b", "failed"),
                    ("b", "ok"), ("c", "ok")]


def test_backfill_runs_each_date_in_order(spark, tmp_path):
    """A backfill is one run per date, in order, on one audit table."""
    dates = ["2024-03-01", "2024-03-02", "2024-03-03"]
    audit_path = str(tmp_path / "audit")
    seen: list[str] = []
    p = Pipeline()
    p.add_stage("s", lambda sp, d, r: seen.append(d) or d)
    out = {d: p.run(spark, d, audit_path=audit_path) for d in dates}
    assert seen == dates
    assert out == {d: {"s": d} for d in dates}
    audit = spark.read.parquet(audit_path).orderBy("logged_at", "run_date")
    assert [(r.run_date, r.stage, r.status) for r in audit.collect()] == [
        (d, "s", "ok") for d in dates
    ]
