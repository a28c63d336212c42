"""Drift-gated refresh (plans/drift_gate.py): an injected drift must
trigger exactly one weights publish with full audit provenance; a
no-drift run must audit both stages and publish NOTHING."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.drift_gate import (
    add_drift_gated_refresh,
)
from star_schema_etl_airflow_spark.plans.llm_sampling import mixture_refresh
from star_schema_etl_airflow_spark.plans.pipeline import Pipeline

SF_DIR = "/root/testdata/sf0.001"


def _counts(spark, at_rows, delta_rows):
    at = spark.createDataFrame(at_rows, "lang string, n_at long")
    dl = spark.createDataFrame(delta_rows, "lang string, n_delta long")
    return (
        at.join(dl, "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("n_at", F.lit(0)).alias("n_at"),
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
        )
    )


def _build(spark, tmp_path, at_rows, delta_rows, tag):
    weights = str(tmp_path / f"weights_{tag}")
    monitor = str(tmp_path / f"monitor_{tag}")
    audit = str(tmp_path / f"audit_{tag}")
    p = add_drift_gated_refresh(
        Pipeline(),
        counts_fn=lambda s, d: _counts(s, at_rows, delta_rows),
        refresh_fn=lambda s, d: mixture_refresh(s, SF_DIR),
        weights_path=weights,
        monitor_path=monitor,
    )
    results = p.run(spark, "2024-06-01", audit_path=audit)
    audit_df = spark.read.parquet(audit)
    return results, audit_df, weights, monitor


def test_injected_drift_triggers_exactly_one_refresh(spark, tmp_path):
    # language mix inverted between halves — PSI >> 0.25
    results, audit_df, weights, monitor = _build(
        spark, tmp_path,
        [("en", 90), ("fr", 10)], [("en", 10), ("fr", 90)], "drift",
    )
    assert results["drift_monitor"]["drifted"]
    assert results["drift_monitor"]["psi_total"] > 0.25
    assert results["mixture_refresh"]["action"] == "refreshed"
    # exactly one publish: the weights table exists with the real
    # tempered-weight schema, and the audit shows ONE ok refresh row
    assert os.path.isdir(weights)
    w = spark.read.parquet(weights)
    assert {"lang", "q_at", "q_union", "q_shift"} <= set(w.columns)
    assert w.count() > 0
    rows = {
        (r.stage, r.status, r.attempts)
        for r in audit_df.select("stage", "status", "attempts").collect()
    }
    assert rows == {
        ("drift_monitor", "ok", 1),
        ("mixture_refresh", "ok", 1),
    }
    # monitoring history carries the run_date-tagged PSI terms
    m = spark.read.parquet(monitor)
    assert m.filter(F.col("run_date") == "2024-06-01").count() == 2


def test_no_drift_publishes_nothing_but_audits_both_stages(spark, tmp_path):
    # identical shares — PSI = 0
    results, audit_df, weights, _monitor = _build(
        spark, tmp_path,
        [("en", 90), ("fr", 10)], [("en", 900), ("fr", 100)], "quiet",
    )
    assert not results["drift_monitor"]["drifted"]
    assert results["mixture_refresh"]["action"] == "noop"
    assert not os.path.exists(weights)  # zero publishes, zero churn
    rows = {
        (r.stage, r.status)
        for r in audit_df.select("stage", "status").collect()
    }
    assert rows == {("drift_monitor", "ok"), ("mixture_refresh", "ok")}


def test_vanished_language_is_a_drift_signal_end_to_end(spark, tmp_path):
    """The round-13 advice scenario: a language present only at rest
    (n_delta=0) must yield a finite smoothed term that TRIPS the gate,
    not a NULL that silently reads as no-drift."""
    results, _audit, weights, _m = _build(
        spark, tmp_path,
        [("en", 60), ("fr", 40)], [("en", 100)], "vanish",
    )
    assert results["drift_monitor"]["psi_total"] > 0.25
    assert results["mixture_refresh"]["action"] == "refreshed"
    assert os.path.isdir(weights)


# --- KS drift + SoftDeDup reweighting (same monitoring/mixing family) -------


def test_ks_statistic_bounds_and_witness(spark):
    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        corpus_drift_ks,
    )

    row = corpus_drift_ks(spark, SF_DIR).collect()[0]
    assert 0.0 <= row.ks_d <= 1.0
    assert row.n_at > 0 and row.n_delta > 0
    # the witness value is a realized document length
    lengths = {
        r.n_chars
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("n_chars").distinct().collect()
    }
    assert row.at_value in lengths


def test_softdedup_preserves_expected_mass_per_cluster(spark):
    """The SoftDeDup invariant: every cluster contributes the same
    expected sampling mass (size x 1/size = 1), so summed probs ~= 1
    and per-cluster prob sums are equal within rounding."""
    from star_schema_etl_airflow_spark.plans.llm_dedup import (
        SOFT_SCALE,
        softdedup_weights,
    )

    rows = softdedup_weights(spark, SF_DIR).collect()
    n_clusters = len({r.cluster_id for r in rows})
    total_prob = sum(r.prob_nano for r in rows)
    # sum over docs of 1/(size*n_clusters) == 1 exactly; rounding adds
    # at most 0.5 nano per doc
    assert abs(total_prob - SOFT_SCALE) <= len(rows)
    per_cluster: dict = {}
    for r in rows:
        per_cluster.setdefault(r.cluster_id, []).append(r)
    masses = {
        cid: sum(r.prob_nano for r in rs)
        for cid, rs in per_cluster.items()
    }
    lo, hi = min(masses.values()), max(masses.values())
    assert hi - lo <= max(len(rs) for rs in per_cluster.values())
    # weight is exactly the inverse commonness
    assert all(
        r.weight_nano == round(SOFT_SCALE / r.cluster_size) for r in rows
    )
    assert n_clusters == len(masses)


# --- KS gate: monitor → critical value → action (r14 verdict task 6) -------


def _ks_counts(spark, rows):
    return spark.createDataFrame(rows, "n_chars long, c_at long, c_delta long")


def _build_ks(spark, tmp_path, rows, tag):
    from star_schema_etl_airflow_spark.plans.drift_gate import (
        add_ks_gated_refresh,
    )
    from star_schema_etl_airflow_spark.plans.fixture_queries import (
        profile_documents,
    )

    profile = str(tmp_path / f"profile_{tag}")
    monitor = str(tmp_path / f"ksmon_{tag}")
    audit = str(tmp_path / f"ksaudit_{tag}")
    p = add_ks_gated_refresh(
        Pipeline(),
        counts_fn=lambda s, d: _ks_counts(s, rows),
        refresh_fn=lambda s, d: profile_documents(s, SF_DIR),
        profile_path=profile,
        monitor_path=monitor,
    )
    results = p.run(spark, "2024-06-02", audit_path=audit)
    audit_df = spark.read.parquet(audit)
    return results, audit_df, profile, monitor


def test_injected_length_drift_fires_exactly_one_refresh(spark, tmp_path):
    # at-rest lengths near 100, ingested lengths near 600: the empirical
    # CDFs never overlap, D = 1.0 >> the critical value
    rows = [(100 + i, 10, 0) for i in range(5)] + \
           [(600 + i, 0, 10) for i in range(5)]
    results, audit_df, profile, monitor = _build_ks(
        spark, tmp_path, rows, "drift")
    assert results["ks_monitor"]["drifted"]
    assert results["ks_monitor"]["ks_d"] == 1.0
    assert results["profile_refresh"]["action"] == "refreshed"
    assert os.path.isdir(profile)
    assert spark.read.parquet(profile).count() > 0
    rows_a = {
        (r.stage, r.status, r.attempts)
        for r in audit_df.select("stage", "status", "attempts").collect()
    }
    assert rows_a == {("ks_monitor", "ok", 1), ("profile_refresh", "ok", 1)}
    m = spark.read.parquet(monitor)
    assert m.filter(F.col("run_date") == "2024-06-02").count() == 1


def test_quiet_lengths_audit_both_stages_publish_nothing(spark, tmp_path):
    # identical length distribution on both sides: D = 0
    rows = [(100 + i, 10, 20) for i in range(10)]
    results, audit_df, profile, _m = _build_ks(
        spark, tmp_path, rows, "quiet")
    assert not results["ks_monitor"]["drifted"]
    assert results["ks_monitor"]["ks_d"] == 0.0
    assert results["profile_refresh"]["action"] == "noop"
    assert not os.path.exists(profile)   # zero publishes, zero churn
    rows_a = {
        (r.stage, r.status)
        for r in audit_df.select("stage", "status").collect()
    }
    assert rows_a == {("ks_monitor", "ok"), ("profile_refresh", "ok")}


def test_drift_gate_ks_quiet_on_the_standing_fixture_split(spark):
    """The registered verdict query: the even/odd fixture halves are
    the SAME corpus, so the gate must read quiet (ks_d below the
    α=0.01 critical value) — the e2e no-false-positive pin."""
    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        drift_gate_ks,
    )

    row = drift_gate_ks(spark, SF_DIR).collect()[0]
    assert not row.drifted
    assert row.action == "noop"
    assert 0.0 <= row.ks_d < row.ks_crit
