"""Monitor → threshold → action, composed as pipeline stages: the
distribution-drift monitor (``corpus_drift_psi``'s PSI core) gates the
tempered-weight refresh (``mixture_refresh``) inside the audited
runner (``plans/pipeline.py``) — closing the loop that previously
existed only as three independent parts.

Semantics (the standard model-monitoring operating point): PSI > 0.25
means the ingest shifted the corpus mix enough that the training
sampling weights are stale — recompute and publish them; PSI below the
threshold publishes NOTHING (the standing weights stay authoritative;
a no-drift run must not churn the weights table's version history).

Both stages run and audit on every date — the CONDITION is in the
refresh stage's behavior, not in skipping it, so the audit trail
records the monitor verdict (``psi_total`` in the result payload, one
``ok`` row per stage) for drifted and quiet days alike, exactly like
an Airflow ShortCircuit/Branch day shows up in the task history.

Scale: the monitor is two bucket-sized count aggregations + a 1-row
total broadcast (never corpus-sized); the verdict is a 1-row driver
read (control-plane, like the max-sk seed); the refresh is two more
bucket-sized aggregations; the publish is the repo's crash-safe
rename-aside swap.

Reference parity: beyond-reference (LLM-pipeline monitoring
extension); orchestration semantics per O1-O6
(``plans/pipeline.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.corpus_drift import psi_terms
from star_schema_etl_airflow_spark.plans.pipeline import Pipeline

# < 0.1 stable, 0.1-0.25 moderate, > 0.25 action — the standard PSI
# operating points (see plans/corpus_drift.py)
PSI_ACTION_THRESHOLD = 0.25


def add_drift_gated_refresh(
    pipeline: Pipeline,
    counts_fn: Callable[..., DataFrame],
    refresh_fn: Callable[..., DataFrame],
    weights_path: str,
    monitor_path: str | None = None,
    threshold: float = PSI_ACTION_THRESHOLD,
    monitor_stage: str = "drift_monitor",
    refresh_stage: str = "mixture_refresh",
    deps: tuple[str, ...] = (),
) -> Pipeline:
    """Register the monitor stage and its gated action on ``pipeline``.

    ``counts_fn(spark, run_date) -> (lang, n_at, n_delta)`` supplies
    the bucket counts under monitoring (at-rest vs this run's ingest);
    ``refresh_fn(spark, run_date) -> DataFrame`` computes the new
    weights.  The refresh stage swap-publishes to ``weights_path``
    ONLY when the monitor's total PSI exceeds ``threshold``; the
    monitor optionally appends its per-bucket terms (tagged with
    ``run_date``) to ``monitor_path`` as the monitoring history table.
    """

    def monitor(spark, run_date, results):
        terms = psi_terms(counts_fn(spark, run_date))
        if monitor_path:
            from star_schema_etl_airflow_spark.sources.io import write_append

            write_append(
                terms.withColumn("run_date", F.lit(run_date)), monitor_path
            )
        row = terms.agg(
            F.coalesce(F.round(F.sum("psi_term"), 9), F.lit(0.0)).alias("p")
        ).first()
        psi_total = float(row["p"])
        return {"psi_total": psi_total, "drifted": psi_total > threshold}

    def refresh(spark, run_date, results):
        verdict = results[monitor_stage]
        if not verdict["drifted"]:
            return {"action": "noop", "psi_total": verdict["psi_total"]}
        from star_schema_etl_airflow_spark.sources.io import write_swap

        write_swap(refresh_fn(spark, run_date), weights_path)
        return {"action": "refreshed", "psi_total": verdict["psi_total"]}

    pipeline.add_stage(monitor_stage, monitor, deps=deps, layer="monitoring")
    pipeline.add_stage(
        refresh_stage, refresh, deps=(monitor_stage,), layer="monitoring"
    )
    return pipeline


def add_ks_gated_refresh(
    pipeline: Pipeline,
    counts_fn: Callable[..., DataFrame],
    refresh_fn: Callable[..., DataFrame],
    profile_path: str,
    monitor_path: str | None = None,
    alpha_c: float | None = None,
    monitor_stage: str = "ks_monitor",
    refresh_stage: str = "profile_refresh",
    deps: tuple[str, ...] = (),
) -> Pipeline:
    """The KS analog of :func:`add_drift_gated_refresh` (r14 verdict
    task 6): a numeric-property drift monitor gating a re-profiling
    action.  ``counts_fn(spark, run_date) -> (n_chars, c_at, c_delta)``
    supplies the value-grain counts (at-rest vs this run's ingest);
    when the two-sample KS statistic exceeds its sample-size-aware
    critical value (α=0.01 by default — ``corpus_drift.KS_ALPHA_C``),
    ``refresh_fn``'s output swap-publishes to ``profile_path``; a quiet
    run audits both stages and publishes NOTHING (same no-churn
    discipline as the PSI gate).  The verdict arithmetic is the
    oracle-checked ``drift_gate_ks`` query's, verbatim."""
    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        KS_ALPHA_C,
        KS_DECIMALS,
        ks_statistic,
    )

    c = KS_ALPHA_C if alpha_c is None else alpha_c

    def monitor(spark, run_date, results):
        ks = ks_statistic(counts_fn(spark, run_date))
        if monitor_path:
            from star_schema_etl_airflow_spark.sources.io import write_append

            write_append(
                ks.withColumn("run_date", F.lit(run_date)), monitor_path
            )
        row = ks.select(
            "ks_d", "n_at", "n_delta",
            F.round(
                F.lit(c) * F.sqrt(
                    (F.col("n_at") + F.col("n_delta")).cast("double")
                    / (F.col("n_at") * F.col("n_delta")).cast("double")
                ),
                KS_DECIMALS,
            ).alias("ks_crit"),
        ).first()
        if row is None:   # empty counts: nothing ingested, nothing drifts
            return {"ks_d": 0.0, "ks_crit": None, "drifted": False}
        return {
            "ks_d": float(row["ks_d"]),
            "ks_crit": float(row["ks_crit"]),
            "drifted": float(row["ks_d"]) > float(row["ks_crit"]),
        }

    def refresh(spark, run_date, results):
        verdict = results[monitor_stage]
        if not verdict["drifted"]:
            return {"action": "noop", "ks_d": verdict["ks_d"]}
        from star_schema_etl_airflow_spark.sources.io import write_swap

        write_swap(refresh_fn(spark, run_date), profile_path)
        return {"action": "refreshed", "ks_d": verdict["ks_d"]}

    pipeline.add_stage(monitor_stage, monitor, deps=deps, layer="monitoring")
    pipeline.add_stage(
        refresh_stage, refresh, deps=(monitor_stage,), layer="monitoring"
    )
    return pipeline
