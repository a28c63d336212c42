"""Curation pipeline v7 (plans/llm_pipeline7.py): the composition must
equal a pure-Python recomposition from its three component queries,
the SoftDeDup discount must be a LIVE lever (the injected near-dup
clusters shift selection), and the audited end-to-end form must run
the gate in front."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.doremi import (
    T_ROUNDS,
    doremi_mixture_weights,
    rho_scored,
)
from star_schema_etl_airflow_spark.plans.llm_dedup import (
    SOFT_SCALE,
    softdedup_weights,
)
from star_schema_etl_airflow_spark.plans.llm_pipeline7 import (
    V7_EPOCH_FRAC,
    curation_pipeline_v7,
)

SF_DIR = "/root/testdata/sf0.001"


def _python_selection(spark, soft_override=None):
    """Recompose v7's selection in pure Python from the component
    queries — the prediction the composed query must match exactly."""
    docs = {
        r.doc_id: r.lang
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    rho = {r.doc_id: r.rho_micro for r in rho_scored(spark, SF_DIR).collect()}
    soft = soft_override if soft_override is not None else {
        r.doc_id: r.weight_nano
        for r in softdedup_weights(spark, SF_DIR).collect()
    }
    mix = {
        r.lang: r.weight_micro
        for r in doremi_mixture_weights(spark, SF_DIR)
        .filter(F.col("round") == T_ROUNDS).collect()
    }
    m = [
        (d, docs[d], rho[d], soft.get(d, SOFT_SCALE))
        for d in rho if d in docs
    ]
    rmin = min(r for _d, _l, r, _w in m)
    budget = math.floor(len(m) * V7_EPOCH_FRAC)
    wsum = sum(mix.values())
    quota = {
        lang: max(1, budget * w // wsum) for lang, w in mix.items()
    }
    selected = set()
    by_lang: dict = {}
    for d, lang, r, w in m:
        eff = (r - rmin + 1) * w // SOFT_SCALE
        by_lang.setdefault(lang, []).append((-eff, -r, d))
    for lang, rows in by_lang.items():
        for _eff, _r, d in sorted(rows)[: quota.get(lang, 0)]:
            selected.add(d)
    return selected


def test_composition_equals_python_recomposition(spark):
    got = {r.doc_id for r in curation_pipeline_v7(spark, SF_DIR).collect()}
    assert got == _python_selection(spark)


def test_injected_near_dup_cluster_shifts_selection_as_predicted(spark):
    """The SoftDeDup lever is LIVE: the fixture's injected near-dup
    clusters give some base docs weight_nano < SOFT_SCALE, and turning
    the discount off (all weights = 1.0) changes the selected set —
    by exactly the docs the composed-weight prediction says."""
    soft = {
        r.doc_id: r.weight_nano
        for r in softdedup_weights(spark, SF_DIR).collect()
    }
    discounted_base_docs = {
        d for d, w in soft.items() if w < SOFT_SCALE and d < 1_000_000
    }
    assert discounted_base_docs, "fixture lost its injected clusters"
    with_soft = _python_selection(spark)
    without_soft = _python_selection(spark, soft_override={})
    assert with_soft != without_soft
    # every doc the discount pushed OUT is a discounted doc; the docs
    # pulled IN took the freed quota slots
    pushed_out = without_soft - with_soft
    assert pushed_out <= discounted_base_docs
    # and the composed query agrees with the discounted prediction
    got = {r.doc_id for r in curation_pipeline_v7(spark, SF_DIR).collect()}
    assert got == with_soft


def test_gate_rides_every_row_and_audited_run_composes(spark, tmp_path):
    """The gate verdict rides every output row, and the audited
    pipeline form (PSI gate stages in front, selection publish behind)
    runs green with one publish."""
    rows = curation_pipeline_v7(spark, SF_DIR).select(
        "psi_total", "gate_action").distinct().collect()
    assert len(rows) == 1
    assert rows[0].gate_action in ("noop", "refresh_mixture")

    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        corpus_drift_psi,
    )
    from star_schema_etl_airflow_spark.plans.drift_gate import (
        add_drift_gated_refresh,
    )
    from star_schema_etl_airflow_spark.plans.llm_sampling import (
        mixture_refresh,
    )
    from star_schema_etl_airflow_spark.plans.pipeline import Pipeline

    sel_path = str(tmp_path / "v7_selection")

    def counts(s, d):
        return corpus_drift_psi(s, SF_DIR).select("lang", "n_at", "n_delta")

    p = add_drift_gated_refresh(
        Pipeline(),
        counts_fn=counts,
        refresh_fn=lambda s, d: mixture_refresh(s, SF_DIR),
        weights_path=str(tmp_path / "weights"),
    )

    def select_stage(s, run_date, results):
        from star_schema_etl_airflow_spark.sources.io import write_swap

        write_swap(curation_pipeline_v7(s, SF_DIR), sel_path)
        return {"rows": s.read.parquet(sel_path).count()}

    p.add_stage("v7_select", select_stage,
                deps=("mixture_refresh",), layer="curation")
    audit_path = str(tmp_path / "audit")
    results = p.run(spark, "2024-06-03", audit_path=audit_path)
    audit = spark.read.parquet(audit_path)
    assert results["v7_select"]["rows"] > 0
    assert os.path.isdir(sel_path)
    statuses = {(r.stage, r.status) for r in
                audit.select("stage", "status").collect()}
    assert statuses == {("drift_monitor", "ok"), ("mixture_refresh", "ok"),
                        ("v7_select", "ok")}
