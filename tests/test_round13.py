"""Round-13 additions: IVFADC (composed IVF+PQ), contrastive
hard-negative mining, curriculum ordering, and the right-to-erasure
cascade audit — semantics beyond what the value-hash oracle pins."""

from __future__ import annotations

import numpy as np
import duckdb
import pytest

from star_schema_etl_airflow_spark.plans.contrastive import (
    NEG_K,
    hard_negatives,
)
from star_schema_etl_airflow_spark.plans.curriculum import (
    NUM_STAGES,
    curriculum_order,
)
from star_schema_etl_airflow_spark.plans.governance_queries import (
    gdpr_erasure_cascade,
)
from star_schema_etl_airflow_spark.plans.ivfpq import (
    NCELLS,
    NPROBE,
    embed_ivfpq_topk,
)
from star_schema_etl_airflow_spark.plans.pq import (
    N_QUERIES,
    SCALE,
    TOP_K,
)

SF_DIR = "/root/testdata/sf0.01"


def _scaled_vectors():
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    return {
        vid: np.floor(np.array(e, dtype=np.float64) * SCALE + 0.5).astype(
            np.int64
        )
        for vid, e in rows
    }


def test_ivfpq_results_come_only_from_probed_cells(spark):
    sv = _scaled_vectors()
    cells = {c: sv[c] for c in range(N_QUERIES, N_QUERIES + NCELLS)}
    rows = embed_ivfpq_topk(spark, SF_DIR).collect()
    assert {r.query_id for r in rows} == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        d = sorted(
            (int(((sv[qid] - cv) ** 2).sum()), c) for c, cv in cells.items()
        )
        probe = {c for _, c in d[:NPROBE]}
        got = {r.cell for r in rows if r.query_id == qid}
        assert got <= probe, (qid, got, probe)
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= TOP_K


def _recall_vs_exact(sv, got):
    cand_ids = [v for v in sv if v >= N_QUERIES]
    hits = 0
    for qid in range(N_QUERIES):
        exact = {
            c
            for _, c in sorted(
                (int(((sv[qid] - sv[c]) ** 2).sum()), c) for c in cand_ids
            )[:TOP_K]
        }
        approx = {r.cand_id for r in got if r.query_id == qid}
        hits += len(exact & approx)
    return hits / (N_QUERIES * TOP_K)


def test_ivfpq_adc_recall_beats_chance(spark):
    """Codes-only ADC on ISOTROPIC vectors (the adversarial case: 16
    residual centroids cannot model an isotropic 8-dim marginal, so
    quantization error swamps neighbor margins) still beats chance
    (~10/490 ~= 0.02) 2x; the production recall path is the refine
    stage below — this pin is deliberately weak, the containment pin
    above is the ADC contract."""
    recall = _recall_vs_exact(
        _scaled_vectors(), embed_ivfpq_topk(spark, SF_DIR).collect()
    )
    assert recall >= 0.04, f"IVFADC recall@{TOP_K} = {recall:.2f}"


def test_ivfpq_rerank_recall_vs_exact_l2(spark):
    """IVFADC-R: exact re-rank of the ADC shortlist recovers most of
    what cell-probing admits (probe ceiling 0.36 at nprobe=2/8 on this
    fixture; measured 0.28)."""
    from star_schema_etl_airflow_spark.plans.ivfpq import embed_ivfpq_rerank

    got = embed_ivfpq_rerank(spark, SF_DIR).collect()
    recall = _recall_vs_exact(_scaled_vectors(), got)
    assert recall >= 0.20, f"IVFADC-R recall@{TOP_K} = {recall:.2f}"
    # exact_dist really is the exact int64 L2 on scaled vectors
    sv = _scaled_vectors()
    for r in got[:20]:
        assert r.exact_dist == int(
            ((sv[r.query_id] - sv[r.cand_id]) ** 2).sum()
        )


def test_hard_negatives_shape_and_label_contract(spark):
    rows = hard_negatives(spark, SF_DIR).collect()
    assert len(rows) == N_QUERIES * NEG_K
    by_anchor = {}
    for r in rows:
        assert r.neg_label != r.anchor_label
        assert -1.0 <= r.neg_cosine <= 1.0
        assert r.pos_cosine >= -1.0
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for aid, rs in by_anchor.items():
        assert sorted(r.neg_rank for r in rs) == list(range(1, NEG_K + 1))
        # one positive per anchor, identical on every row
        assert len({(r.pos_id, r.pos_cosine) for r in rs}) == 1
        # negatives are ranked by descending cosine
        ordered = sorted(rs, key=lambda r: r.neg_rank)
        cos = [r.neg_cosine for r in ordered]
        assert cos == sorted(cos, reverse=True)


def test_curriculum_is_a_permutation_in_stage_order(spark):
    rows = curriculum_order(spark, SF_DIR).collect()
    n = len(rows)
    assert sorted(r.global_step for r in rows) == list(range(1, n + 1))
    # stages partition the schedule into contiguous runs in stage order
    for r in rows:
        assert 1 <= r.stage <= NUM_STAGES
    max_step = {}
    min_step = {}
    for r in rows:
        max_step[r.stage] = max(max_step.get(r.stage, 0), r.global_step)
        min_step[r.stage] = min(min_step.get(r.stage, n + 1), r.global_step)
    for s in range(1, NUM_STAGES):
        if s in max_step and s + 1 in min_step:
            assert max_step[s] < min_step[s + 1]


def test_curriculum_stages_are_monotone_in_ttr_per_lang(spark):
    rows = curriculum_order(spark, SF_DIR).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, {}).setdefault(r.stage, []).append(r.ttr)
    for lang, stages in per_lang.items():
        for s in range(1, NUM_STAGES):
            if s in stages and s + 1 in stages:
                assert max(stages[s]) <= min(stages[s + 1]), (lang, s)
        sizes = [len(v) for _, v in sorted(stages.items())]
        # NTILE balance: sizes differ by at most 1 within a language
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)


def test_erasure_cascade_totals_and_consistency(spark):
    rows = {r.table_name: r for r in gdpr_erasure_cascade(spark, SF_DIR).collect()}
    assert set(rows) == {"customer", "orders", "lineitem"}
    want = {
        t: duckdb.sql(
            f"SELECT COUNT(*) FROM '{SF_DIR}/{t}.parquet'"
        ).fetchone()[0]
        for t in rows
    }
    for t, r in rows.items():
        assert r.rows_purged + r.rows_retained == want[t], t
        assert r.rows_purged > 0, f"{t}: erasure set must be non-empty"
        assert r.purge_pct == pytest.approx(
            r.rows_purged / (r.rows_purged + r.rows_retained), abs=1e-9
        )


# --- plan pins (the shapes that make these scale) ---------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivfpq_plan_broadcasts_and_bounds_the_rank_shuffle(spark):
    """The encode is one numpy pass per partition (mapInPandas) with no
    corpus × cells join; the ADC table, built once in numpy, is
    broadcast (the corpus is never on a build side); the ADC distance
    sum combines map-side (partial_sum), and the final per-query rank
    must plant a Partial WindowGroupLimit below its Exchange."""
    from star_schema_etl_airflow_spark.plans.ivfpq import embed_ivfpq_topk

    plan = _plan(embed_ivfpq_topk(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # no corpus × cells join
    assert "MapInPandas" in plan, plan            # vectorised encode
    assert "BroadcastHashJoin" in plan            # ADC table join
    assert "BuildRight" in plan, plan             # corpus streams
    assert "partial_sum" in plan, plan            # ADC sum combines
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exchange = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert partial and exchange and partial[0] > exchange[0], plan


def test_hard_negatives_plan_is_broadcast_and_window_bounded(spark):
    plan = _plan(hard_negatives(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan      # anchors broadcast
    lines = plan.splitlines()
    partial = [i for i, l in enumerate(lines)
               if "WindowGroupLimit" in l and "Partial" in l]
    exchange = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert partial and exchange and partial[0] > exchange[0], plan


def test_erasure_cascade_plan_has_no_broadcast_of_the_fact(spark):
    """The only join is lineitem ⋈ orders on the orderkey; tallies are
    partial-aggregated map-side.  No nested-loop or cartesian anywhere."""
    plan = _plan(gdpr_erasure_cascade(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan, plan


def test_dedup_eval_metrics_are_consistent(spark):
    """recall_exact must be 1.0 (a J=1 pair collides in EVERY band);
    recall_near sits in the banding S-curve band (1−(1−J⁴)⁴ ≈ 0.26 at
    the fixture's J≈0.5 near-dups — far from both 0 and 1); and the
    predicted-pair count equals the dedup_minhash_lsh output exactly
    (the eval audits the SAME pipeline, not a reimplementation)."""
    from star_schema_etl_airflow_spark.plans.dedup_eval import dedup_eval
    from star_schema_etl_airflow_spark.plans.llm_dedup import dedup_minhash_lsh

    row = dedup_eval(spark, SF_DIR).collect()[0]
    assert row.recall_exact == 1.0
    assert 0.05 <= row.recall_near <= 0.8, row.recall_near
    assert row.n_tp_exact <= row.n_relevant_exact
    assert row.n_tp_near <= row.n_relevant_near
    assert row.n_predicted <= row.n_candidates
    assert row.n_predicted == dedup_minhash_lsh(spark, SF_DIR).count()


def test_ivfpq_incremental_add_equals_full_rebuild(spark):
    """Append-encode against frozen artifacts must equal the full
    rebuild EXACTLY (encoding is per-vector pure given cells+codebook)
    — the differential license for never re-encoding the corpus."""
    from star_schema_etl_airflow_spark.plans.ivfpq import (
        embed_ivfpq_incremental,
    )

    full = embed_ivfpq_topk(spark, SF_DIR)
    inc = embed_ivfpq_incremental(spark, SF_DIR)
    assert full.exceptAll(inc).isEmpty() and inc.exceptAll(full).isEmpty()


def test_graph_communities_are_nondegenerate(spark):
    """The backbone-thresholded LPA must find REAL structure on the
    fixture: more than one community, none spanning every node, and
    every label is itself a member node of its community (labels
    originate as node ids and propagate only along edges)."""
    from star_schema_etl_airflow_spark.plans.clustering_queries import (
        graph_communities,
    )

    rows = graph_communities(spark, SF_DIR).collect()
    nodes = {r.node for r in rows}
    comms = {}
    for r in rows:
        comms.setdefault(r.community, set()).add(r.node)
    assert len(comms) > 1, "LPA collapsed to one community"
    assert max(len(v) for v in comms.values()) < len(nodes)
    assert set(comms) <= nodes


def test_banding_sweep_shows_the_s_curve_trade(spark):
    """Across (8,2) → (4,4) → (2,8): near-dup recall strictly falls,
    candidate precision rises, candidate volume falls — the S-curve
    1−(1−J^r)^b trade measured on the real corpus."""
    from star_schema_etl_airflow_spark.plans.dedup_eval import (
        dedup_eval_banding,
    )

    rows = sorted(
        dedup_eval_banding(spark, SF_DIR).collect(),
        key=lambda r: r.rows_per_band,
    )
    recalls = [r.recall_near for r in rows]
    precisions = [r.cand_precision for r in rows]
    cands = [r.n_candidates for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    assert precisions == sorted(precisions)
    assert cands == sorted(cands, reverse=True)
    # the committed (4,4) row must agree with dedup_eval's own figures
    mid = next(r for r in rows if (r.n_bands, r.rows_per_band) == (4, 4))
    from star_schema_etl_airflow_spark.plans.dedup_eval import dedup_eval

    base = dedup_eval(spark, SF_DIR).collect()[0]
    assert (mid.n_candidates, mid.n_predicted, mid.recall_near) == (
        base.n_candidates, base.n_predicted, base.recall_near,
    )


def test_ivfpq_eval_probe_sweep_is_monotone(spark):
    """More probed cells never hurts: scored volume strictly rises and
    recall is non-decreasing in nprobe; the committed nprobe=2 row must
    agree with embed_ivfpq_rerank's own measured recall."""
    from star_schema_etl_airflow_spark.plans.ivfpq import (
        NPROBE,
        embed_ivfpq_rerank,
        ivfpq_eval,
    )

    rows = sorted(ivfpq_eval(spark, SF_DIR).collect(), key=lambda r: r.nprobe)
    scored = [r.n_scored for r in rows]
    recalls = [r.recall for r in rows]
    assert scored == sorted(scored) and len(set(scored)) == len(scored)
    assert recalls == sorted(recalls)
    committed = next(r for r in rows if r.nprobe == NPROBE)
    got = embed_ivfpq_rerank(spark, SF_DIR).select("query_id", "cand_id")
    measured = _recall_vs_exact(
        _scaled_vectors(), got.collect()
    )
    assert abs(committed.recall - measured) < 1e-9


def test_pipeline_v6_selects_tempered_curriculum_prefixes(spark):
    """Per language the epoch takes exactly the first ``quota`` docs in
    curriculum order (a contiguous lang_pos prefix), and the tempered
    quotas rebalance: the majority language's epoch share is strictly
    below its raw corpus share."""
    import duckdb

    from star_schema_etl_airflow_spark.plans.llm_pipeline6 import (
        curation_pipeline_v6,
    )

    rows = curation_pipeline_v6(spark, SF_DIR).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r)
    raw = dict(duckdb.sql(
        f"SELECT lang, COUNT(*) FROM '{SF_DIR}/documents.parquet' GROUP BY 1"
    ).fetchall())
    n_total = sum(raw.values())
    n_sel = len(rows)
    for lang, rs in per_lang.items():
        quota = rs[0].quota
        assert len(rs) == quota
        assert sorted(r.lang_pos for r in rs) == list(range(1, quota + 1))
    top = max(raw, key=raw.get)
    assert len(per_lang[top]) / n_sel < raw[top] / n_total


def test_trained_coarse_quantizer_beats_the_band_quantizer(spark):
    """Swapping the deterministic band cells for the Lloyd-trained
    codebook must improve codes-only ADC recall (balanced cells →
    smaller residuals → less quantization error; measured 0.05 → 0.16
    on the fixture)."""
    from star_schema_etl_airflow_spark.plans.ivfpq import (
        embed_ivfpq_trained,
    )

    sv = _scaled_vectors()
    band = _recall_vs_exact(sv, embed_ivfpq_topk(spark, SF_DIR).collect())
    trained = _recall_vs_exact(
        sv, embed_ivfpq_trained(spark, SF_DIR).collect()
    )
    assert trained > band, (trained, band)
    assert trained >= 0.10


def test_simhash_eval_pigeonhole_contract(spark):
    """Hamming-0 (identical text) pairs collide in every band —
    recall_exact must be exactly 1.0; hamming ≤ 3 pairs are pigeonhole-
    guaranteed a shared band, so only hamming-4 scatter can be missed —
    near recall stays high (measured 0.947; MinHash's S-curve gave 0.29
    on the same corpus, which is the comparative insight the two evals
    exist to surface)."""
    from star_schema_etl_airflow_spark.plans.dedup_eval import simhash_eval

    row = simhash_eval(spark, SF_DIR).collect()[0]
    assert row.recall_exact == 1.0
    assert row.recall_near >= 0.8, row.recall_near
    assert row.n_tp_near <= row.n_relevant_near


def test_forecast_eval_smoothing_beats_no_skill(spark):
    """On the events series the smoothed forecaster must beat the
    last-value baseline (measured MAE 1.34 vs 1.68); all three methods
    grade on the identical evaluation set."""
    from star_schema_etl_airflow_spark.plans.anomaly import forecast_eval

    rows = {r.method: r for r in forecast_eval(spark, SF_DIR).collect()}
    assert set(rows) == {"naive", "ewma", "holt"}
    assert len({r.n_evaluated for r in rows.values()}) == 1
    assert rows["ewma"].mae < rows["naive"].mae
    assert rows["ewma"].mse < rows["naive"].mse


def test_packing_eval_conserves_tokens_and_respects_lower_bound(spark):
    """Both strategies pack the same docs/tokens; bins can never beat
    the ceiling lower bound Σtokens/capacity (per shard, so the global
    bound is loose but must still hold); utilization is a proper
    fraction."""
    import math

    from star_schema_etl_airflow_spark.plans.llm_sampling import (
        PACK_CAPACITY,
        packing_eval,
    )

    rows = {r.strategy: r for r in packing_eval(spark, SF_DIR).collect()}
    assert set(rows) == {"arrival", "length_desc"}
    a, b = rows["arrival"], rows["length_desc"]
    assert (a.n_docs, a.total_tokens) == (b.n_docs, b.total_tokens)
    for r in rows.values():
        assert r.n_bins >= math.ceil(r.total_tokens / PACK_CAPACITY)
        assert 0.0 < r.utilization <= 1.0


def test_retrieval_drift_overlap_stays_high(spark):
    """With a 50/50 at-rest/delta split the frozen-stats merged list
    recovers ≥ 8/10 of every true top-10 (measured 0.9-1.0 across SFs)
    — the stats-drift approximation quantified."""
    from star_schema_etl_airflow_spark.plans.bm25 import BM25_QUERIES
    from star_schema_etl_airflow_spark.plans.retrieval_incremental import (
        retrieval_drift_eval,
    )

    rows = retrieval_drift_eval(spark, SF_DIR).collect()
    assert {r.query_id for r in rows} == {q for q, _ in BM25_QUERIES}
    for r in rows:
        assert r.overlap_frac >= 0.8, (r.query_id, r.overlap_frac)


def test_corpus_drift_psi_terms_and_stability(spark):
    """Each PSI term is non-negative (sign(p−q) == sign(ln(p/q)); the
    micro-ln rounding can introduce at most 1e-6 of negative noise),
    the even/odd split of ONE corpus must read as stable (total PSI
    < 0.1, the standard threshold), and no fixture value sits within
    1e-3 micro of the ln rounding boundary (the repo's ln-margin
    convention)."""
    import math

    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        LN_SCALE,
        corpus_drift_psi,
    )

    rows = corpus_drift_psi(spark, SF_DIR).collect()
    total = sum(r.psi_term for r in rows)
    for r in rows:
        assert r.psi_term >= -1e-6, (r.lang, r.psi_term)
        exact = math.log(
            (r.n_at / sum(x.n_at for x in rows))
            / (r.n_delta / sum(x.n_delta for x in rows))
        ) * LN_SCALE
        frac = abs(exact - math.floor(exact) - 0.5)
        assert frac > 1e-3, (r.lang, exact)
        assert r.ln_ratio_micro == round(exact)
    assert 0.0 <= total < 0.1, total
