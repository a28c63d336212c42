"""Generate PLANS.md: the formatted physical plan of every headline query
plus a one-line structural summary (shuffle count, join strategies,
pushed filters) — the ".explain and iterate" evidence trail.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# Queries whose plan shape carries the 100 TB story (headline bench set
# plus the structurally interesting non-headline shapes).
EXTRA = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q8_market_share",
    "q21_waiting_suppliers",
    "quality_percentile_gate",
    "quality_gate_approx",
    "dedup_prefix_join",
    "dedup_canonical",
    "embed_ann_ivf_trained",
    "embed_quantize_int8",
    "pagerank_trade_graph",
    "q11_important_stock",
    "cap_per_source",
    "ivm_sales_summary",
    "chunk_documents",
    "dedup_lines",
    "dedup_incremental",
    "semdedup",
    "nb_classify",
    "tfidf_topk_pairs",
    "graph_triangles",
    "skip_pruned_scan",
    "decontam_spans",
    "k_anonymity_audit",
    "basket_pairs",
    "basket_rules",
    "lat1_top2_per_order",
    "pudf_weighted_median",
    "udtf_token_lines",
    "pyds_synthetic_events",
    "upv1_unpivot",
    "fn_variant_census",
    "curation_pipeline_v2",
    "bm25_topk",
    "fuzzy_edit_join",
    "multimodal_decoded",
    "dsir_select",
    "pq_adc_topk",
    "leakage_safe_split",
    "unimax_sample",
    "dedup_substring_spans",
    "dedup_substring_excised",
    "video_frames",
    "embed_jl_topk",
    "embed_jl_rerank",
    "image_patches",
    "curation_pipeline_v5",
    "ngram_lm_score",
    "dedup_substring_incremental",
    "sqlfile_fact_orders",
    "sqlfile_dim_customers",
    "flac_decoded",
    # round-12 structural shapes
    "retrieval_ql_topk",
    "retrieval_rrf",
    "retrieval_eval",
    "kmv_source_overlap",
    "kmv_incremental_merge",
    "zorder_skip_stats",
    "doc_winnow_overlap",
    "doc_winnow_spans",
    "image_knn_dhash",
    "curation_multimodal_clusters",
    # round-13 structural shapes
    "embed_ivfpq_topk",
    "embed_ivfpq_rerank",
    "hard_negatives",
    "curriculum_order",
    "gdpr_erasure_cascade",
    "dedup_eval",
    "kmv_source_cardinality",
    "mixture_temperature",
    "retrieval_incremental",
    "dedup_eval_banding",
    "ivfpq_eval",
    "events_holt_forecast",
    "graph_communities",
    "community_modularity",
    "curation_pipeline_v6",
    "profile_documents",
    "embed_ivfpq_trained",
    "simhash_eval",
    "forecast_eval",
    "packing_eval",
    # round-14 structural shapes
    "bpe_encode_census",
    "dedup_clusters_bigstar",
    "embed_ivfpq_opq",
    "ivfpq_variant_eval",
    "corpus_drift_psi_onesided",
    "curriculum_stage_agreement",
    "doremi_mixture_weights",
    "rho_loss_select",
    "corpus_drift_ks",
    "softdedup_weights",
    "embed_ivfpq_opq_incremental",
    # round-15 structural shapes
    "semdedup_eval",
    "drift_gate_ks",
    "curation_pipeline_v7",
    "unigram_train",
    "unigram_encode_census",
]


def runtime_count(plan: str, needle: str) -> int:
    """Occurrences of ``needle`` that actually execute, counting each
    persisted subtree ONCE: the printed tree re-inlines an
    ``InMemoryRelation``'s child plan at every consumer, but at runtime
    the cache materializes a single time — so a naive
    ``plan.count(needle)`` over-states cached plans (this is exactly how
    the r6 ngram_lm 4-scan plan and its 1-scan fix would print the same
    without this dedup, and how the r7 substring-dedup persist inflated
    the raw Exchange pins without adding a runtime shuffle)."""
    outside, caches = _scan_tree(plan.splitlines(), needle, {})
    return outside + sum(caches.values())


def _scan_tree(lines: list[str], needle: str,
               caches: dict[str, int]) -> tuple[int, dict[str, int]]:
    """Count ``needle`` outside caches; record each DISTINCT cache
    subtree's count once in ``caches``.  Recurses into cache subtrees so
    a cache NESTED inside another cache (e.g. the persisted span
    relation built on the persisted corpus) is still deduped globally
    instead of being re-counted inside every outer cache's text."""
    outside = 0
    i = 0
    while i < len(lines):
        line = lines[i]
        ind = re.match(r"^[\s:+\-]*", line).end()
        if "InMemoryRelation" in line:
            j = i + 1
            raw: list[str] = []
            sub: list[str] = []
            while j < len(lines):
                ind2 = re.match(r"^[\s:+\-]*", lines[j]).end()
                if ind2 <= ind:
                    break
                raw.append(lines[j])
                # normalize away the tree-drawing prefix (depth-varying)
                # and expression ids so the same cache keys equal
                sub.append(re.sub(
                    r"#\d+", "#",
                    re.sub(r"^[\s:+\-]+", "", lines[j]),
                ))
                j += 1
            key = "\n".join(sub)
            if key not in caches:
                # placeholder first (guards against pathological
                # self-reference), then the recursive count: needles
                # inside an inner cache land in `caches` under the
                # inner key, not in this subtree's own tally
                caches[key] = 0
                inner_outside, _ = _scan_tree(raw, needle, caches)
                caches[key] = inner_outside
            i = j
            continue
        if needle in line:
            outside += 1
        i += 1
    return outside, caches


def runtime_parquet_scans(plan: str) -> int:
    """Cache-deduped count of parquet scans that execute at runtime."""
    return runtime_count(plan, "Scan parquet")


def runtime_exchanges(plan: str) -> int:
    """Cache-deduped count of Exchange (shuffle) operators that execute
    at runtime — use this, not ``plan.count("Exchange")``, for shuffle
    pins on plans containing ``.persist()`` boundaries."""
    return runtime_count(plan, "Exchange")


def summarize(plan: str) -> str:
    shuffles = len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan
    ))
    joins: dict[str, int] = {}
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        n = plan.count(f"{j} ")
        if n == 0:
            n = plan.count(f"* {j}") + plan.count(f"+- {j}") + plan.count(f":- {j}")
        if n:
            joins[j] = n
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    runtime = runtime_parquet_scans(plan)
    # executed plans tag whole-stage-codegen spans as "*(n) Operator"
    codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
    parts = [f"{shuffles} shuffle(s)", f"{runtime} runtime parquet scan(s)"]
    if joins:
        parts.append(", ".join(f"{k}×{v}" for k, v in sorted(joins.items())))
    if pushed:
        parts.append(f"{pushed} scan(s) with pushed filters")
    parts.append(f"{codegen} codegen span(s)")
    return "; ".join(parts)


def main() -> int:
    from star_schema_etl_airflow_spark import registry
    from star_schema_etl_airflow_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE-wrapped initial plans hide whole-stage-codegen annotations (they
    # only appear on the finalized plan post-execution).  The audit shows
    # the static plan: codegen spans visible, broadcasts still explicit
    # (none of the headline queries relies on AQE for join selection —
    # AQE is ON in production for runtime re-plan/skew, see session.py).
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    specs = registry.specs()
    # Iterative operators (k-means, PageRank) truncate lineage with
    # localCheckpoint each round, so their final plan is an opaque RDD
    # scan — the meaningful per-round plans are pinned in their module
    # docstrings/tests instead.
    ITERATIVE = {"kmeans_assign", "pagerank_trade_graph", "dedup_clusters"}
    chosen = [s for s in specs
              if (s.headline or s.name in EXTRA) and s.name not in ITERATIVE]

    print("# PLANS.md — physical plans of the headline surface")
    print()
    print(f"Generated by `tools/plan_audit.py` at `{SF_DIR}`; regenerate after")
    print("any plan-affecting change.  Structural pins for these shapes live")
    print("in `tests/test_plans.py` (this file is the human-readable twin).")
    print()
    print("Reading note: queries that persist an intermediate "
          "(`InMemoryRelation`) print the cached subtree inline at every "
          "consumer, so the summary's shuffle/join counts OVER-state those "
          "plans — at runtime the cached branch executes once.")
    for s in chosen:
        df = s.fn(spark, SF_DIR)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        exec_plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n## {s.name}\n")
        print(f"**Summary:** {summarize(exec_plan)}\n")
        print("```")
        # keep the operator tree; drop the verbose per-node field dumps
        tree = formatted.split("\n\n")[0]
        print(tree.rstrip())
        print("```")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
