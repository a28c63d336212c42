"""Registry of oracle-checked queries — the driver contract's backing store.

Each :class:`QuerySpec` couples a PySpark query builder ``(spark, sf_dir) ->
DataFrame`` with the equivalent ANSI SQL the DuckDB oracle runs over the same
parquet fixtures.  ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this list; ``bench.py`` runs the ``headline`` subset.

Column-name parity rule: the driver sorts columns by name before hashing, so
every computed column is aliased identically on both sides.  Float parity
rule: money sums go through DECIMAL(18,2) on both sides (see
``functions.scalars.sum_money``) so values are bit-identical regardless of
partitioning/order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None  # None → driver records rows-only check
    headline: bool = False     # included in bench.py
    tags: tuple[str, ...] = field(default_factory=tuple)  # SURVEY §2 operator ids


_SPECS: list[QuerySpec] = []


def register(spec: QuerySpec) -> QuerySpec:
    if any(s.name == spec.name for s in _SPECS):
        raise ValueError(f"duplicate query name {spec.name!r}")
    _SPECS.append(spec)
    return spec


def specs() -> list[QuerySpec]:
    _ensure_loaded()
    return list(_SPECS)


def queries() -> dict[str, QueryFn]:
    return {s.name: s.fn for s in specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in specs() if s.oracle is not None}


_loaded = False


def _ensure_loaded() -> None:
    """Import every module that registers specs (idempotent)."""
    global _loaded
    if _loaded:
        return
    from star_schema_etl_airflow_spark.plans import (  # noqa: F401
        analytics_queries,
        anomaly,
        approx_queries,
        audio_dedup,
        bm25,
        bpe_queries,
        clustering_queries,
        contrastive,
        core_queries,
        corpus_drift,
        curriculum,
        curation_clusters,
        curation_multimodal,
        dedup_eval,
        doremi,
        dsir,
        events_queries,
        fixture_queries,
        fuzzy_join,
        governance_queries,
        image_dedup,
        ivfpq,
        ivfpq_opq,
        ivm_queries,
        jl_projection,
        kmeans_scalable,
        kmv_overlap,
        llm_decontam,
        llm_dedup,
        llm_dedup2,
        llm_pipeline,
        llm_pipeline2,
        llm_pipeline5,
        llm_pipeline6,
        llm_pipeline7,
        unigram_queries,
        video_dedup,
        llm_quantize,
        llm_sampling,
        llm_similarity,
        llm_text,
        multimodal_queries,
        ngram_lm,
        operators_basic,
        oph,
        pq,
        pudf_queries,
        ql_retrieval,
        retrieval_eval,
        retrieval_incremental,
        scan_pruning,
        sketches,
        spark4_features,
        sql_queries,
        sqlfiles,
        subquery_queries,
        substring_queries,
        text_classify,
        unimax,
        winnow,
        zorder_layout,
        timeseries,
        tpch_queries,
        tpch_queries2,
        tpch_queries3,
    )

    _loaded = True
