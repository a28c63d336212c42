"""Semantic-dedup delta probe as a streaming job: delta vector batches
land as files and each micro-batch is assigned against the FROZEN
k-means codebook, compared to same-cell at-rest members, and the
verified matches folded into the persisted match table — the
arrival-driven twin of ``plans/llm_dedup2.py::semdedup_incremental``
(whose probe is itself pinned equal to the full recompute's
delta×at-rest subset).

Design notes:
- ``foreachBatch`` over a swap-published match table (the
  kmv/retrieval/ivfpq-stream pattern): the state IS the
  (delta_id, corpus_id, cluster, cosine) relation — one row per
  verified semantic duplicate, the ingest-side dedup ledger.
- Exactness of the fold: a delta vector's matches are PER-VECTOR PURE
  given the frozen (codebook, at-rest members) inputs — they never
  depend on what else was in its batch — so the folded state equals
  the one-shot probe of everything ever ingested under ANY batching,
  and re-delivery adds only byte-identical rows, which ``distinct``
  collapses (naturally idempotent, like the IVFADC code fold and
  UNLIKE the additive drift counts — no batch-id guard needed).
- Publish is the shared rename-aside swap with ``recover_swap``
  adoption at the top of each micro-batch.
- At 100 TB: per batch one batch-sized assign against the broadcast
  codebook plus a cell-equi-join against the at-rest member table
  (partitioned by cell at deployment).  Per-cell occupancy — and so
  per-delta-vector probe cost — stays flat when the cluster count
  grows with the corpus, the SemDeDup operating point measured in
  ``tools/semdedup_curve.py`` (K∝n ⇒ pair volume exponent +1.00,
  max cell flat; K fixed ⇒ +2.00).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.functions.vecexpr import unrolled_dot
from star_schema_etl_airflow_spark.operators.kmeans import assign_clusters
from star_schema_etl_airflow_spark.plans.llm_dedup2 import (
    _EMB_DIM,
    SEM_COS_DECIMALS,
    SEM_COS_THRESHOLD,
)
from star_schema_etl_airflow_spark.sources.io import (
    _target_exists,
    recover_swap,
    write_swap,
)

MATCH_SCHEMA = "delta_id long, corpus_id long, cluster long, cosine double"


def probe_batch(batch: DataFrame, codebook: DataFrame,
                at_rest: DataFrame) -> DataFrame:
    """Verified same-cell matches of a delta batch against the frozen
    at-rest members — byte-identical arithmetic to the batch probe
    (``semdedup_incremental``)."""
    norm = f"sqrt({unrolled_dot('embedding', 'embedding', _EMB_DIM)})"
    a = (
        batch.select("vec_id", "embedding")
        .join(assign_clusters(batch, codebook, dim=_EMB_DIM), "vec_id")
        .withColumn("__norm", F.expr(norm))
        .alias("a")
    )
    b = at_rest.alias("b")
    dot = unrolled_dot("a.embedding", "b.embedding", _EMB_DIM)
    cos = f"round(({dot}) / (a.__norm * b.__norm), {SEM_COS_DECIMALS})"
    return (
        a.join(b, F.col("a.cluster") == F.col("b.cluster"))
        .filter(F.expr(cos) >= SEM_COS_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("delta_id"),
            F.col("b.vec_id").alias("corpus_id"),
            F.col("a.cluster").cast("long").alias("cluster"),
            F.expr(cos).alias("cosine"),
        )
    )


def merge_matches(existing: DataFrame | None,
                  delta_matches: DataFrame) -> DataFrame:
    """state ∪ delta — idempotent because the probe is per-vector pure
    under frozen artifacts (re-delivered vectors produce byte-identical
    match rows).

    Only the DELTA is deduplicated (distinct + left-anti against the
    standing keys): ``existing`` is distinct by this function's own
    invariant, and (delta_id, corpus_id) determines (cluster, cosine)
    deterministically, so the anti-join equals the old full
    ``union.distinct()`` without shuffling the whole accumulated state
    every micro-batch — under a long availableNow drain the per-batch
    shuffle is delta-sized, not state-sized.  The swap publish still
    REWRITES the state files (atomicity of the ledger); at deployment
    scale the ledger would be partitioned (e.g. by cluster band) so the
    rewrite appends new partitions instead — the O(batches × state)
    write amplification is a limitation of the fixture-scale publish,
    not of the fold."""
    fresh = delta_matches.distinct()
    if existing is None:
        return fresh
    return existing.unionByName(
        fresh.join(existing.select("delta_id", "corpus_id"),
                   ["delta_id", "corpus_id"], "left_anti")
    )


def run_semdedup_stream(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    source_schema,
    codebook: DataFrame,
    at_rest: DataFrame,
) -> DataFrame:
    """Consume all pending delta vector files (availableNow, one file
    per micro-batch), probing each against the frozen (codebook,
    at-rest members) and folding verified matches into the persisted
    state; returns the final match relation.  ``at_rest`` must carry
    (vec_id, embedding, cluster, __norm) — the standing member table
    the batch probe derives once."""

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        recover_swap(state_path)
        existing = (
            spark.read.parquet(state_path)
            if _target_exists(state_path, spark)
            else None
        )
        matches = probe_batch(batch_df, codebook, at_rest)
        write_swap(merge_matches(existing, matches), state_path)

    query = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", state_path.rstrip("/") + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not _target_exists(state_path, spark):
        return spark.createDataFrame([], MATCH_SCHEMA)
    return spark.read.parquet(state_path)
