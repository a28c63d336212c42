"""Distribution-drift monitoring as a streaming job: delta document
batches land as files and each micro-batch's per-language counts fold
additively into the persisted delta-count table — the arrival-driven
twin of ``plans/corpus_drift.py`` (whose PSI core the final statistic
reuses verbatim).

Design notes:
- ``foreachBatch`` over a swap-published counts table (the
  kmv/retrieval-stream pattern): the state IS the per-bucket count
  relation — languages-sized FOREVER, the smallest state of any twin in
  the repo.  The fold is counting-IVM addition (insert-only here; the
  retraction-capable algebra is ``operators/ivm.py``).
- Exactness: counts are integers, addition is associative — the folded
  state equals the batch groupBy of everything ever ingested under any
  batching (pinned in ``tests/test_drift_stream.py``), so the PSI
  computed from it is bit-identical to the batch monitor's.
- Publish is the shared rename-aside swap with ``recover_swap``
  adoption; re-delivery is NOT naturally idempotent for additive counts
  (unlike the bottom-K/top-k folds), so the micro-batch id rides the
  state and already-applied batches are skipped — the standard
  transactional-sink trick foreachBatch documentation prescribes.
- At 100 TB: per batch one batch-sized count aggregation + a
  languages-sized merge; the monitor reads the state table and the
  at-rest snapshot — never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.sources.io import (
    _target_exists,
    recover_swap,
    write_swap,
)


def merge_counts(existing: DataFrame | None, delta: DataFrame,
                 batch_id: int, key_col: str = "lang",
                 run_id: str | None = None) -> DataFrame | None:
    """Additive fold of a batch's (lang, n) counts, tagged with the
    max applied batch id and the stream run id.  Returns None when the
    batch was already applied (at-least-once re-delivery).

    Re-delivery discipline: availableNow + maxFilesPerTrigger processes
    batches sequentially, so the ONLY batch the engine can legitimately
    re-deliver is the high-water mark itself (the one whose fold may
    have failed mid-publish).  ``batch_id == hwm`` → skip (exact
    re-delivery); ``batch_id < hwm`` → the checkpoint was lost/rebuilt
    (ids restarted) against a surviving state table, and silently
    skipping would corrupt counts — fail loudly instead.

    ``run_id`` (the streaming query id persisted in the checkpoint's
    ``metadata`` file — stable across restarts of the SAME checkpoint,
    fresh on a rebuilt one) closes the hole ``batch_id < hwm`` cannot
    see (ADVICE r14): a rebuilt checkpoint restarting at batch 0
    against a surviving state whose high-water mark is ALSO 0 would
    land in the skip branch and silently drop the first real batch.
    With run ids, ``batch_id == hwm`` under a DIFFERENT run id raises
    instead of skipping.  States written before the column existed
    carry no run id and keep the legacy skip behavior."""
    delta = delta.select(
        key_col, "n", F.lit(batch_id).alias("max_batch"),
        F.lit(run_id).cast("string").alias("run_id"),
    )
    if existing is None:
        return delta
    if "run_id" not in existing.columns:   # pre-upgrade state table
        existing = existing.withColumn(
            "run_id", F.lit(None).cast("string"))
    hwm, stored_run = existing.agg(
        F.max("max_batch"), F.max("run_id")).first()
    if hwm is not None and batch_id == hwm:
        if run_id is not None and stored_run is not None \
                and run_id != stored_run:
            raise ValueError(
                f"drift-stream state at high-water batch {hwm} was "
                f"written by stream run {stored_run} but batch "
                f"{batch_id} arrived from run {run_id}: the checkpoint "
                "was rebuilt against a surviving state table — refusing "
                "to fold (delete the state table or restore the "
                "checkpoint)"
            )
        return None   # exact re-delivery of the last applied batch
    if hwm is not None and batch_id < hwm:
        raise ValueError(
            f"drift-stream state at high-water batch {hwm} but received "
            f"batch {batch_id}: checkpoint was lost/rebuilt against a "
            "surviving state table — refusing to fold (delete the state "
            "table or restore the checkpoint)"
        )
    return (
        existing.unionByName(delta)
        .groupBy(key_col)
        .agg(F.sum("n").alias("n"), F.max("max_batch").alias("max_batch"),
             F.max("run_id").alias("run_id"))
    )



def _checkpoint_query_id(ckpt_dir: str) -> str | None:
    """The streaming query id Structured Streaming persists in the
    checkpoint's ``metadata`` file at stream start — stable across
    restarts of the SAME checkpoint, freshly generated for a rebuilt
    one, which makes it the run identity the fold's lost-checkpoint
    guard compares.  None when unreadable (non-local checkpoint or
    pre-start call): the guard then degrades to batch-id-only."""
    import json
    import os

    path = os.path.join(ckpt_dir, "metadata")
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


def run_drift_stream(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    source_schema,
    key_col: str = "lang",
) -> DataFrame:
    """Consume all pending delta files (availableNow, one file per
    micro-batch), folding per-``key_col`` counts into the persisted
    state; returns the final (key, n, max_batch) counts.  ``key_col``
    is the monitored bucket: the language for the PSI twin (default),
    a numeric property (``n_chars``) for the KS twin — the fold is the
    same counting-IVM addition either way."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    ckpt = state_path.rstrip("/") + "_ckpt"

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        recover_swap(state_path)
        existing = (
            spark.read.parquet(state_path)
            if _target_exists(state_path, spark)
            else None
        )
        delta = batch_df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
        merged = merge_counts(existing, delta, batch_id, key_col,
                              run_id=_checkpoint_query_id(ckpt))
        if merged is not None:
            write_swap(merged, state_path)

    query = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    if not _target_exists(state_path, spark):
        # zero micro-batches (or all empty): no state was ever
        # published — an empty counts relation, not a read error
        key_field = next(
            f for f in source_schema.fields if f.name == key_col
        )
        return spark.createDataFrame(
            [],
            T.StructType([
                key_field,
                T.StructField("n", T.LongType()),
                T.StructField("max_batch", T.LongType()),
                T.StructField("run_id", T.StringType()),
            ]),
        )
    return spark.read.parquet(state_path)


def psi_against(at_counts: DataFrame, state: DataFrame) -> DataFrame:
    """PSI rows of the streamed delta state vs the at-rest snapshot —
    delegates to the batch monitor's statistic core, so stream and
    batch monitors are definitionally identical.  Full-outer join with
    zero-fill: a language present on only one side (the strongest drift
    signal) keeps its zero-count bucket exactly as the batch monitor's
    single groupBy does, so totals and shares match the batch monitor
    bucket-for-bucket; the smoothed PSI core makes the one-sided term
    finite."""
    from star_schema_etl_airflow_spark.plans.corpus_drift import psi_terms

    counts = (
        at_counts.select("lang", F.col("n").alias("n_at"))
        .join(state.select("lang", F.col("n").alias("n_delta")),
              "lang", "full_outer")
        .select(
            "lang",
            F.coalesce("n_at", F.lit(0)).alias("n_at"),
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
        )
    )
    return psi_terms(counts)


def ks_against(at_counts: DataFrame, state: DataFrame) -> DataFrame:
    """KS statistic of the streamed numeric-bucket state vs the at-rest
    snapshot — delegates to the batch monitor's statistic core
    (``plans/corpus_drift.ks_statistic``), full-outer zero-fill like
    :func:`psi_against` so a length present on only one side keeps its
    bucket (zero counts contribute a flat CDF step, exactly as the
    batch monitor's single groupBy produces)."""
    from star_schema_etl_airflow_spark.plans.corpus_drift import (
        ks_statistic,
    )

    counts = (
        at_counts.select("n_chars", F.col("n").alias("c_at"))
        .join(state.select("n_chars", F.col("n").alias("c_delta")),
              "n_chars", "full_outer")
        .select(
            "n_chars",
            F.coalesce("c_at", F.lit(0)).alias("c_at"),
            F.coalesce("c_delta", F.lit(0)).alias("c_delta"),
        )
    )
    return ks_statistic(counts)
