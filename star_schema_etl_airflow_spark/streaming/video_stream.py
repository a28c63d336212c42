"""Video temporal near-dup probe as a streaming job: delta video
descriptors land as files and each micro-batch is frame-hashed,
shingled, and probed against the FROZEN at-rest shingle index, with
verified matches folded into the persisted match table — the
arrival-driven twin of ``plans/video_dedup.py::video_dedup_incremental``.

Design notes (the ``semdedup_stream`` conventions):

- ``foreachBatch`` over a swap-published match table; the state IS the
  (delta_id, corpus_id, n_shared, sim) relation — one row per verified
  temporal near-dup, the ingest-side dedup ledger.
- Exactness of the fold: a delta video's matches are PER-VIDEO PURE
  given the frozen (at-rest shingle index, at-rest sizes) inputs — its
  own shingle set and the Jaccard depend on nothing else in its batch
  — so the folded state equals the one-shot probe of everything ever
  ingested under ANY batching, and re-delivery adds only
  byte-identical rows (distinct-idempotent; no batch-id guard needed,
  unlike the additive drift counts).
- Only the DELTA is deduplicated per batch (distinct + left-anti
  against standing keys — the r16 semdedup_stream advice fix), so a
  long drain's per-batch shuffle is delta-sized, not state-sized.
- At 100 TB: per batch one Arrow map-only hash pass over the batch's
  frames plus one shingle-keyed join against the standing inverted
  index (at deployment: bucketed by shingle so the probe co-locates);
  per-shingle occupancy is flat under the corpus-derived base count
  (``tools/video_curve.py``), bounding every bucket the probe touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.video_dedup import (
    SIM_DECIMALS,
    VSEQ_SIM,
    _delta_frame_hash_kernel,
    _shingles_of,
)
from star_schema_etl_airflow_spark.sources.io import (
    _target_exists,
    recover_swap,
    write_swap,
)
# state ∪ delta with delta-only dedup on the (delta_id, corpus_id)
# keys: the ledger fold is IDENTICAL to the semantic-dedup stream's
# (same key columns, same per-item purity argument), so it is shared
# rather than re-implemented (r16 self-review finding)
from star_schema_etl_airflow_spark.streaming.semdedup_stream import (
    merge_matches,
)

__all__ = ["MATCH_SCHEMA", "merge_matches", "probe_batch",
           "run_video_stream"]

MATCH_SCHEMA = ("delta_id long, corpus_id long, n_shared long, "
                "sim double")


def probe_batch(batch: DataFrame, at_rest_sh: DataFrame,
                at_rest_sizes: DataFrame, base_mod: int) -> DataFrame:
    """Verified matches of a delta batch (source doc_id rows) against
    the frozen at-rest shingle index — byte-identical arithmetic to
    the batch probe (``video_dedup_incremental``)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("f", T.IntegerType()),
        T.StructField("h", T.StringType()),
    ])
    frames = batch.select("doc_id").mapInPandas(
        _delta_frame_hash_kernel(base_mod), schema=schema
    )
    delta = _shingles_of(frames).localCheckpoint()
    nd = delta.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nd"))
    d, c = delta.alias("d"), at_rest_sh.alias("c")
    cand = (
        d.join(c, F.col("d.shingle") == F.col("c.shingle"))
        .groupBy(
            F.col("d.doc_id").alias("delta_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        cand
        .join(nd.select(F.col("doc_id").alias("delta_id"), "nd"),
              "delta_id")
        .join(at_rest_sizes.select(F.col("doc_id").alias("corpus_id"),
                                   "nc"),
              "corpus_id")
        .select(
            "delta_id", "corpus_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("nd") + F.col("nc") - F.col("n_shared"))
                .cast("double"),
                SIM_DECIMALS,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= VSEQ_SIM)
    )


def run_video_stream(
    spark: SparkSession,
    landing_dir: str,
    state_path: str,
    source_schema,
    at_rest_sh: DataFrame,
    at_rest_sizes: DataFrame,
    base_mod: int,
) -> DataFrame:
    """Consume all pending delta descriptor files (availableNow, one
    file per micro-batch), probing each against the frozen at-rest
    shingle index and folding verified matches into the persisted
    state; returns the final match relation."""
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
        matches = probe_batch(
            batch_df, at_rest_sh, at_rest_sizes, base_mod
        )
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
