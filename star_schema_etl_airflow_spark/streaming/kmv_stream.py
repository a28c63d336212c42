"""KMV sketch maintenance as a streaming job: ingest batches land as
files and each micro-batch's sketch is merged into the persisted
per-source sketch table — the arrival-driven twin of
``plans/kmv_overlap.py::kmv_incremental_merge``.

Design notes:
- ``foreachBatch`` over state-store state: the sketch IS the state, it
  is bottom-K-bounded (sources × K rows forever), and downstream
  consumers (the pairwise-overlap estimates) want it as a queryable
  table, not stream state.  Merge = union with the batch's sketch →
  re-take bottom-K per source — the KMV mergeability property, so the
  folded sketch is EXACTLY the sketch of all rows ever ingested
  (order- and batching-independent; pinned against the batch operator
  in ``tests/test_kmv_stream.py``).
- The publish is the shared rename-aside swap (``sources/io.py::
  _swap_publish``): parquet lands in a temp sibling, the old sketch is
  renamed aside, the sibling renamed in, the aside deleted — a complete
  sketch exists at EVERY instant, and ``recover_swap`` at the top of
  each micro-batch adopts the sibling/aside after a mid-publish crash
  instead of silently rebuilding from one batch.  Re-delivery of a
  batch is a no-op by idempotence of ∪-then-bottom-K.
- At 100 TB the sketch table stays sources×K rows no matter how much
  lands; each micro-batch pays one batch-sized scan and a
  sketch-sized merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from star_schema_etl_airflow_spark.plans.kmv_overlap import (
    K,
    kmv_sketches,
)
from star_schema_etl_airflow_spark.sources.io import (
    _target_exists,
    recover_swap,
    write_swap,
)


def merge_sketches(existing: DataFrame | None, delta_sig: DataFrame) -> DataFrame:
    """bottom-K(existing ∪ delta) per source; ``existing`` may be None
    (day 0).  Idempotent: merging the same delta twice is a no-op."""
    sig = (
        delta_sig if existing is None
        else existing.unionByName(delta_sig).distinct()
    )
    w = Window.partitionBy("source").orderBy(F.col("h").asc())
    return (
        sig.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .select("source", "h")
    )



def run_kmv_stream(
    spark: SparkSession,
    landing_dir: str,
    sketch_path: str,
    source_schema,
) -> DataFrame:
    """Consume all pending ingest files (availableNow, one file per
    micro-batch), folding each batch's sketch into the persisted sketch
    table; returns the final sketch."""
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # explicit existence check, not a broad except (the dedup_stream
        # rationale: a transient read error must fail the micro-batch
        # and retry, not silently restart the sketch from scratch); a
        # crash mid-publish leaves the target missing but a complete
        # copy in a sibling — adopt it, never rebuild from one batch
        recover_swap(sketch_path)
        existing = (
            spark.read.parquet(sketch_path)
            if _target_exists(sketch_path, spark)
            else None
        )
        delta_sig = kmv_sketches(spark, batch_df.select("source", "text"))
        write_swap(merge_sketches(existing, delta_sig), sketch_path)

    query = (
        stream.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", sketch_path.rstrip("/") + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.read.parquet(sketch_path)
