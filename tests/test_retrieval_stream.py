"""Streaming retrieval-list maintenance (streaming/retrieval_stream.py):
the stream fold over delta batches must equal the one-shot batch probe
(plans/retrieval_incremental.py) over all delta rows, regardless of
batching, and at-least-once re-delivery must be a no-op."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from star_schema_etl_airflow_spark.functions.caching import persist_once
from star_schema_etl_airflow_spark.plans.bm25 import (
    bm25_query_index,
    bm25_score_with_index,
)
from star_schema_etl_airflow_spark.plans.retrieval_incremental import (
    _topk,
    bm25_delta_probe,
)
from star_schema_etl_airflow_spark.streaming.retrieval_stream import (
    merge_topk,
    run_retrieval_stream,
)

SRC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

# at-rest corpus: enough term coverage that every query has standing hits
AT_REST = [
    (100, "vector hash merge table row"),
    (102, "stream window join batch"),
    (104, "customer query filter scan"),
    (106, "vector vector hash sort"),
    (108, "window join stream stream merge"),
]
# delta batches arriving over three days; doc 3 re-crawled on day 3
BATCHES = [
    [(1, "vector hash merge merge fast"), (3, "stream window join line")],
    [(5, "customer query filter filter"), (7, "hash hash vector slow")],
    [(3, "stream window join line"), (9, "merge stream window query")],
]


def _at_rest_artifacts(spark):
    at_rest = spark.createDataFrame(AT_REST, SRC_SCHEMA)
    qidf = persist_once(bm25_query_index(spark, at_rest))
    at_topk = persist_once(
        _topk(bm25_score_with_index(at_rest, qidf))
        .select("query_id", "doc_id", "score")
    )
    return qidf, at_topk


def _stage(spark, tmp_path, batches, name="landing"):
    landing = str(tmp_path / name)
    os.makedirs(landing)
    for i, rows in enumerate(batches):
        staging = str(tmp_path / f"stage_{name}_{i}")
        spark.createDataFrame(rows, SRC_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = next(
            f for f in os.listdir(staging)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        os.rename(
            os.path.join(staging, part),
            os.path.join(landing, f"batch_{i}.parquet"),
        )
    return landing


def _same(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_stream_fold_equals_batch_probe(spark, tmp_path):
    qidf, at_topk = _at_rest_artifacts(spark)
    landing = _stage(spark, tmp_path, BATCHES)
    # seed the standing state with the at-rest lists, as a deployment
    # would after its last full pass
    from star_schema_etl_airflow_spark.sources.io import write_swap

    state = str(tmp_path / "state")
    write_swap(at_topk, state)
    got = run_retrieval_stream(spark, landing, state, SRC_SCHEMA, qidf)

    all_delta = spark.createDataFrame(
        sorted({r for b in BATCHES for r in b}), SRC_SCHEMA
    )
    want = bm25_delta_probe(all_delta, qidf, at_topk).select(
        "query_id", "doc_id", F.col("score").cast("double").alias("score")
    )
    assert _same(
        got.select("query_id", "doc_id",
                   F.col("score").cast("double").alias("score")),
        want,
    )


def test_batching_independence(spark, tmp_path):
    qidf, at_topk = _at_rest_artifacts(spark)
    from star_schema_etl_airflow_spark.sources.io import write_swap

    all_rows = [sorted({r for b in BATCHES for r in b})]
    s_one = str(tmp_path / "state_one")
    write_swap(at_topk, s_one)
    one = run_retrieval_stream(
        spark, _stage(spark, tmp_path, all_rows, "landing_all"),
        s_one, SRC_SCHEMA, qidf,
    )
    s_three = str(tmp_path / "state_three")
    write_swap(at_topk, s_three)
    three = run_retrieval_stream(
        spark, _stage(spark, tmp_path, BATCHES, "landing_three"),
        s_three, SRC_SCHEMA, qidf,
    )
    assert _same(one, three)


def test_redelivery_is_a_noop(spark, tmp_path):
    qidf, at_topk = _at_rest_artifacts(spark)
    from star_schema_etl_airflow_spark.sources.io import write_swap

    state = str(tmp_path / "state")
    write_swap(at_topk, state)
    run_retrieval_stream(
        spark, _stage(spark, tmp_path, BATCHES), state, SRC_SCHEMA, qidf
    )
    before = spark.read.parquet(state).collect()
    batch0 = spark.createDataFrame(BATCHES[0], SRC_SCHEMA)
    merged = merge_topk(
        spark.read.parquet(state), bm25_score_with_index(batch0, qidf)
    )
    after = merged.collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_each_query_list_is_k_bounded_and_ranked(spark, tmp_path):
    from star_schema_etl_airflow_spark.plans.bm25 import TOP_K

    qidf, at_topk = _at_rest_artifacts(spark)
    from star_schema_etl_airflow_spark.sources.io import write_swap

    state = str(tmp_path / "state")
    write_swap(at_topk, state)
    got = run_retrieval_stream(
        spark, _stage(spark, tmp_path, BATCHES), state, SRC_SCHEMA, qidf
    ).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == {1, 2, 3}
    for q, rows in per_q.items():
        assert len(rows) <= TOP_K
        assert len({r.doc_id for r in rows}) == len(rows)


def test_empty_landing_dir_yields_empty_lists(spark, tmp_path):
    """Zero micro-batches published: the drain must return an empty
    top-k relation with the list schema, not throw on a missing
    parquet path."""
    import os as _os

    landing = str(tmp_path / "landing")
    _os.makedirs(landing)
    state = run_retrieval_stream(
        spark, landing, str(tmp_path / "state"), SRC_SCHEMA,
        _at_rest_artifacts(spark)[0],
    )
    assert state.count() == 0
    assert [f.name for f in state.schema.fields] == [
        "query_id", "doc_id", "score"
    ]
