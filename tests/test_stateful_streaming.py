"""Stateful streaming ops (streaming/stateful.py): cross-micro-batch
semantics driven through a real file-source streaming query, two
explicit micro-batches."""

from __future__ import annotations

import os

import pytest

from finding_similar_high_dimensional_items_for_big_data_sets_spark.streaming import stateful

@pytest.fixture()
def stream_dirs(tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    return src, ckpt


def test_running_topk_improves_across_microbatches(spark, stream_dirs):
    src, ckpt = stream_dirs
    scored_schema = "query_id long, doc_id long, score double"
    spark.createDataFrame(
        [(1, 100, 0.5), (1, 101, 0.9), (1, 102, 0.7)], scored_schema
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")

    stream = spark.readStream.schema(scored_schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src + "/*")
    q = (
        stateful.running_topk(stream, k=2)
        .writeStream.format("memory")
        .queryName("topk_t")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        latest = {
            r["rank"]: r["doc_id"]
            for r in spark.sql(
                "select * from topk_t"
            ).collect()
        }
        assert latest == {1: 101, 2: 102}

        # batch 2: a better candidate arrives -> refreshed top-2
        spark.createDataFrame([(1, 103, 0.95)], scored_schema).coalesce(
            1
        ).write.mode("overwrite").parquet(src + "/b2")
        q.processAllAvailable()
        rows = spark.sql("select * from topk_t").collect()
        # memory sink in update mode appends refreshed rows; the LAST
        # emission for query 1 is the current truth
        assert {r["rank"]: r["doc_id"] for r in rows[-2:]} == {1: 103, 2: 101}
    finally:
        q.stop()
