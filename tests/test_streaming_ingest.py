"""Ingest dedup, batch by batch: each arriving batch is deduped against
the persisted content-hash history (``incremental_exact_dedup``) and
within itself, its survivors' hashes are appended to the history, and
the survivors can be indexed — so a later batch repeating an earlier
batch's text is dropped as a history duplicate."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    portable_hash64,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import dedup, lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

SCHEMA = "doc_id long, text string"


def _hashed(df):
    return df.select(
        "doc_id",
        portable_hash64(dedup.normalize_text(F.col("text"))).alias("content_hash"),
    )


def _fresh_table(spark, name):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:") + f"/{name}",
        ignore_errors=True,
    )


def _ingest(spark, batch, hist_table, index=None):
    """One ingest step: dedup ``batch`` against the history table, append
    the survivors' hashes under the table's bucket spec and, with
    ``index=(params, sigs_path, bands_table)``, append the surviving
    documents to the LSH index. Returns the surviving doc_ids."""
    kept = dedup.incremental_exact_dedup(batch, spark.table(hist_table)).collect()
    ids = {r["doc_id"] for r in kept}
    if kept:
        (
            spark.createDataFrame(kept, "doc_id long, content_hash long")
            .write.mode("append")
            .bucketBy(4, "content_hash")
            .sortBy("content_hash")
            .format("parquet")
            .saveAsTable(hist_table)
        )
        if index is not None:
            T.append_to_index(batch.filter(F.col("doc_id").isin(*ids)), *index)
    return ids


def test_stream_ingest_dedup_drops_history_and_cross_batch_dups(spark):
    base = spark.createDataFrame([(i, f"seed doc {i}") for i in range(50)], SCHEMA)
    _fresh_table(spark, "t_ingest_hist")
    T.write_content_hashes_bucketed(_hashed(base), "t_ingest_hist", num_buckets=4)
    # batch A has a history dup + fresh rows; batch B repeats one of
    # batch A's texts (a cross-batch dup) + a fresh row
    a = spark.createDataFrame(
        [(100, "brand new a"), (101, "seed doc 7"), (102, "brand new b")], SCHEMA
    )
    b = spark.createDataFrame([(200, "brand new a"), (201, "brand new c")], SCHEMA)
    try:
        kept_ids = _ingest(spark, a, "t_ingest_hist") | _ingest(spark, b, "t_ingest_hist")
        # 101 is a history dup; 200 duplicates 100 across batches
        assert kept_ids == {100, 102, 201}
        # the history absorbed exactly the kept hashes
        hist = spark.table("t_ingest_hist")
        assert hist.count() == 50 + len(kept_ids)
        assert hist.select("content_hash").distinct().count() == 50 + len(kept_ids)
        # batch parity: one-shot incremental dedup over the union gives
        # the same surviving content hashes
        expect = dedup.incremental_exact_dedup(a.unionByName(b), _hashed(base))
        got = hist.filter(F.col("doc_id") >= 100)
        assert {r["content_hash"] for r in expect.collect()} == {
            r["content_hash"] for r in got.collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ingest_hist")


def test_stream_ingest_pipeline_dedup_plus_index(spark, tmp_path):
    """The full ingest loop: batch -> dedup vs history -> index the
    survivors. The index must end probe-identical to a batch build
    over base + kept docs, holding each kept doc once."""
    params = MinHashParams()
    base = spark.createDataFrame(
        [(i, f"seed doc number {i} with words") for i in range(40)], SCHEMA
    )
    _fresh_table(spark, "t_pipe_hist")
    _fresh_table(spark, "t_pipe_idx")
    T.write_content_hashes_bucketed(_hashed(base), "t_pipe_hist", num_buckets=4)
    sigs_p = str(tmp_path / "pipe_sigs")
    base_sigs = minhash.signatures(base, params)
    base_sigs.write.parquet(sigs_p)
    T.write_bands_bucketed(lsh.bands_table(base_sigs, params), "t_pipe_idx", num_buckets=4)
    index = (params, sigs_p, "t_pipe_idx")
    first = spark.createDataFrame(
        [(100, "a brand new crawl document"), (101, "seed doc number 3 with words")],
        SCHEMA,
    )
    # the second batch: one cross-batch dup + one fresh doc
    second = spark.createDataFrame(
        [(200, "a brand new crawl document"), (201, "another fresh one")], SCHEMA
    )
    try:
        kept_ids = _ingest(spark, first, "t_pipe_hist", index)
        kept_ids |= _ingest(spark, second, "t_pipe_hist", index)
        assert kept_ids == {100, 201}
        T.validate_index(spark, sigs_p, "t_pipe_idx")
        # the index holds exactly base + kept, once each
        sigs_all = spark.read.parquet(sigs_p)
        assert sigs_all.count() == 40 + 2
        assert sigs_all.select("doc_id").distinct().count() == 42
        # probe-identical to a batch build over the same corpus
        full = base.unionByName(first.unionByName(second)).filter(
            F.col("doc_id").isin(*kept_ids) | (F.col("doc_id") < 100)
        )
        sigs_full = minhash.signatures(full, params).cache()
        qd = sigs_full.filter(F.col("doc_id") == 100).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        got = lsh.lsh_topk(
            sigs_all.select("doc_id", "sig"), spark.table("t_pipe_idx"),
            qd, params, k=5, n_queries=1,
        ).collect()
        expect = lsh.lsh_topk(
            sigs_full, lsh.bands_table(sigs_full, params), qd, params, k=5, n_queries=1
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pipe_hist")
        spark.sql("DROP TABLE IF EXISTS t_pipe_idx")
