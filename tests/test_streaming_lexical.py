"""Incremental lexical index maintenance: epochs of new documents
appended to a postings store one after another (postings, doc lengths
and term df rolled forward by each append) answer exactly like one
batch build over all the documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import retrieval
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    append_postings_index,
    load_table,
    read_postings_corpus_stats,
    validate_postings_store,
    write_postings_index,
)

QUERY = "column window scan merge"


def _store_answers(spark, p, k=10):
    return [
        (r["doc_id"], r["score"], r["rank"])
        for r in retrieval.bm25_topk_store(spark, p, QUERY, k=k).collect()
    ]


def test_stream_epochs_match_fresh_batch_build(spark, sf_dir, tmp_path):
    """Base + two appended epochs must answer exactly like one batch
    build over all the docs (postings, N, sum_dl and global df all
    correct after the appends)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "lex_epochs")
    write_postings_index(
        docs.filter(F.col("doc_id") % 3 == 0), store, n_doc_shards=2, n_token_buckets=8
    )
    for epoch in (1, 2):
        append_postings_index(docs.filter(F.col("doc_id") % 3 == epoch), store)

    validate_postings_store(spark, store)
    flat = str(tmp_path / "lex_flat")
    write_postings_index(docs, flat, n_doc_shards=2, n_token_buckets=8)
    assert _store_answers(spark, store) == _store_answers(spark, flat)
    assert read_postings_corpus_stats(spark, store) == (
        read_postings_corpus_stats(spark, flat)
    )
    # the serving tier reads the appended store identically
    assert retrieval.ServingLexicalIndex.from_store(spark, store).query(
        QUERY, k=10
    ) == _store_answers(spark, flat)
