"""Incremental maintenance of the FLAT codes stores (PQ/OPQ): epochs of
new vectors appended one after another, each encoded with the codec
pinned in the store's sidecar, answer exactly like a fresh batch build;
an append under any other codec is refused."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann, opq
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    append_opq_index,
    append_pq_index,
    load_table,
    validate_pq_store,
    write_ivfpq_index,
    write_opq_index,
    write_pq_index,
)

DIM, M, CODES = 64, 8, 16


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _books():
    return ann.random_codebooks(DIM, M, CODES, seed=44)


def _pq_answers(spark, p, q, k=10):
    return [tuple(r) for r in ann.pq_topk_store(spark, p, q, k=k).collect()]


def _opq_answers(spark, p, q, k=10):
    return [tuple(r) for r in opq.opq_topk_store(spark, p, q, k=k).collect()]


def test_pq_stream_epochs_match_fresh_batch_build(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    books = _books()
    store = str(tmp_path / "pq_epochs")
    write_pq_index(emb.filter(F.col("vec_id") % 3 == 0), store, books)
    for epoch in (1, 2):
        append_pq_index(emb.filter(F.col("vec_id") % 3 == epoch), store, books)

    validate_pq_store(spark, store)
    codes = spark.read.parquet(store)
    assert codes.count() == codes.select("vec_id").distinct().count() == emb.count()
    flat = str(tmp_path / "pq_flat")
    write_pq_index(emb, flat, books)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    assert _pq_answers(spark, store, qv) == _pq_answers(spark, flat, qv)


def test_opq_stream_epochs_match_fresh_batch_build(spark, sf_dir, tmp_path):
    """The OPQ variant: every epoch rotates with the SIDECAR rotation
    before encoding — the rotation never retrains between epochs."""
    emb = _emb(spark, sf_dir)
    r_cols, books = opq.opq_train_offline()
    store = str(tmp_path / "opq_epochs")
    write_opq_index(emb.filter(F.col("vec_id") % 2 == 0), store, r_cols, books)
    append_opq_index(emb.filter(F.col("vec_id") % 2 == 1), store, r_cols, books)

    validate_pq_store(spark, store)
    flat = str(tmp_path / "opq_flat")
    write_opq_index(emb, flat, r_cols, books)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 9).first()["embedding"]]
    assert _opq_answers(spark, store, qv) == _opq_answers(spark, flat, qv)


def test_guards(spark, sf_dir, tmp_path):
    """An append must restate the store's own codec: other codebooks,
    another rotation, or a store of another kind (OPQ, IVF-PQ) are
    refused before anything is written."""
    emb = _emb(spark, sf_dir)
    books = _books()
    r_cols, obooks = opq.opq_train_offline()
    new = emb.limit(1)

    pq_store = str(tmp_path / "pq_guard")
    write_pq_index(emb.limit(20), pq_store, books)
    with pytest.raises(ValueError, match="different quantizer config"):
        append_pq_index(new, pq_store, ann.random_codebooks(DIM, M, CODES, seed=99))
    with pytest.raises(ValueError, match="different quantizer config"):
        append_opq_index(new, pq_store, r_cols, obooks)

    opq_store = str(tmp_path / "opq_guard")
    write_opq_index(emb.limit(20), opq_store, r_cols, obooks)
    other_r = [[0.0] * DIM for _ in range(DIM)]
    with pytest.raises(ValueError, match="different quantizer config"):
        append_opq_index(new, opq_store, other_r, obooks)
    with pytest.raises(ValueError, match="different quantizer config"):
        append_pq_index(new, opq_store, obooks)

    ivf = str(tmp_path / "pq_guard_ivf")
    write_ivfpq_index(emb.limit(20), ivf, ann.random_centroids(DIM, 8, seed=43), books)
    with pytest.raises(ValueError, match="different quantizer config"):
        append_pq_index(new, ivf, books)

    # nothing landed: each store still holds its 20 base rows and validates
    for p in (pq_store, opq_store):
        assert spark.read.parquet(p).count() == 20
        validate_pq_store(spark, p)
    assert spark.read.parquet(ivf).count() == 20
