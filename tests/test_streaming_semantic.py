"""Semantic ingest dedup, batch by batch: each arriving batch of
embeddings is deduped against the history and within itself with
``semantic_dedup`` (SemDeDup semantics: cosine >= threshold inside one
coarse-quantizer cell, the smallest id of a group survives), and the
survivors are appended to the IVF-PQ / IVF-OPQ serving store, whose
codes must equal a batch encode of the same vectors."""

from __future__ import annotations

import numpy as np

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann, dedup, opq
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    append_ivfopq_index,
    append_ivfpq_index,
    read_ivfpq_index,
    validate_ivfpq_store,
    write_ivfopq_index,
    write_ivfpq_index,
)

DIM = 8


def _vec(rs, scale=1.0):
    return [float(v) for v in rs.normal(size=DIM) * scale]


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _setup():
    """Seeded base corpus of 4 well-separated directions + quantizer."""
    rs = np.random.RandomState(3)
    base_dirs = [rs.normal(size=DIM) * 6 for _ in range(4)]
    rows = [(i, [float(v) for v in base_dirs[i]]) for i in range(4)]
    return base_dirs, rows, ann.random_centroids(DIM, n_cells=4, seed=5)


def _new_rows(history, batch, quantizer, threshold=0.99):
    """The batch rows that survive dedup against the history and
    within the batch (history ids are smaller than every batch id, so
    a history row always represents its group)."""
    keep = dedup.semantic_dedup(history.unionByName(batch), quantizer, threshold)
    return batch.join(keep.filter("keep").select("vec_id"), "vec_id")


def _codes(df):
    return {r["vec_id"]: (r["cell"], list(r["codes"])) for r in df.collect()}


def test_semantic_new_rows_greedy_rule(spark):
    """History dup dropped; within-batch smaller-id wins; fresh rows
    survive; a vector whose neighbor was itself dropped is never
    revived."""
    base_dirs, rows, cents = _setup()
    batch = _corpus(
        spark,
        [
            (100, [float(v) for v in base_dirs[0]]),  # history dup
            (101, [float(v) for v in base_dirs[1] * 1.0001]),  # ~cos 1 to hist 1
            (102, [float(v) for v in -base_dirs[2]]),  # anti-parallel: fresh
            (110, [float(v) for v in base_dirs[3] * 2.0]),  # batch clone A
            (111, [float(v) for v in base_dirs[3] * 3.0]),  # batch clone B
        ],
    )
    kept = _new_rows(_corpus(spark, rows), batch, cents)
    # 100, 101 die to history; 111 dies to smaller-id 110; 110 is a
    # history dup of base dir 3 -> also dies; 102 survives
    assert {r["vec_id"] for r in kept.collect()} == {102}


def test_stream_semantic_maintains_ivfpq_codes_store(spark, tmp_path):
    """Each batch's survivors land in the IVF-PQ serving store: the
    store holds base + survivors once each, codes bit-equal to a batch
    encode of the same vectors, and the store is directly probe-able."""
    base_dirs, base_rows, cents = _setup()
    books = ann.random_codebooks(DIM, 2, 4, seed=11)
    codes_p = str(tmp_path / "codes5")
    write_ivfpq_index(_corpus(spark, base_rows), codes_p, cents, books)
    rs = np.random.RandomState(31)
    alpha = _vec(rs, 4.0)
    beta = _vec(rs, 4.0)
    history = _corpus(spark, base_rows)
    for batch in (
        _corpus(spark, [(100, alpha), (101, [float(v) for v in base_dirs[1]])]),
        _corpus(spark, [(200, [float(v * 2.0) for v in alpha]), (201, beta)]),
    ):
        kept = _corpus(spark, _new_rows(history, batch, cents).collect())
        append_ivfpq_index(kept, codes_p, cents, books)
        history = history.unionByName(kept)

    validate_ivfpq_store(spark, codes_p)
    codes = spark.read.parquet(codes_p)
    # base 4 + survivors {100, 201}; 101 and 200 deduped
    assert codes.count() == 6
    assert {r["vec_id"] for r in codes.collect()} == {0, 1, 2, 3, 100, 201}
    all_rows = _corpus(spark, base_rows + [(100, alpha), (201, beta)])
    assert _codes(codes) == _codes(ann.ivfpq_encode(all_rows, cents, books))
    # exact-rerank over the full probe set must surface the query's own
    # vector (ADC-only rank order is NOT asserted — with tiny random
    # codebooks every reconstruction is near zero and ADC ties are noise)
    top = ann.ivfpq_topk_store(
        spark, codes_p, alpha, k=3, n_probe=4, shortlist=10, embeddings=all_rows,
    ).first()
    assert top["vec_id"] == 100 and top["dist"] == 0.0


def test_stream_semantic_ivfpq_codes_with_hkm_tree(spark, tmp_path):
    """The same maintenance with an HKMQuantizer as the coarse
    quantizer: exact clones share every descent decision, so the clone
    is deduped; survivors are encoded through the tree, and the
    sidecar round-trips the tree."""
    rs = np.random.RandomState(41)
    X = np.vstack([rs.normal(size=DIM) * 6 for _ in range(8)])
    tree = ann.hkm_train(X, n_leaves=4, branch=2, seed=7)
    books = ann.random_codebooks(DIM, 2, 4, seed=11)
    rows = [(i, [float(v) for v in X[i]]) for i in range(8)]
    codes_p = str(tmp_path / "codes6")
    write_ivfpq_index(_corpus(spark, rows), codes_p, tree, books)
    fresh = _vec(rs, 4.0)
    batch = _corpus(spark, [(100, [float(v) for v in X[5]]), (101, fresh)])  # clone + fresh
    kept = _corpus(spark, _new_rows(_corpus(spark, rows), batch, tree).collect())
    append_ivfpq_index(kept, codes_p, tree, books)

    codes, t2, _ = read_ivfpq_index(spark, codes_p)
    assert isinstance(t2, ann.HKMQuantizer)
    assert {r["vec_id"] for r in codes.collect()} == set(range(8)) | {101}
    all_rows = _corpus(spark, rows + [(101, fresh)])
    assert _codes(codes) == _codes(ann.ivfpq_encode(all_rows, tree, books))
    top = ann.ivfpq_topk_store(
        spark, codes_p, fresh, k=3, n_probe=4, shortlist=10, embeddings=all_rows,
    ).first()
    assert top["vec_id"] == 101 and top["dist"] == 0.0


def test_stream_semantic_maintains_ivfopq_codes_store(spark, tmp_path):
    """With an IVF-OPQ serving store each batch's survivors are rotated
    with the PINNED sidecar rotation before the residual encode (never
    retrained between batches), codes are bit-equal to a batch
    ivfopq_encode of the same vectors, and the store answers
    ivfopq_topk_store probes directly."""
    base_dirs, base_rows, cents = _setup()
    rs = np.random.RandomState(61)
    r_cols, books = opq.opq_train(
        np.vstack([rs.normal(size=DIM) for _ in range(32)]),
        m=2, n_codes=4, iters=2, kmeans_iters=3, seed=5,
    )
    codes_p = str(tmp_path / "codes7")
    write_ivfopq_index(_corpus(spark, base_rows), codes_p, r_cols, cents, books)
    alpha = _vec(rs, 4.0)
    batch = _corpus(spark, [(100, alpha), (101, [float(v) for v in base_dirs[1]])])
    kept = _corpus(spark, _new_rows(_corpus(spark, base_rows), batch, cents).collect())
    append_ivfopq_index(kept, codes_p, r_cols, cents, books)

    validate_ivfpq_store(spark, codes_p)
    codes = spark.read.parquet(codes_p)
    # base 4 + survivor 100; 101 deduped against history
    assert {r["vec_id"] for r in codes.collect()} == {0, 1, 2, 3, 100}
    all_rows = _corpus(spark, base_rows + [(100, alpha)])
    assert _codes(codes) == _codes(opq.ivfopq_encode(all_rows, r_cols, cents, books))
    # exact original-space rerank surfaces the query's own vector
    top = opq.ivfopq_topk_store(
        spark, codes_p, alpha, k=3, n_probe=4, shortlist=10, embeddings=all_rows,
    ).first()
    assert top["vec_id"] == 100 and top["dist"] == 0.0
