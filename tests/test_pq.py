"""Product quantization: encoding semantics vs numpy, prebuilt-codes
path identity, trained-codebook distortion, and recall sanity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann, bruteforce
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

DIM, M, CODES = 64, 8, 16


def _emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


def test_pq_encode_matches_numpy_argmin(spark):
    # deterministic subset: a bare .limit() over the (spread) scan may
    # pick different rows in the encode job vs the collect job
    emb = _emb(spark).filter(F.col("vec_id") < 50)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    got = {r["vec_id"]: r["codes"] for r in ann.pq_encode(emb, books).collect()}
    rows = emb.collect()
    dsub = DIM // M
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        for s in range(M):
            sub = v[s * dsub : (s + 1) * dsub]
            d = ((np.array(books[s]) - sub) ** 2).sum(axis=1)
            assert got[r["vec_id"]][s] == int(np.argmin(d)), (r["vec_id"], s)


def test_pq_topk_prebuilt_codes_identical(spark):
    emb = _emb(spark)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    inline = ann.pq_topk(emb, q, k=10, codebooks=books).collect()
    prebuilt = ann.pq_topk(
        emb, q, k=10, codebooks=books,
        codes=ann.pq_encode(emb, books),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, prebuilt))


def test_train_pq_reduces_quantization_error(spark):
    emb = _emb(spark)
    rnd = ann.random_codebooks(DIM, M, CODES, seed=44)
    trained = ann.train_pq(emb, DIM, m=M, n_codes=CODES, n_iters=4, seed=44)

    def mse(books):
        vecs = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
        dsub = DIM // M
        tot = 0.0
        for s in range(M):
            sub = vecs[:, s * dsub : (s + 1) * dsub]
            d = ((sub[:, None, :] - np.array(books[s])[None, :, :]) ** 2).sum(-1)
            tot += d.min(axis=1).sum()
        return tot / len(vecs)

    assert mse(trained) < mse(rnd) * 0.9  # Lloyd buys a real improvement


def test_pq_recall_beats_chance_and_trained_beats_random(spark):
    emb = _emb(spark).cache()
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    qdf = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {r["vec_id"] for r in bruteforce.l2_topk(emb, qdf, k=10).collect()}
    rnd_books = ann.random_codebooks(DIM, M, CODES, seed=44)
    got_rnd = {r["vec_id"] for r in ann.pq_topk(emb, q, k=10, codebooks=rnd_books).collect()}
    assert len(got_rnd & exact) >= 1  # far above the ~10/500 chance rate
    trained = ann.train_pq(emb, DIM, m=M, n_codes=CODES, n_iters=4, seed=44)
    got_tr = {r["vec_id"] for r in ann.pq_topk(emb, q, k=10, codebooks=trained).collect()}
    assert len(got_tr & exact) >= len(got_rnd & exact)


def test_pq_validation():
    with pytest.raises(ValueError):
        ann.random_codebooks(63, 8, 16)  # dim not divisible by m


def test_pq_rerank_with_full_shortlist_equals_exact(spark):
    emb = _emb(spark)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    got = ann.pq_topk_rerank(
        emb, q, k=10, shortlist=10_000, codebooks=books
    ).collect()
    qdf = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = bruteforce.l2_topk(emb, qdf, k=10).collect()
    assert [(r["vec_id"], r["dist"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (r["vec_id"], r["dist"], r["rank"]) for r in sorted(exact, key=lambda r: r["rank"])
    ]


def test_pq_rerank_recall_improves_on_raw_adc(spark):
    emb = _emb(spark).cache()
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    qdf = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {r["vec_id"] for r in bruteforce.l2_topk(emb, qdf, k=10).collect()}
    raw = {r["vec_id"] for r in ann.pq_topk(emb, q, k=10, codebooks=books).collect()}
    rr = {
        r["vec_id"]
        for r in ann.pq_topk_rerank(emb, q, k=10, shortlist=100, codebooks=books).collect()
    }
    assert len(rr & exact) >= len(raw & exact)


def test_pq_topk_rejects_codes_without_codebooks(spark):
    emb = _emb(spark).limit(5)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    codes = ann.pq_encode(emb, books)
    q = [0.0] * DIM
    with pytest.raises(ValueError, match="codebooks"):
        ann.pq_topk(emb, q, codes=codes)


def test_chunk_documents_rejects_gap_stride(spark):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import prep

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="skip tokens"):
        prep.chunk_documents(df, window=4, stride=5)


def test_pq_store_round_trip_and_kind_guard(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_pq_index,
    )

    emb = _emb(spark)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "pq_store")
    write_pq_index(emb, p, books)
    # plain ADC from the store == inline against the same books
    got = ann.pq_topk_store(spark, p, q, k=10).collect()
    expect = ann.pq_topk(emb, q, k=10, codebooks=books).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    # rerank path from the store == inline rerank
    got_rr = ann.pq_topk_store(spark, p, q, k=10, shortlist=100, embeddings=emb).collect()
    expect_rr = ann.pq_topk_rerank(emb, q, k=10, shortlist=100, codebooks=books).collect()
    assert sorted(map(tuple, got_rr)) == sorted(map(tuple, expect_rr))
    # a non-PQ store is refused
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        _write_store_meta,
    )

    bad = str(tmp_path / "not_pq")
    emb.limit(1).write.parquet(bad)
    _write_store_meta(bad, {"kind": "ivf"})
    with pytest.raises(ValueError, match="not a PQ store"):
        ann.pq_topk_store(spark, bad, q, k=10)
    with pytest.raises(ValueError, match="embeddings"):
        ann.pq_topk_store(spark, p, q, k=10, shortlist=50)


def test_pq_store_append_parity_and_quantizer_guard(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_pq_index,
        write_pq_index,
    )

    emb = _emb(spark)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "pq_app")
    write_pq_index(half_a, p, books)
    append_pq_index(half_b, p, books)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = ann.pq_topk_store(spark, p, q, k=10).collect()
    full = str(tmp_path / "pq_full")
    write_pq_index(emb, full, books)
    expect = ann.pq_topk_store(spark, full, q, k=10).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    # a different quantizer is refused
    other = ann.random_codebooks(DIM, M, CODES, seed=99)
    with pytest.raises(ValueError):
        append_pq_index(half_b, p, other)


def test_ivfpq_encode_matches_numpy(spark):
    """Cell = argmin L2 to coarse centroids; codes = per-subspace argmin
    over the RESIDUAL (vector minus the assigned cell's center)."""
    emb = _emb(spark).filter(F.col("vec_id") < 50)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    got = {
        r["vec_id"]: (r["cell"], r["codes"])
        for r in ann.ivfpq_encode(emb, cents, books).collect()
    }
    dsub = DIM // M
    carr = np.array(cents, dtype=np.float64)
    for r in emb.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        cell = int(np.argmin(((carr - v) ** 2).sum(axis=1)))
        res = v - carr[cell]
        assert got[r["vec_id"]][0] == cell
        for s in range(M):
            sub = res[s * dsub : (s + 1) * dsub]
            d = ((np.array(books[s]) - sub) ** 2).sum(axis=1)
            assert got[r["vec_id"]][1][s] == int(np.argmin(d)), (r["vec_id"], s)


def test_ivfpq_topk_prebuilt_codes_identical(spark):
    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    inline = ann.ivfpq_topk(
        emb, q, k=10, n_probe=3, centroids=cents, codebooks=books
    ).collect()
    prebuilt = ann.ivfpq_topk(
        None, q, k=10, n_probe=3, centroids=cents, codebooks=books,
        codes=ann.ivfpq_encode(emb, cents, books),
    ).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, prebuilt))


def test_ivfpq_rerank_full_probe_full_shortlist_equals_exact(spark):
    """Probing every cell with an unbounded shortlist must reduce to
    exact brute-force L2 — the ADC layer only ORDERS the shortlist."""
    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = ann.ivfpq_topk_rerank(
        emb, q, k=10, shortlist=10_000, n_probe=8,
        centroids=cents, codebooks=books,
    ).collect()
    qdf = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = bruteforce.l2_topk(emb, qdf, k=10).collect()
    assert [(r["vec_id"], r["dist"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (r["vec_id"], r["dist"], r["rank"]) for r in sorted(exact, key=lambda r: r["rank"])
    ]


def test_ivfpq_topk_requires_source(spark):
    with pytest.raises(ValueError, match="codes table"):
        ann.ivfpq_topk(None, [0.0] * DIM, k=5)


def test_train_pq_fused_matches_sequential_per_subspace(spark, sf_dir):
    """The fused one-pass-per-iteration trainer must produce
    bit-identical codebooks to m sequential ivf_train runs over the
    subvector slices (same seeds, same float math, same layout)."""
    from pyspark.sql import functions as F

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

    dim = 16
    sub = load_table(spark, sf_dir, "embeddings").select(
        F.slice("embedding", 1, dim).alias("embedding")
    )
    fused = ann.train_pq(sub, dim, m=4, n_codes=8, n_iters=3, seed=44)
    dsub = dim // 4
    for s in range(4):
        sl = sub.select(
            F.slice(F.col("embedding"), s * dsub + 1, dsub).alias("embedding")
        )
        seq = ann.ivf_train(
            sl, n_cells=8, n_iters=3, seed=44 + s, dim=dsub
        )
        assert fused[s] == seq, f"subspace {s} diverged"

def test_ivfpq_store_round_trip_pruning_and_guards(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        _write_store_meta,
        write_ivfpq_index,
    )

    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    p = str(tmp_path / "ivfpq_store")
    write_ivfpq_index(emb, p, cents, books)
    got = ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=3)
    expect = ann.ivfpq_topk(
        emb, q, k=10, n_probe=3, centroids=cents, codebooks=books
    ).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect))
    # the probe filter must prune cell DIRECTORIES at the source
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200], plan[:2000]
    # rerank path from the store == inline rerank
    got_rr = ann.ivfpq_topk_store(
        spark, p, q, k=10, n_probe=3, shortlist=100, embeddings=emb
    ).collect()
    expect_rr = ann.ivfpq_topk_rerank(
        emb, q, k=10, shortlist=100, n_probe=3, centroids=cents, codebooks=books
    ).collect()
    assert sorted(map(tuple, got_rr)) == sorted(map(tuple, expect_rr))
    # guards: wrong kind, missing embeddings
    bad = str(tmp_path / "not_ivfpq")
    emb.limit(1).write.parquet(bad)
    _write_store_meta(bad, {"kind": "pq"})
    with pytest.raises(ValueError, match="not an IVF-PQ store"):
        ann.ivfpq_topk_store(spark, bad, q, k=10)
    with pytest.raises(ValueError, match="embeddings"):
        ann.ivfpq_topk_store(spark, p, q, k=10, shortlist=50)


def test_ivfpq_store_append_parity_and_quantizer_guard(spark, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "ivfpq_app")
    write_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), p, cents, books)
    append_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), p, cents, books)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    got = ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=3).collect()
    full = str(tmp_path / "ivfpq_full")
    write_ivfpq_index(emb, full, cents, books)
    expect = ann.ivfpq_topk_store(spark, full, q, k=10, n_probe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    other = ann.random_codebooks(DIM, M, CODES, seed=99)
    with pytest.raises(ValueError):
        append_ivfpq_index(emb.limit(1), p, cents, other)

def test_ivfpq_hkm_encode_search_and_store(spark, tmp_path):
    """Corpus-scaled-cell IVF-PQ: the Arrow tree-descent encode matches
    a numpy reimplementation (descend -> residual -> first-tie argmin),
    tree probes work inline and from a persisted store, and a
    full-probe rerank still finds the query itself at distance 0."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_ivfpq_index,
        read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _emb(spark).cache()
    n = emb.count()
    tree = ann.hkm_train_df(emb, n_leaves=16, branch=4, seed=43, sample_size=4096)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    rows = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in ann.ivfpq_encode(emb, tree, books).collect()
    }
    payload, leaves = tree.payload(), tree.leaf_centers()
    for r in emb.limit(30).collect():
        v = np.array(r["embedding"], dtype=np.float64)
        cell = int(ann.hkm_descend(v[None, :], payload)[0])
        res = v - leaves[cell]
        assert rows[r["vec_id"]][0] == cell
        for s in range(M):
            sub = res[s * (DIM // M) : (s + 1) * (DIM // M)]
            d = ((np.array(books[s]) - sub) ** 2).sum(axis=1)
            assert rows[r["vec_id"]][1][s] == int(np.argmin(d))
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    p = str(tmp_path / "hkm_store")
    write_ivfpq_index(emb.filter("vec_id < 400"), p, tree, books)
    append_ivfpq_index(emb.filter("vec_id >= 400"), p, tree, books)
    codes2, t2, _ = read_ivfpq_index(spark, p)
    assert isinstance(t2, ann.HKMQuantizer) and codes2.count() == n
    got = ann.ivfpq_topk_store(spark, p, q, k=5, n_probe=4).collect()
    exp = ann.ivfpq_topk(
        None, q, k=5, n_probe=4, centroids=tree, codebooks=books,
        codes=ann.ivfpq_encode(emb, tree, books),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    rr = ann.ivfpq_topk_rerank(
        emb, q, k=5, shortlist=200, n_probe=16, centroids=tree, codebooks=books
    ).collect()
    assert rr[0]["vec_id"] == 7 and rr[0]["dist"] == 0.0
    emb.unpersist()

def test_ivfpq_topk_batch_matches_point_path(spark):
    """Batch ADC must be answer-identical per query to ivfpq_topk —
    flat centroids AND the HKM tree (same probe rule, same LUT fold,
    same subspace accumulation order)."""
    emb = _emb(spark).cache()
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    for quant in (
        ann.random_centroids(DIM, 16, seed=43),
        ann.hkm_train_df(emb, n_leaves=16, branch=4, seed=43, sample_size=4096),
    ):
        batch = ann.ivfpq_topk_batch(
            emb, qs, k=10, n_probe=4, centroids=quant, codebooks=books
        ).collect()
        got: dict[int, list] = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["dist"], r["rank"])
            )
        for qid in range(3):
            qv = [
                float(v)
                for v in emb.filter(F.col("vec_id") == qid).first()["embedding"]
            ]
            pt = [
                (r["vec_id"], r["dist"], r["rank"])
                for r in ann.ivfpq_topk(
                    emb, qv, k=10, n_probe=4, centroids=quant, codebooks=books
                ).collect()
            ]
            assert sorted(got[qid]) == sorted(pt), qid
    emb.unpersist()


def test_ivfpq_topk_batch_empty_and_guard(spark):
    emb = _emb(spark)
    empty = emb.filter("vec_id < 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert ann.ivfpq_topk_batch(emb, empty, k=5).count() == 0
    qs = emb.filter("vec_id < 1").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="codes table"):
        ann.ivfpq_topk_batch(None, qs, k=5)

def test_ivfpq_batch_rerank_full_probe_equals_exact(spark):
    """Batch rerank with every cell probed and an unbounded shortlist
    must reduce to exact per-query brute-force L2."""
    emb = _emb(spark).cache()
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    got = ann.ivfpq_topk_batch_rerank(
        emb, qs, k=5, shortlist=10_000, n_probe=8,
        centroids=cents, codebooks=books,
    ).collect()
    exact = bruteforce.l2_topk(emb, qs, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["vec_id"], r["dist"], r["rank"]) for r in got],
        key=lambda t: (t[0], t[3]),
    ) == sorted(
        [(r["query_id"], r["vec_id"], r["dist"], r["rank"]) for r in exact],
        key=lambda t: (t[0], t[3]),
    )
    emb.unpersist()

def test_ivfpq_batch_rerank_plan_broadcasts_shortlist(spark):
    """The rerank fetch must broadcast the shortlist into the corpus
    scan (no embeddings-side exchange) — the shape that holds at
    100 TB."""
    emb = _emb(spark)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    df = ann.ivfpq_topk_batch_rerank(
        emb, qs, k=5, shortlist=50, n_probe=3,
        centroids=cents, codebooks=books,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

def test_ivfpq_alpha_probe_rule(spark):
    """alpha=0 probes only the nearest cell; a huge alpha probes every
    cell (== n_probe=all results); batch alpha matches the point path."""
    emb = _emb(spark).cache()
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    codes = ann.ivfpq_encode(emb, cents, books)
    # alpha -> infinity == probe all cells
    wide = ann.ivfpq_topk(
        None, q, k=10, centroids=cents, codebooks=books, codes=codes,
        alpha=1e9,
    ).collect()
    allp = ann.ivfpq_topk(
        None, q, k=10, n_probe=8, centroids=cents, codebooks=books, codes=codes,
    ).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, allp))
    # alpha=0 scans exactly the nearest cell's members
    tight = ann.ivfpq_topk(
        None, q, k=10_000, centroids=cents, codebooks=books, codes=codes,
        alpha=0.0,
    ).collect()
    own = ann.ivf_probe_cells_alpha(q, cents, 0.0)
    n_cell0 = codes.filter(F.col("cell").isin(own)).count()
    assert len(tight) == n_cell0
    # batch twin agrees with the point path at the same alpha
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = ann.ivfpq_topk_batch(
        None, qs, k=10, centroids=cents, codebooks=books, codes=codes,
        alpha=0.3, max_probe=6,
    ).collect()
    got: dict[int, list] = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["dist"], r["rank"])
        )
    for qid in range(2):
        qv = [
            float(v)
            for v in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        pt = [
            (r["vec_id"], r["dist"], r["rank"])
            for r in ann.ivfpq_topk(
                None, qv, k=10, centroids=cents, codebooks=books, codes=codes,
                alpha=0.3, max_probe=6,
            ).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(pt), qid
    emb.unpersist()

def test_ivfpq_store_alpha_probing(spark, tmp_path):
    """The store path carries the alpha knob: huge alpha == all-probe
    results; alpha on the rerank path is refused (probe budget is the
    ADC layer's knob)."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_ivfpq_index,
    )

    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    q = [float(v) for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    p = str(tmp_path / "alpha_store")
    write_ivfpq_index(emb, p, cents, books)
    wide = ann.ivfpq_topk_store(spark, p, q, k=10, alpha=1e9).collect()
    allp = ann.ivfpq_topk_store(spark, p, q, k=10, n_probe=8).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, allp))
    with pytest.raises(ValueError, match="rerank"):
        ann.ivfpq_topk_store(
            spark, p, q, k=10, alpha=0.5, shortlist=50, embeddings=emb
        )
