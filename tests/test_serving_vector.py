"""In-process IVF-PQ serving tier: answer identity vs the Spark store
path (ADC, alpha, rerank; flat and HKM quantizers), guards, and the
HTTP binding — the embedding twin of ``tests/test_serving.py``."""

from __future__ import annotations

import json
import urllib.request

import numpy as np
import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_vector import (
    ServingVectorIndex,
    _round6,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    load_table,
    write_ivfpq_index,
)

DIM, M, CODES = 64, 8, 16


def _emb(spark):
    return load_table(spark, "/root/testdata/sf0.001", "embeddings")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    emb = _emb(spark)
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path_factory.mktemp("vstore") / "ivfpq")
    write_ivfpq_index(emb, p, cents, books)
    return emb, cents, books, p


def _queries(emb, ids):
    rows = {r["vec_id"]: r["embedding"] for r in emb.filter(
        F.col("vec_id").isin(ids)).collect()}
    return [[float(v) for v in rows[i]] for i in ids]


def test_round6_matches_spark_round(spark):
    vals = [0.1234565, 1.9999995, 3.0000005, 0.7071067811865476, 12.5e-7,
            0.0, 5.0, 123.4567894999]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.round("v", 6).alias("r")
    )
    got = [r["r"] for r in df.collect()]
    assert got == [_round6(v) for v in vals]


def test_serving_vector_adc_identity(spark, store):
    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p)
    for qv in _queries(emb, [0, 7, 33, 55]):
        want = [
            (r["vec_id"], r["dist"], r["rank"])
            for r in ann.ivfpq_topk_store(spark, p, qv, k=10, n_probe=3).collect()
        ]
        assert idx.query(qv, k=10, n_probe=3) == want


def test_serving_vector_alpha_identity(spark, store):
    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p)
    for qv in _queries(emb, [7, 41]):
        want = [
            (r["vec_id"], r["dist"], r["rank"])
            for r in ann.ivfpq_topk_store(
                spark, p, qv, k=10, alpha=0.15, max_probe=5
            ).collect()
        ]
        assert idx.query(qv, k=10, alpha=0.15, max_probe=5) == want


def test_serving_vector_rerank_identity(spark, store):
    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p, embeddings=emb)
    for qv in _queries(emb, [7, 20]):
        want = [
            (r["vec_id"], r["dist"], r["rank"])
            for r in ann.ivfpq_topk_store(
                spark, p, qv, k=10, n_probe=3, shortlist=40, embeddings=emb
            ).collect()
        ]
        got = idx.query(qv, k=10, n_probe=3, shortlist=40)
        assert got == want
        # rerank surfaces the query's own vector at distance 0
        assert got[0][1] == 0.0


def test_serving_vector_full_probe_equals_brute_force(spark, store):
    """All cells probed + full shortlist == exact brute-force top-k."""
    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p, embeddings=emb)
    qv = _queries(emb, [13])[0]
    n = emb.count()
    got = idx.query(qv, k=5, n_probe=len(cents), shortlist=n)
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import bruteforce

    qdf = spark.createDataFrame(
        [(0, qv)], "query_id long, query_vec array<double>"
    )
    want = [
        (r["vec_id"], r["dist"], r["rank"])
        for r in bruteforce.l2_topk(emb, qdf, k=5).collect()
    ]
    assert got == want


def test_serving_vector_hkm_identity(spark, tmp_path):
    emb = _emb(spark)
    X = np.array(
        [r["embedding"] for r in emb.limit(40).collect()], dtype=np.float64
    )
    tree = ann.hkm_train(X, n_leaves=8, branch=2, seed=7)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "ivfpq_hkm")
    write_ivfpq_index(emb, p, tree, books)
    idx = ServingVectorIndex.from_store(spark, p)
    assert idx.tree is not None
    qv = _queries(emb, [7])[0]
    want = [
        (r["vec_id"], r["dist"], r["rank"])
        for r in ann.ivfpq_topk_store(spark, p, qv, k=10, n_probe=3).collect()
    ]
    assert idx.query(qv, k=10, n_probe=3) == want
    # tree + calibrated-alpha branch matches the store path too
    want_a = [
        (r["vec_id"], r["dist"], r["rank"])
        for r in ann.ivfpq_topk_store(
            spark, p, qv, k=10, alpha=0.2, max_probe=4
        ).collect()
    ]
    assert idx.query(qv, k=10, alpha=0.2, max_probe=4) == want_a


def test_serving_vector_guards(spark, store):
    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p)
    with pytest.raises(ValueError, match="width"):
        idx.query([1.0, 2.0])
    with pytest.raises(ValueError, match="vectors retained"):
        idx.query(_queries(emb, [7])[0], shortlist=10)
    with pytest.raises(ValueError, match="alpha"):
        ServingVectorIndex.from_store(spark, p, embeddings=emb).query(
            _queries(emb, [7])[0], shortlist=10, alpha=0.1
        )


def test_vector_http_endpoint(spark, store):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_http import (
        start_vector_server,
    )

    emb, cents, books, p = store
    idx = ServingVectorIndex.from_store(spark, p)
    server, _thread = start_vector_server(idx)
    try:
        host, port = server.server_address

        def post(payload):
            req = urllib.request.Request(
                f"http://{host}:{port}/query",
                data=json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    return resp.status, json.loads(resp.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        qv = _queries(emb, [7])[0]
        status, body = post({"vector": qv, "k": 5, "n_probe": 3})
        assert status == 200
        want = idx.query(qv, k=5, n_probe=3)
        assert [
            (c["id"], c["dist"], c["rank"]) for c in body["candidates"]
        ] == want
        # health + validation errors
        with urllib.request.urlopen(f"http://{host}:{port}/health") as resp:
            h = json.loads(resp.read())
        assert h["n_vecs"] == idx.vec_ids.size
        assert post({"vector": [1.0, 2.0]})[0] == 400
        assert post({"vector": "nope"})[0] == 400
        assert post({"vector": qv, "k": "x"})[0] == 400
        assert post({"vector": [10**400] * len(qv)}) == (
            400, {"error": "vector elements must fit in float64"}
        )
        assert post({"vector": qv, "shortlist": 5})[0] == 400  # no vectors kept
    finally:
        server.shutdown()
        server.server_close()


def test_serving_vector_sharded_replicas_merge_identical(spark, store):
    """Two replicas over disjoint cell subsets (same global quantizer
    from the sidecar) + merge_topk_dist == one full index — the vector
    scatter-gather twin of ServingIndex.from_sharded/merge_topk."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_vector import (
        merge_topk_dist,
    )

    emb, cents, books, p = store
    full = ServingVectorIndex.from_store(spark, p)
    n_cells = len(cents)
    ra = ServingVectorIndex.from_store(
        spark, p, cells=list(range(n_cells // 2))
    )
    rb = ServingVectorIndex.from_store(
        spark, p, cells=list(range(n_cells // 2, n_cells))
    )
    assert ra.vec_ids.size + rb.vec_ids.size == full.vec_ids.size
    for qv in _queries(emb, [0, 7, 41]):
        want = full.query(qv, k=10, n_probe=n_cells)
        got = merge_topk_dist(
            [ra.query(qv, k=10, n_probe=n_cells),
             rb.query(qv, k=10, n_probe=n_cells)],
            k=10,
        )
        assert got == want
