"""Scatter-gather HTTP router (operators/serving_http.RouterService):
the reference's online topology — one endpoint fans a query across N
replica servers and merges over the wire
(``app/src/query_service.py:167-192``). For every tier the routed
answer must be IDENTICAL to one full index; the hybrid endpoint merges
each tier exactly first and fuses at the router."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import ann, lsh, minhash, serving_http
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.retrieval import (
    ServingLexicalIndex,
    hybrid_rrf_point,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import (
    ServingIndex,
    shard_dataframes,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_vector import (
    ServingVectorIndex,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    load_table,
    write_ivfpq_index,
    write_postings_index,
)

PARAMS = MinHashParams()
DIM, M, CODES = 64, 8, 16
LEXQ = "column window scan merge"


def _post(url: str, path: str, body: dict):
    req = urllib.request.Request(
        url + path,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def _url(server) -> str:
    host, port = server.server_address
    return f"http://{host}:{port}"


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    return docs, emb


def _stop(pairs):
    for server, _t in pairs:
        server.shutdown()
        server.server_close()


def _stub_replica(body: bytes):
    """A replica that answers every POST 200 with ``server.body`` (set
    it between requests to change the reply)."""

    class StubHandler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            data = self.server.body
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, fmt, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), StubHandler)
    server.body = body
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def test_lsh_router_identical_to_full_index(spark, corpus):
    docs, _ = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 200), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS).cache()
    full = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    replicas = [
        ServingIndex.from_dataframes(*shard_dataframes(sigs, bands, 3, s), PARAMS)
        for s in range(3)
    ]
    servers = [serving_http.start_server(r) for r in replicas]
    router, rt = serving_http.start_router_server(
        "lsh", [_url(s) for s, _ in servers]
    )
    try:
        for qdoc in (13, 57):
            qsig = [
                int(v)
                for v in sigs.filter(F.col("doc_id") == qdoc).first()["sig"]
            ]
            status, body = _post(_url(router), "/query", {"vector": qsig, "k": 5})
            assert status == 200
            want = full.query(qsig, k=5)
            assert [(c["id"], c["score"]) for c in body["candidates"]] == [
                (d, s) for d, s, _r in want
            ]
            # previews survive the merge (served by the owning replica)
            assert body["candidates"][0]["vector_preview"] == qsig[:10]
        # router health aggregates replica health
        with urllib.request.urlopen(_url(router) + "/health") as resp:
            h = json.loads(resp.read())
        assert h["status"] == "ok" and len(h["replicas"]) == 3
    finally:
        _stop(servers + [(router, rt)])


def test_vector_router_identical_to_full_index(spark, corpus, tmp_path):
    _, emb = corpus
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, p, cents, books)
    full = ServingVectorIndex.from_store(spark, p)
    # cell-subset replicas covering the store
    replicas = [
        ServingVectorIndex.from_store(spark, p, cells=cells)
        for cells in ([0, 1, 2], [3, 4], [5, 6, 7])
    ]
    servers = [serving_http.start_vector_server(r) for r in replicas]
    router, rt = serving_http.start_router_server(
        "vector", [_url(s) for s, _ in servers]
    )
    try:
        for vid in (0, 41):
            qv = [
                float(v)
                for v in emb.filter(F.col("vec_id") == vid).first()["embedding"]
            ]
            status, body = _post(
                _url(router), "/query", {"vector": qv, "k": 10, "n_probe": 8}
            )
            assert status == 200
            want = full.query(qv, k=10, n_probe=8)
            assert [
                (c["id"], c["dist"], c["rank"]) for c in body["candidates"]
            ] == want
    finally:
        _stop(servers + [(router, rt)])


def test_lexical_router_and_hybrid_identical_to_full(spark, corpus, tmp_path):
    docs, emb = corpus
    lex_store = str(tmp_path / "lex")
    write_postings_index(docs, lex_store, n_doc_shards=2, n_token_buckets=8)
    full_lex = ServingLexicalIndex.from_store(spark, lex_store)
    lex_replicas = [
        ServingLexicalIndex.from_store(spark, lex_store, doc_shards=[s])
        for s in (0, 1)
    ]
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    vec_store = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, vec_store, cents, books)
    full_vec = ServingVectorIndex.from_store(spark, vec_store)
    vec_replicas = [
        ServingVectorIndex.from_store(spark, vec_store, cells=cells)
        for cells in ([0, 1, 2, 3], [4, 5, 6, 7])
    ]

    lex_servers = [serving_http.start_lexical_server(r) for r in lex_replicas]
    vec_servers = [serving_http.start_vector_server(r) for r in vec_replicas]
    router, rt = serving_http.start_router_server(
        "lexical",
        [_url(s) for s, _ in lex_servers],
        vector_replicas=[_url(s) for s, _ in vec_servers],
    )
    try:
        status, body = _post(_url(router), "/query", {"query": LEXQ, "k": 10})
        assert status == 200
        assert [
            (c["id"], c["score"], c["rank"]) for c in body["candidates"]
        ] == full_lex.query(LEXQ, k=10)

        qv = [
            float(v)
            for v in emb.filter(F.col("vec_id") == 7).first()["embedding"]
        ]
        status, body = _post(
            _url(router),
            "/hybrid",
            {"query": LEXQ, "vector": qv, "k": 10, "n_probe": 8},
        )
        assert status == 200
        want = hybrid_rrf_point(full_lex, full_vec, LEXQ, qv, k=10, n_probe=8)
        assert [
            (c["id"], c["rrf"], c["rank"]) for c in body["candidates"]
        ] == want
    finally:
        _stop(lex_servers + vec_servers + [(router, rt)])


def test_router_batch_identical_to_point_queries(spark, corpus, tmp_path):
    """POST /query_batch merges each entry with the same law as POST
    /query: results[i] == the point answer for queries[i], across the
    LSH and vector tiers; per-query k overrides the batch k; batch
    envelope guards reject malformed entries with the query index."""
    docs, emb = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 200), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS).cache()
    replicas = [
        ServingIndex.from_dataframes(*shard_dataframes(sigs, bands, 3, s), PARAMS)
        for s in range(3)
    ]
    servers = [serving_http.start_server(r) for r in replicas]
    router, rt = serving_http.start_router_server(
        "lsh", [_url(s) for s, _ in servers]
    )
    try:
        qsigs = [
            [int(v) for v in sigs.filter(F.col("doc_id") == d).first()["sig"]]
            for d in (13, 57, 101)
        ]
        point = [
            _post(_url(router), "/query", {"vector": q, "k": 5})[1]["candidates"]
            for q in qsigs
        ]
        status, body = _post(
            _url(router),
            "/query_batch",
            {"queries": [{"vector": q} for q in qsigs], "k": 5},
        )
        assert status == 200
        assert [r["candidates"] for r in body["results"]] == point
        # per-query k overrides the batch k
        status, body = _post(
            _url(router),
            "/query_batch",
            {"queries": [{"vector": qsigs[0], "k": 2}], "k": 5},
        )
        assert status == 200
        assert len(body["results"][0]["candidates"]) == 2
        # envelope guards carry the offending index
        for bad, msg in (
            ({"queries": []}, "non-empty"),
            ({"queries": [{"vector": qsigs[0]}, 7]}, "queries[1]"),
        ):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _post(_url(router), "/query_batch", bad)
            assert ei.value.code == 400
            assert msg in json.loads(ei.value.read())["error"]
        # a replica's 400 rejection surfaces with the query index
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(
                _url(router),
                "/query_batch",
                {"queries": [{"vector": qsigs[0]}, {"vector": [1, 2, 3]}]},
            )
        assert ei.value.code == 400
        detail = json.loads(ei.value.read())
        assert detail["query_index"] == 1 and "num_perm" in detail["error"]
    finally:
        _stop(servers + [(router, rt)])

    # vector tier: batch == point through the dist-asc merge law
    cents = ann.random_centroids(DIM, 8, seed=43)
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    p = str(tmp_path / "ivfpq_batch")
    write_ivfpq_index(emb, p, cents, books)
    vec_replicas = [
        ServingVectorIndex.from_store(spark, p, cells=cells)
        for cells in ([0, 1, 2, 3], [4, 5, 6, 7])
    ]
    vec_servers = [serving_http.start_vector_server(r) for r in vec_replicas]
    vrouter, vrt = serving_http.start_router_server(
        "vector", [_url(s) for s, _ in vec_servers]
    )
    try:
        qvs = [
            [float(v) for v in emb.filter(F.col("vec_id") == i).first()["embedding"]]
            for i in (0, 41)
        ]
        point = [
            _post(
                _url(vrouter), "/query", {"vector": q, "k": 10, "n_probe": 8}
            )[1]["candidates"]
            for q in qvs
        ]
        status, body = _post(
            _url(vrouter),
            "/query_batch",
            {"queries": [{"vector": q, "n_probe": 8} for q in qvs], "k": 10},
        )
        assert status == 200
        assert [r["candidates"] for r in body["results"]] == point
    finally:
        _stop(vec_servers + [(vrouter, vrt)])


def test_router_failure_law_and_guards(spark, corpus):
    """A dead replica fails the request (no silent partial corpus); a
    replica's 400 envelope rejection passes through; bad tier configs
    are rejected at construction."""
    docs, _ = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 50), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS)
    idx = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    server, st = serving_http.start_server(idx)
    dead = "http://127.0.0.1:9"  # discard port: connection refused
    router, rt = serving_http.start_router_server("lsh", [_url(server), dead])
    try:
        qsig = [int(v) for v in sigs.first()["sig"]]
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert ei.value.code == 502
        detail = json.loads(ei.value.read())
        assert detail["replica"] == dead
        # health reports the dead replica
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(_url(router) + "/health")
        assert ei.value.code == 503
    finally:
        _stop([(router, rt)])
    # 400 pass-through on a healthy single-replica router
    router, rt = serving_http.start_router_server("lsh", [_url(server)])
    try:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": [1, 2, 3], "k": 5})
        assert ei.value.code == 400
        assert "num_perm" in json.loads(ei.value.read())["error"]
        # a replica's 400 for elements outside int64 passes through too
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": [2**70] * len(qsig)})
        assert ei.value.code == 400
        assert json.loads(ei.value.read()) == {
            "error": "vector elements must fit in int64"
        }
        # hybrid on a router without vector replicas
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/hybrid", {"query": "x", "vector": [0.0]})
        assert ei.value.code == 404
    finally:
        _stop([(router, rt), (server, st)])
    with pytest.raises(ValueError, match="tier must be"):
        serving_http.RouterService("bm25", ["http://x"])
    with pytest.raises(ValueError, match="at least one replica"):
        serving_http.RouterService("lsh", [])
    with pytest.raises(ValueError, match="only compose"):
        serving_http.RouterService("lsh", ["http://x"], ["http://y"])


def test_router_timeout_bounds_hung_replica(spark, corpus):
    """The per-replica timeout knob: a replica that accepts the
    connection but never answers must turn into a 502 after ~timeout
    seconds (and show up dead in /health in the same bound) — the
    router never holds a request on a hung replica indefinitely."""
    import socket
    import time

    docs, _ = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 50), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS)
    idx = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    server, st = serving_http.start_server(idx)

    # a deliberately-hung "replica": accepts TCP, reads nothing,
    # writes nothing
    hung = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    hung.bind(("127.0.0.1", 0))
    hung.listen(8)
    hung_url = f"http://127.0.0.1:{hung.getsockname()[1]}"

    router, rt = serving_http.start_router_server(
        "lsh", [_url(server), hung_url], timeout=0.5
    )
    try:
        qsig = [int(v) for v in sigs.first()["sig"]]
        t0 = time.monotonic()
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": qsig, "k": 5})
        elapsed = time.monotonic() - t0
        assert ei.value.code == 502
        assert json.loads(ei.value.read())["replica"] == hung_url
        # bounded by the knob (0.5s) + slack, not the 10s default or
        # an indefinite hold
        assert elapsed < 5.0
        # health: pings run in parallel, the hung replica reads false
        t0 = time.monotonic()
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(_url(router) + "/health")
        elapsed = time.monotonic() - t0
        assert ei.value.code == 503
        h = json.loads(ei.value.read())
        assert h["replicas"][hung_url] is False
        assert h["replicas"][_url(server)] is True
        assert elapsed < 5.0
    finally:
        _stop([(router, rt), (server, st)])
        hung.close()


def test_router_rejects_malformed_200_body(spark, corpus):
    """A replica answering 200 with a body that has no candidates list
    is an incomplete cover like any other failure: 502, not a dropped
    connection (round-8 guard in RouterService._gather)."""
    docs, _ = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 50), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS)
    idx = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    server, st = serving_http.start_server(idx)
    bad, bt = _stub_replica(json.dumps({"status": "ok, but wrong shape"}).encode())
    bad_url = _url(bad)

    router, rt = serving_http.start_router_server(
        "lsh", [_url(server), bad_url]
    )
    try:
        qsig = [int(v) for v in sigs.first()["sig"]]
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert ei.value.code == 502
        detail = json.loads(ei.value.read())
        assert detail["replica"] == bad_url
        assert "candidates" in detail["detail"]
    finally:
        _stop([(router, rt), (server, st), (bad, bt)])


def test_router_rejects_malformed_candidate_entries():
    """A 200 whose candidates list holds an entry the tier's merge
    cannot read (not an object, a field missing, a non-integer id or
    rank, a non-numeric score) is a 502 with a detail, on the point
    and the batch endpoints alike, never a dropped connection."""
    stub, st = _stub_replica(b"")
    cases = [
        ("lsh", [{"id": 1}], "without 'score'"),
        ("lsh", [{"id": 1, "score": 0.5}], "without 'vector_preview'"),
        ("lsh", [{"id": "1", "score": 0.5, "vector_preview": []}], "'id'"),
        ("lsh", [[1, 0.5, []]], "not a JSON object"),
        ("vector", [{"id": 1, "dist": "far", "rank": 1}], "'dist'"),
        ("vector", [{"id": 1, "dist": 0.5}], "without 'rank'"),
        ("lexical", [{"id": 1, "score": 1.0, "rank": 1.5}], "'rank'"),
        ("lexical", [{"id": 1, "score": True, "rank": 1}], "'score'"),
    ]
    try:
        for tier, cands, why in cases:
            stub.body = json.dumps({"candidates": cands}).encode()
            router, rt = serving_http.start_router_server(tier, [_url(stub)])
            try:
                for path, body in (
                    ("/query", {"k": 5}),
                    ("/query_batch", {"queries": [{"k": 5}]}),
                ):
                    with pytest.raises(urllib.error.HTTPError) as ei:
                        _post(_url(router), path, body)
                    assert ei.value.code == 502, (tier, cands, path)
                    reply = json.loads(ei.value.read())
                    assert reply["replica"] == _url(stub)
                    assert why in reply["detail"], (tier, cands, reply)
            finally:
                _stop([(router, rt)])
    finally:
        _stop([(stub, st)])


def test_router_rejects_unparseable_200_body(spark, corpus):
    """A replica (or a proxy in front of it) answering 200 with a
    NON-JSON body must route to the same 502 — json parsing happens
    inside _post's normalizer, never as an exception that drops the
    client connection."""
    docs, _ = corpus
    sigs = minhash.signatures(docs.filter(F.col("doc_id") < 50), PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS)
    idx = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    server, st = serving_http.start_server(idx)
    bad, bt = _stub_replica(b"<html>gateway speaking html</html>")
    bad_url = _url(bad)

    router, rt = serving_http.start_router_server(
        "lsh", [_url(server), bad_url]
    )
    try:
        qsig = [int(v) for v in sigs.first()["sig"]]
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert ei.value.code == 502
        detail = json.loads(ei.value.read())
        assert detail["replica"] == bad_url
    finally:
        _stop([(router, rt), (server, st), (bad, bt)])
