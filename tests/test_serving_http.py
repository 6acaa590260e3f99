"""HTTP query endpoint (operators/serving_http.py): the reference's
POST /query envelope and response over a real socket, backed by the
exported serving index."""

from __future__ import annotations

import gc
import json
import urllib.error
import urllib.request
import weakref

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
    ann,
    lsh,
    minhash,
    retrieval,
    serving_http,
    serving_vector,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import ServingIndex
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    load_table,
    write_ivfpq_index,
)

PARAMS = MinHashParams()


@pytest.fixture(scope="module")
def endpoint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sigs = minhash.signatures(docs, PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS).cache()
    index = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    qsig = [int(v) for v in sigs.filter(F.col("doc_id") == 13).first()["sig"]]
    server, thread = serving_http.start_server(index)
    host, port = server.server_address
    yield f"http://{host}:{port}", qsig, index
    server.shutdown()
    server.server_close()


def _post(url: str, body: dict | str):
    data = (body if isinstance(body, str) else json.dumps(body)).encode()
    req = urllib.request.Request(
        url + "/query", data=data, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_query_self_hit_rank1(endpoint):
    url, qsig, index = endpoint
    status, body = _post(url, {"vector": qsig, "k": 5})
    assert status == 200
    cands = body["candidates"]
    assert 1 <= len(cands) <= 5
    assert cands[0]["id"] == 13
    assert cands[0]["score"] == 1.0
    assert cands[0]["vector_preview"] == qsig[:10]
    # response agrees with the in-process index verbatim
    direct = index.query(qsig, k=5)
    assert [(c["id"], c["score"]) for c in cands] == [
        (d, s) for (d, s, _r) in direct
    ]


def test_k_defaults_to_10(endpoint):
    url, qsig, _ = endpoint
    status, body = _post(url, {"vector": qsig})
    assert status == 200
    assert len(body["candidates"]) <= 10


def test_invalid_envelopes_are_400(endpoint):
    url, qsig, _ = endpoint
    for bad in (
        {"vector": None},
        {"vector": qsig[:7]},  # wrong width
        {"vector": ["x"] * len(qsig)},  # non-integer elements
        {"vector": qsig, "k": "five"},
        [1, 2, 3],  # not an object
        {"vector": [2**70] * len(qsig)},  # elements outside int64
    ):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(url, bad)
        assert ei.value.code == 400
        assert "error" in json.loads(ei.value.read())
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(url, {"vector": [-(2**63) - 1] + qsig[1:]})
    assert json.loads(ei.value.read()) == {
        "error": "vector elements must fit in int64"
    }
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(url, "{not json")
    assert ei.value.code == 400


def test_negative_content_length_is_400(endpoint):
    """A negative Content-Length is answered at once, by the handler
    every server and the router share, not read until the client gives
    up."""
    import socket
    from urllib.parse import urlsplit

    url, _qsig, _index = endpoint
    replica = urlsplit(url)
    router, _thread = serving_http.start_router_server("lsh", [url])
    try:
        for address in ((replica.hostname, replica.port), router.server_address):
            with socket.create_connection(address, timeout=5) as sock:
                sock.sendall(
                    b"POST /query HTTP/1.1\r\nHost: x\r\n"
                    b"Content-Length: -1\r\n\r\n"
                )
                reply = sock.makefile("rb").read()
            head, _sep, body = reply.partition(b"\r\n\r\n")
            assert head.split(b"\r\n")[0].split()[1] == b"400"
            assert json.loads(body) == {"error": "invalid JSON body"}
    finally:
        router.shutdown()
        router.server_close()


def test_short_body_times_out_with_408(endpoint, monkeypatch):
    """A body shorter than its Content-Length is answered 408 once the
    handler's read timeout passes, by every server and the router,
    instead of holding the handler thread until the client leaves."""
    import socket
    import time
    from urllib.parse import urlsplit

    monkeypatch.setattr(serving_http._Handler, "timeout", 0.5)
    url, _qsig, _index = endpoint
    replica = urlsplit(url)
    router, _thread = serving_http.start_router_server("lsh", [url])
    try:
        for address in ((replica.hostname, replica.port), router.server_address):
            with socket.create_connection(address, timeout=5) as sock:
                t0 = time.monotonic()
                sock.sendall(
                    b"POST /query HTTP/1.1\r\nHost: x\r\n"
                    b"Content-Length: 10\r\n\r\n{}"
                )
                reply = sock.makefile("rb").read()
                elapsed = time.monotonic() - t0
            head, _sep, body = reply.partition(b"\r\n\r\n")
            assert head.split(b"\r\n")[0].split()[1] == b"408"
            assert json.loads(body) == {"error": "request timed out"}
            assert elapsed < 4.0
    finally:
        router.shutdown()
        router.server_close()


def test_health_and_404(endpoint):
    url, _, index = endpoint
    with urllib.request.urlopen(url + "/health") as resp:
        body = json.loads(resp.read())
    assert body["status"] == "ok"
    assert body["n_docs"] == index.doc_ids.size
    # round-11: health carries per-index staleness; a from_dataframes
    # index on a spark-less server has no persisted identity to probe,
    # so the answer is the honest tri-state unknown — never a 500
    assert body["stale"] == {"lsh": None}
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(url + "/nope")
    assert ei.value.code == 404


def test_closed_server_frees_its_index(spark, sf_dir):
    """A stopped replica lets go of its index at close, without waiting
    for a cyclic garbage collection to find it."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    sigs = minhash.signatures(docs, PARAMS).cache()
    index = ServingIndex.from_dataframes(sigs, lsh.bands_table(sigs, PARAMS), PARAMS)
    sigs.unpersist()
    alive = weakref.ref(index)
    gc.disable()
    try:
        server, thread = serving_http.start_server(index)
        del index
        host, port = server.server_address
        with urllib.request.urlopen(f"http://{host}:{port}/health") as resp:
            assert json.loads(resp.read())["status"] == "ok"
        server.shutdown()
        server.server_close()
        thread.join(timeout=10)
        assert not thread.is_alive()
        assert alive() is None
    finally:
        gc.enable()


def test_reload_is_mutually_exclusive(spark, sf_dir):
    """Two concurrent POST /reload must not both run Spark export jobs:
    the check-and-swap is guarded by server.reload_lock (the same lock
    the documented manual `server.service.index = ...` swap should
    hold), and the loser answers 409 immediately — the winner's swap
    IS the snapshot the loser wanted (round-11 ADVICE)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    sigs = minhash.signatures(docs, PARAMS)
    bands = lsh.bands_table(sigs, PARAMS)
    index = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    server, _thread = serving_http.start_server(index, spark=spark)
    host, port = server.server_address
    url = f"http://{host}:{port}"

    def _reload():
        req = urllib.request.Request(
            url + "/reload", data=b"{}",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())

    try:
        # a concurrent reload (simulated by holding the server's own
        # lock, exactly what a manual swap does) is refused with 409
        assert server.reload_lock.acquire(blocking=False)
        try:
            with pytest.raises(urllib.error.HTTPError) as ei:
                _reload()
            assert ei.value.code == 409
            assert "in progress" in json.loads(ei.value.read())["error"]
        finally:
            server.reload_lock.release()
        # once released, reload proceeds normally (untracked here)
        status, body = _reload()
        assert status == 200
        assert body["indexes"]["lsh"] == {"tracked": False, "reloaded": False}
    finally:
        server.shutdown()
        server.server_close()


def test_sharded_replicas_from_persisted_index_scatter_gather(
    spark, sf_dir, tmp_path
):
    """Reference scatter-gather parity (app/src/query_service.py:167-192)
    from the PERSISTED shard-partitioned index: each replica's export
    reads only its shard's files, two live HTTP replicas merged via
    merge_topk answer identically to one full index."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import (
        merge_topk,
    )
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        write_bands_sharded,
        write_sigs_sharded,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, PARAMS).cache()
    bands = lsh.bands_table(sigs, PARAMS)
    sigs_p = str(tmp_path / "sigs_sharded")
    table = "t_shard_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        write_sigs_sharded(sigs, sigs_p, n_shards=2)
        write_bands_sharded(bands, table, n_shards=2, num_buckets=4)

        # export pruning: each replica's scan must touch ONLY its
        # shard's files, for both artifacts. (inputFiles() reflects
        # partition pruning for catalog tables; for the path-based sigs
        # read it lists the whole FileIndex, so assert the plan's
        # PartitionFilters there instead.)
        all_band_files = set(spark.table(table).inputFiles())
        for shard in (0, 1):
            bf = set(
                spark.table(table).filter(F.col("shard") == shard).inputFiles()
            )
            assert bf and bf < all_band_files
            assert all(f"shard={shard}" in f for f in bf)
            sig_plan = (
                spark.read.parquet(sigs_p)
                .filter(F.col("shard") == shard)
                .select("doc_id", "sig")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            scan = next(
                l for l in sig_plan.splitlines() if "PartitionFilters" in l
            )
            assert "shard" in scan.split("PartitionFilters")[1][:120]

        replicas = [
            ServingIndex.from_sharded(spark, sigs_p, table, PARAMS, shard)
            for shard in (0, 1)
        ]
        assert sorted(
            set(replicas[0].doc_ids) | set(replicas[1].doc_ids)
        ) == sorted(int(r["doc_id"]) for r in sigs.select("doc_id").collect())
        full = ServingIndex.from_dataframes(sigs, bands, PARAMS)

        servers = [serving_http.start_server(idx) for idx in replicas]
        try:
            qsig = [int(v) for v in sigs.filter(F.col("doc_id") == 13).first()["sig"]]
            per_replica = []
            for server, _thread in servers:
                host, port = server.server_address
                status, body = _post(f"http://{host}:{port}", {"vector": qsig, "k": 5})
                assert status == 200
                per_replica.append(
                    [(c["id"], c["score"], i + 1) for i, c in enumerate(body["candidates"])]
                )
            merged = merge_topk(per_replica, k=5)
            assert merged == full.query(qsig, k=5)
            assert merged[0][0] == 13 and merged[0][1] == 1.0
        finally:
            for server, _thread in servers:
                server.shutdown()
                server.server_close()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


NO_SPARK = (
    "server started without a SparkSession — pass spark= to start_* to "
    "enable /reload"
)
OBJECT = {"error": "body must be a JSON object"}
K_INT = {"error": "k must be an integer"}
NOT_FOUND = {"error": "not found"}
SIG_W = PARAMS.num_perm
DIM = 64  # the sf0.001 embeddings


def _error_table(sig, qv):
    """(server, method, path, body, status, reply) for every 400 and 404
    the replicas and the router answer; ``body`` is JSON-encoded unless
    it is a str (sent as is)."""
    ints = {"error": "vector must be a list of integers"}
    nums = {"error": "vector must be a list of numbers"}
    sig_w3 = {"error": f"vector width 3 != num_perm {SIG_W}"}
    dim_w1 = {"error": f"vector width 1 != dim {DIM}"}
    n_probe = {"error": "n_probe must be a positive integer"}
    c_pos = {"error": "c must be a positive integer"}
    text = {"error": "query must be a string"}
    no_terms = {"error": "query has no terms"}
    post = "POST"
    return [
        ("lsh", post, "/query", [1, 2, 3], 400, OBJECT),
        ("lsh", post, "/query", "{not json", 400, {"error": "invalid JSON body"}),
        ("lsh", post, "/query", {"vector": None}, 400, ints),
        ("lsh", post, "/query", {"k": "x"}, 400, ints),
        ("lsh", post, "/query", {"vector": ["x"] * SIG_W}, 400, ints),
        ("lsh", post, "/query", {"vector": [True] * SIG_W}, 400, ints),
        ("lsh", post, "/query", {"vector": [1.5] * SIG_W}, 400, ints),
        ("lsh", post, "/query", {"vector": [1, 2, 3], "k": "x"}, 400, sig_w3),
        ("lsh", post, "/query", {"vector": sig, "k": "five"}, 400, K_INT),
        ("lsh", post, "/query", {"vector": sig, "k": False}, 400, K_INT),
        ("lsh", post, "/reload", {}, 400, {"error": NO_SPARK}),
        ("lsh", post, "/nope", {}, 404, NOT_FOUND),
        ("lsh", "GET", "/nope", None, 404, NOT_FOUND),
        ("vector", post, "/query", [1], 400, OBJECT),
        ("vector", post, "/query", {"vector": "nope"}, 400, nums),
        ("vector", post, "/query", {"vector": [None] * DIM}, 400, nums),
        ("vector", post, "/query", {"vector": [0.0], "k": "x"}, 400, dim_w1),
        ("vector", post, "/query", {"vector": qv, "k": 1.0}, 400, K_INT),
        ("vector", post, "/query", {"vector": qv, "k": "x", "n_probe": 0}, 400,
         K_INT),
        ("vector", post, "/query", {"vector": qv, "n_probe": 0}, 400, n_probe),
        ("vector", post, "/query", {"vector": qv, "n_probe": 2.5}, 400, n_probe),
        ("vector", post, "/query", {"vector": qv, "shortlist": "5"}, 400,
         {"error": "shortlist must be an integer or null"}),
        ("vector", post, "/query", {"vector": qv, "shortlist": 5}, 400,
         {"error": "shortlist rerank needs vectors retained at export "
                   "(pass embeddings to from_store)"}),
        ("vector", post, "/reload", {}, 400, {"error": NO_SPARK}),
        ("vector", post, "/hybrid", {}, 404, NOT_FOUND),
        ("vector", "GET", "/nope", None, 404, NOT_FOUND),
        ("lexical", post, "/query", '"x"', 400, OBJECT),
        ("lexical", post, "/query", {"query": 7}, 400, text),
        ("lexical", post, "/query", {"query": "a", "k": "x"}, 400, K_INT),
        ("lexical", post, "/query", {"query": "  "}, 400, no_terms),
        ("lexical", post, "/reload", {}, 400, {"error": NO_SPARK}),
        ("lexical", post, "/nope", {}, 404, NOT_FOUND),
        ("lexical", post, "/hybrid", [1], 400, OBJECT),
        ("lexical", post, "/hybrid", {"query": 7, "vector": [0.0]}, 400, text),
        ("lexical", post, "/hybrid", {"query": "a", "vector": "x"}, 400, nums),
        ("lexical", post, "/hybrid", {"query": "a", "vector": [0.0]}, 400, dim_w1),
        ("lexical", post, "/hybrid", {"query": "a", "vector": qv, "k": "x",
                                      "c": 0}, 400, K_INT),
        ("lexical", post, "/hybrid", {"query": "a", "vector": qv, "n_probe": 0,
                                      "c": 0}, 400, n_probe),
        ("lexical", post, "/hybrid", {"query": "a", "vector": qv, "c": 0}, 400,
         c_pos),
        ("lexical", post, "/hybrid", {"query": " ", "vector": qv}, 400, no_terms),
        ("router", post, "/query", [1], 400, OBJECT),
        ("router", post, "/query", {"vector": [1, 2, 3], "k": "x"}, 400, K_INT),
        ("router", post, "/query", {"vector": [1, 2, 3]}, 400, sig_w3),
        ("router", post, "/query", {"vector": sig, "k": True}, 400, K_INT),
        ("router", post, "/query_batch", "7", 400, OBJECT),
        ("router", post, "/query_batch", {"queries": []}, 400,
         {"error": "queries must be a non-empty list"}),
        ("router", post, "/query_batch", {"queries": {"vector": sig}}, 400,
         {"error": "queries must be a non-empty list"}),
        ("router", post, "/query_batch", {"queries": [7], "k": "x"}, 400, K_INT),
        ("router", post, "/query_batch", {"queries": [{"vector": sig}, 7]}, 400,
         {"error": "queries[1] must be a JSON object"}),
        ("router", post, "/query_batch",
         {"queries": [{"vector": sig}, {"vector": sig, "k": "x"}]}, 400,
         {"error": "queries[1].k must be an integer"}),
        ("router", post, "/query_batch",
         {"queries": [{"vector": sig}, {"vector": [1, 2, 3]}]}, 400,
         {**sig_w3, "query_index": 1}),
        ("router", post, "/hybrid", [1], 404,
         {"error": "router has no vector replicas"}),
        ("router", post, "/nope", {}, 404, NOT_FOUND),
        ("router", "GET", "/nope", None, 404, NOT_FOUND),
        ("hybrid_router", post, "/hybrid", [1], 400, OBJECT),
        ("hybrid_router", post, "/hybrid", {"query": "a", "k": "x", "c": 0}, 400,
         K_INT),
        ("hybrid_router", post, "/hybrid", {"query": "a", "vector": qv, "c": 0},
         400, c_pos),
        ("hybrid_router", post, "/hybrid", {"query": 7, "vector": qv}, 400, text),
        ("hybrid_router", post, "/hybrid", {"query": " ", "vector": qv}, 400,
         no_terms),
        ("hybrid_router", post, "/hybrid", {"query": "a", "vector": [0.0]}, 400,
         dim_w1),
        ("hybrid_router", post, "/hybrid",
         {"query": "a", "vector": qv, "n_probe": 0}, 400, n_probe),
        ("hybrid_router", post, "/query", {"query": 7}, 400, text),
        ("hybrid_router", post, "/query_batch",
         {"queries": [{"query": "a"}, {"query": None}]}, 400,
         {**text, "query_index": 1}),
    ]


def test_every_error_reply_is_pinned(endpoint, spark, sf_dir, tmp_path):
    """Exact status and JSON body of every 400 and 404 of the LSH,
    vector, lexical and hybrid replicas and of the router's /query,
    /query_batch and /hybrid, including which rule wins when a body
    breaks several."""
    lsh_url, sig, _index = endpoint
    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "ivfpq")
    write_ivfpq_index(
        emb, store, ann.random_centroids(DIM, 8, seed=43),
        ann.random_codebooks(DIM, 8, 16, seed=44),
    )
    vec_index = serving_vector.ServingVectorIndex.from_store(spark, store)
    qv = [float(v) for v in emb.first()["embedding"]]
    lex_index = retrieval.ServingLexicalIndex.from_dataframe(
        load_table(spark, sf_dir, "documents")
    )

    def _url(server):
        host, port = server.server_address
        return f"http://{host}:{port}"

    vec, _t = serving_http.start_vector_server(vec_index)
    lex, _t = serving_http.start_lexical_server(lex_index, vec_index)
    router, _t = serving_http.start_router_server("lsh", [lsh_url])
    hybrid, _t = serving_http.start_router_server("lexical", [_url(lex)], [_url(vec)])
    servers = {
        "lsh": lsh_url,
        "vector": _url(vec),
        "lexical": _url(lex),
        "router": _url(router),
        "hybrid_router": _url(hybrid),
    }
    try:
        for name, method, path, body, status, reply in _error_table(sig, qv):
            data = None
            if method == "POST":
                data = (body if isinstance(body, str) else json.dumps(body)).encode()
            req = urllib.request.Request(servers[name] + path, data=data, method=method)
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=30)
            got = (ei.value.code, json.loads(ei.value.read()))
            assert got == (status, reply), (name, method, path, body)
    finally:
        for server in (vec, lex, router, hybrid):
            server.shutdown()
            server.server_close()
