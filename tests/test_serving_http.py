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
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import ServingIndex
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import serving_http
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

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
    ):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post(url, bad)
        assert ei.value.code == 400
        assert "error" in json.loads(ei.value.read())
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post(url, "{not json")
    assert ei.value.code == 400


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
