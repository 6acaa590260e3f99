"""Retention: a deletion set removed from every persisted index family
through each store's own delete (LSH bands + signatures, IVF-PQ, flat
PQ, lexical postings) leaves no trace in any store or probe path; a
process death inside those deletes is healed by each store's own
``recover_*``; and the serving tiers reload onto the post-delete
stores without dropping a connection."""

from __future__ import annotations

import json
import os
import shutil
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import (
    ann,
    lsh,
    minhash,
    retrieval,
    serving_http,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import ServingIndex
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_vector import (
    ServingVectorIndex,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    delete_from_index,
    delete_from_ivfpq_index,
    delete_from_postings_index,
    delete_from_pq_index,
    load_table,
    read_postings_corpus_stats,
    recover_compact_swap,
    recover_ivfpq_swap,
    recover_postings_swap,
    recover_pq_swap,
    recover_sigs_swap,
    validate_index,
    validate_ivfpq_store,
    validate_postings_store,
    validate_pq_store,
    write_bands_bucketed,
    write_ivfpq_index,
    write_postings_index,
    write_pq_index,
)

DIM, M, CODES, CELLS = 64, 8, 16, 8
DELETE_IDS = [3, 7, 11]


def _build_all_stores(spark, sf_dir, tmp_path, tag):
    """One store per family over the same fixture corpus, all holding
    the same id space."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    p = MinHashParams()
    sigs = minhash.signatures(docs, p)

    table = f"retention_bands_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bands_bucketed(lsh.bands_table(sigs, p), table, num_buckets=4)
    sigs_path = str(tmp_path / f"sigs_{tag}")
    sigs.write.parquet(sigs_path)

    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    ivfpq_path = str(tmp_path / f"ivfpq_{tag}")
    write_ivfpq_index(emb, ivfpq_path, ann.random_centroids(DIM, CELLS, seed=45), books)
    pq_path = str(tmp_path / f"pq_{tag}")
    write_pq_index(emb, pq_path, books)

    postings_path = str(tmp_path / f"postings_{tag}")
    write_postings_index(docs, postings_path, n_doc_shards=2, n_token_buckets=4)
    return dict(
        table=table,
        sigs_path=sigs_path,
        ivfpq_path=ivfpq_path,
        pq_path=pq_path,
        postings_path=postings_path,
        emb=emb,
        docs=docs,
    )


def _drop_tables(spark, st):
    for suffix in ("", "__compact_tmp", "__compact_old"):
        spark.sql(f"DROP TABLE IF EXISTS {st['table']}{suffix}")


def _delete_everywhere(spark, st, ids=DELETE_IDS):
    delete_from_index(spark, ids, st["sigs_path"], st["table"])
    delete_from_ivfpq_index(spark, ids, st["ivfpq_path"])
    delete_from_pq_index(spark, ids, st["pq_path"])
    delete_from_postings_index(spark, ids, st["postings_path"])


def _count_ids(spark, st):
    """How many rows of the deletion set each store still holds."""
    ids = tuple(DELETE_IDS)
    return {
        "bands": spark.table(st["table"]).filter(F.col("doc_id").isin(*ids)).count(),
        "sigs": spark.read.parquet(st["sigs_path"])
        .filter(F.col("doc_id").isin(*ids))
        .count(),
        "ivfpq": spark.read.parquet(st["ivfpq_path"])
        .filter(F.col("vec_id").isin(*ids))
        .count(),
        "pq": spark.read.parquet(st["pq_path"])
        .filter(F.col("vec_id").isin(*ids))
        .count(),
        "postings": spark.read.parquet(st["postings_path"])
        .filter(F.col("doc_id").isin(*ids))
        .count(),
        "doc_lengths": spark.read.parquet(
            os.path.join(st["postings_path"], "_doc_lengths")
        )
        .filter(F.col("doc_id").isin(*ids))
        .count(),
    }


def _validate_all(spark, st):
    validate_index(spark, st["sigs_path"], st["table"])
    validate_ivfpq_store(spark, st["ivfpq_path"])
    validate_pq_store(spark, st["pq_path"])
    validate_postings_store(spark, st["postings_path"])


def _assert_no_trace(spark, st):
    """Every store's contents AND probe paths are clean of the deleted
    ids, and every store still validates against its own sidecars."""
    ids = tuple(DELETE_IDS)
    assert set(_count_ids(spark, st).values()) == {0}

    # probe paths: a deleted doc's own vector/text cannot reach any
    # result list (it was its own rank-1 hit before the delete)
    q_emb = st["emb"].filter(F.col("vec_id") == DELETE_IDS[0]).first()["embedding"]
    got = ann.ivfpq_topk_store(
        spark, st["ivfpq_path"], list(q_emb), k=5, n_probe=CELLS
    ).collect()
    assert got and all(r["vec_id"] not in ids for r in got)
    got = ann.pq_topk_store(spark, st["pq_path"], list(q_emb), k=5).collect()
    assert got and all(r["vec_id"] not in ids for r in got)
    q_text = st["docs"].filter(F.col("doc_id") == DELETE_IDS[0]).first()["text"]
    got = retrieval.bm25_topk_store(
        spark, st["postings_path"], " ".join(q_text.split()[:8]), k=5
    ).collect()
    assert all(r["doc_id"] not in ids for r in got)

    _validate_all(spark, st)


def _recover_all_stores(spark, st):
    return {
        "bands": recover_compact_swap(spark, st["table"]),
        "sigs": recover_sigs_swap(st["sigs_path"]),
        "ivfpq": recover_ivfpq_swap(st["ivfpq_path"]),
        "pq": recover_pq_swap(st["pq_path"]),
        "postings": recover_postings_swap(st["postings_path"]),
    }


def test_delete_docs_everywhere_no_trace(spark, sf_dir, tmp_path):
    st = _build_all_stores(spark, sf_dir, tmp_path, "full")
    n_docs_before, _ = read_postings_corpus_stats(spark, st["postings_path"])
    try:
        _delete_everywhere(spark, st)
        _assert_no_trace(spark, st)
        # corpus stats shrink with the corpus: BM25 idf/avgdl reflect
        # the post-delete corpus, not the original
        n_docs_after, _ = read_postings_corpus_stats(spark, st["postings_path"])
        assert n_docs_after == n_docs_before - len(DELETE_IDS)
        # no swap leftovers next to any store
        for path in (st["sigs_path"], st["ivfpq_path"], st["pq_path"], st["postings_path"]):
            parent, name = os.path.split(path)
            assert [n for n in os.listdir(parent) if n.startswith(name + "__")] == []
        # re-running the deletes converges
        _delete_everywhere(spark, st)
        _assert_no_trace(spark, st)
        assert read_postings_corpus_stats(spark, st["postings_path"])[0] == n_docs_after
    finally:
        _drop_tables(spark, st)


def test_recover_retention_rolls_forward_mid_fan(spark, sf_dir, tmp_path, monkeypatch):
    """Deletes fanned over every store, the process dying inside the
    swaps of all but the first: each store died AFTER its original was
    set aside and BEFORE its rewrite was renamed in. Every store's own
    recover rolls the complete rewrite forward; re-running the LSH
    delete finishes the signature half its bands swap never reached,
    and no store keeps serving the deleted ids."""
    st = _build_all_stores(spark, sf_dir, tmp_path, "crash")

    def dying_swap(live, tmp, old, rename, drop, sync=lambda name: None):
        rename(live, old)
        sync(old)
        raise RuntimeError("simulated process death mid-swap")

    try:
        delete_from_ivfpq_index(spark, DELETE_IDS, st["ivfpq_path"])
        monkeypatch.setattr(T, "_swap_in_protocol", dying_swap)
        with pytest.raises(RuntimeError, match="mid-swap"):
            delete_from_pq_index(spark, DELETE_IDS, st["pq_path"])
        with pytest.raises(RuntimeError, match="mid-swap"):
            delete_from_postings_index(spark, DELETE_IDS, st["postings_path"])
        with pytest.raises(RuntimeError, match="mid-swap"):
            delete_from_index(spark, DELETE_IDS, st["sigs_path"], st["table"])
        monkeypatch.undo()

        # the died-in stores have no live copy until recovery runs
        assert not os.path.exists(st["pq_path"])
        assert not os.path.exists(st["postings_path"])
        assert not spark.catalog.tableExists(st["table"])

        assert _recover_all_stores(spark, st) == {
            "bands": True, "sigs": False, "ivfpq": False, "pq": True, "postings": True,
        }
        left = _count_ids(spark, st)
        assert left.pop("sigs") > 0  # the delete died before this half
        assert set(left.values()) == {0}
        delete_from_index(spark, DELETE_IDS, st["sigs_path"], st["table"])
        _assert_no_trace(spark, st)
        # idempotent: a second recovery pass is a no-op
        assert set(_recover_all_stores(spark, st).values()) == {False}
    finally:
        _drop_tables(spark, st)


def test_crash_before_manifest_rolls_back(spark, sf_dir, tmp_path, monkeypatch):
    """Death after each delete prepared its rewrite but BEFORE its swap
    began: no live store changed and every store still serves the
    not-yet-deleted ids. Recovery keeps the live copy, clears the
    prepared rewrites, and leaves every store valid."""
    st = _build_all_stores(spark, sf_dir, tmp_path, "prep")
    before = _count_ids(spark, st)
    assert all(n > 0 for n in before.values())

    def dying_swap(live, tmp, old, rename, drop, sync=lambda name: None):
        raise RuntimeError("simulated death before the swap")

    try:
        monkeypatch.setattr(T, "_swap_in_protocol", dying_swap)
        for delete in (
            lambda: delete_from_index(spark, DELETE_IDS, st["sigs_path"], st["table"]),
            lambda: delete_from_ivfpq_index(spark, DELETE_IDS, st["ivfpq_path"]),
            lambda: delete_from_pq_index(spark, DELETE_IDS, st["pq_path"]),
            lambda: delete_from_postings_index(spark, DELETE_IDS, st["postings_path"]),
        ):
            with pytest.raises(RuntimeError, match="before the swap"):
                delete()
        monkeypatch.undo()

        # every live store is untouched — the ids are all still present
        assert _count_ids(spark, st) == before
        # the prepared rewrites of the directory stores are what the
        # recovers clear; the live copies win
        assert _recover_all_stores(spark, st) == {
            "bands": False, "sigs": False, "ivfpq": True, "pq": True, "postings": True,
        }
        for path in (st["ivfpq_path"], st["pq_path"], st["postings_path"]):
            assert not os.path.exists(path + "__compact_tmp")
        assert _count_ids(spark, st) == before
        _validate_all(spark, st)
    finally:
        _drop_tables(spark, st)


def test_serving_reload_after_retention(spark, sf_dir, tmp_path):
    """The in-process serving tiers snapshot their stores at load and
    keep answering with a deleted id after a store delete; the
    staleness check must fire (O(stat), no data read) and reload()
    must re-snapshot WITHOUT dropping the sockets — after the swap no
    tier returns the deleted ids."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.retrieval import (
        ServingLexicalIndex,
    )

    def _post(url, path, body):
        req = urllib.request.Request(
            url + path,
            data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    def _url(server):
        host, port = server.server_address
        return f"http://{host}:{port}"

    st = _build_all_stores(spark, sf_dir, tmp_path, "reload")
    p = MinHashParams()
    ids = tuple(DELETE_IDS)
    # pre-delete probes, captured while the doc still exists
    qsig = [
        int(v)
        for v in spark.read.parquet(st["sigs_path"])
        .filter(F.col("doc_id") == DELETE_IDS[0])
        .first()["sig"]
    ]
    q_emb = [
        float(v)
        for v in st["emb"]
        .filter(F.col("vec_id") == DELETE_IDS[0])
        .first()["embedding"]
    ]
    q_text = " ".join(
        st["docs"]
        .filter(F.col("doc_id") == DELETE_IDS[0])
        .first()["text"]
        .split()[:8]
    )

    lsh_idx = ServingIndex.from_paths(spark, st["sigs_path"], st["table"], p)
    vec_idx = ServingVectorIndex.from_store(
        spark, st["ivfpq_path"], embeddings=st["emb"]
    )
    lex_idx = ServingLexicalIndex.from_store(spark, st["postings_path"])
    replica, rt1 = serving_http.start_server(lsh_idx, spark=spark)
    router, rt2 = serving_http.start_router_server("lsh", [_url(replica)])
    vec_server, vt = serving_http.start_vector_server(vec_idx, spark=spark)
    lex_server, lt = serving_http.start_lexical_server(lex_idx, spark=spark)
    try:
        assert not lsh_idx.is_stale(spark)
        assert not vec_idx.is_stale(spark)
        assert not lex_idx.is_stale(spark)
        # the doc is its own rank-1 hit on every tier before the delete
        body = _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert body["candidates"][0]["id"] == DELETE_IDS[0]
        body = _post(_url(vec_server), "/query", {"vector": q_emb, "k": 5,
                                                  "n_probe": CELLS,
                                                  "shortlist": 20})
        assert body["candidates"][0]["id"] == DELETE_IDS[0]
        # shared synthetic vocab -> membership, not rank: ask for the
        # whole corpus and assert the doc is retrievable at all
        body = _post(_url(lex_server), "/query", {"query": q_text, "k": 500})
        assert any(c["id"] == DELETE_IDS[0] for c in body["candidates"])

        _delete_everywhere(spark, st)
        # the snapshots are now stale — and, until reloaded, STILL
        # serve the deleted id (the gap this check exists to close)
        assert lsh_idx.is_stale(spark)
        assert vec_idx.is_stale(spark)
        assert lex_idx.is_stale(spark)
        body = _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert body["candidates"][0]["id"] == DELETE_IDS[0]
        # the router's /health surfaces the pending reload — per-replica
        # stale=true, liveness still ok (a stale replica serves a
        # consistent pre-delete snapshot, not an outage)
        with urllib.request.urlopen(_url(router) + "/health") as resp:
            assert resp.status == 200
            h = json.loads(resp.read())
        assert h["status"] == "ok"
        assert h["stale"] == {_url(replica): True}
        with urllib.request.urlopen(_url(vec_server) + "/health") as resp:
            h = json.loads(resp.read())
        assert h["stale"] == {"vector": True}

        # hot-swap every tier without dropping a socket — over the
        # wire: the router fans POST /reload to its replicas, the
        # other tiers take it directly; each reload is staleness-
        # checked, so the response reports was_stale=true
        body = _post(_url(router), "/reload", {})
        assert body["status"] == "ok"
        (rep_report,) = body["replicas"].values()
        assert rep_report["indexes"]["lsh"] == {
            "tracked": True, "was_stale": True, "reloaded": True,
        }
        body = _post(_url(vec_server), "/reload", {})
        assert body["indexes"]["vector"]["reloaded"] is True
        body = _post(_url(lex_server), "/reload", {})
        assert body["indexes"]["lexical"]["reloaded"] is True
        # a second reload is a no-op (fresh snapshots, not forced)
        body = _post(_url(vec_server), "/reload", {})
        assert body["indexes"]["vector"] == {
            "tracked": True, "was_stale": False, "reloaded": False,
        }

        body = _post(_url(router), "/query", {"vector": qsig, "k": 5})
        assert body["candidates"] and all(
            c["id"] not in ids for c in body["candidates"]
        )
        body = _post(_url(vec_server), "/query", {"vector": q_emb, "k": 5,
                                                  "n_probe": CELLS,
                                                  "shortlist": 20})
        assert body["candidates"] and all(
            c["id"] not in ids for c in body["candidates"]
        )
        body = _post(_url(lex_server), "/query", {"query": q_text, "k": 500})
        assert body["candidates"] and all(
            c["id"] not in ids for c in body["candidates"]
        )
        # the reloaded snapshots are fresh
        assert not replica.service.index.is_stale(spark)
        assert not vec_server.service.index.is_stale(spark)
        assert not lex_server.service.index.is_stale(spark)
        # ...and the router's health sweep reports the replica clean
        with urllib.request.urlopen(_url(router) + "/health") as resp:
            h = json.loads(resp.read())
        assert h["stale"] == {_url(replica): False}
        with urllib.request.urlopen(_url(vec_server) + "/health") as resp:
            h = json.loads(resp.read())
        assert h["stale"] == {"vector": False}
    finally:
        for server in (router, vec_server, lex_server, replica):
            server.shutdown()
            server.server_close()
        _drop_tables(spark, st)


def test_reload_failure_is_an_http_error_not_a_dropped_connection(
    spark, sf_dir, tmp_path
):
    """A staleness probe that fails hard (store directory gone — e.g.
    caught mid-swap or misconfigured) must surface as an HTTP 500 with
    the error text, keep the old snapshot serving, and never drop the
    client connection."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = ann.random_codebooks(DIM, M, CODES, seed=44)
    cents = ann.random_centroids(DIM, CELLS, seed=45)
    path = str(tmp_path / "reload_err_ivfpq")
    write_ivfpq_index(emb, path, cents, books)
    idx = ServingVectorIndex.from_store(spark, path)
    server, _t = serving_http.start_vector_server(idx, spark=spark)
    host, port = server.server_address
    url = f"http://{host}:{port}"
    try:
        shutil.rmtree(path)  # the store vanishes under the snapshot
        req = urllib.request.Request(
            url + "/reload", data=b"{}",
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(req)
        assert exc.value.code == 500
        body = json.loads(exc.value.read())
        assert body["indexes"]["vector"]["tracked"] is True
        assert "error" in body["indexes"]["vector"]
        # the old snapshot still answers queries
        q = [float(v) for v in emb.first()["embedding"]]
        req = urllib.request.Request(
            url + "/query",
            data=json.dumps({"vector": q, "k": 3}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert json.loads(resp.read())["candidates"]
    finally:
        server.shutdown()
        server.server_close()
