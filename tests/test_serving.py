"""Serving tier (operators/serving.py): the exported in-process index
must agree exactly with the distributed lsh_topk path, and the
driver-side XXH64 must be bit-identical to Spark's xxhash64."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import (
    HASH_FAMILY_XXHASH,
    MinHashParams,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import ServingIndex
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving_hash import (
    band_key_local,
    xxh64,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table


def test_xxh64_matches_spark(spark):
    strs = ["", "a", "abc", "1,2,3,4", "x" * 7, "y" * 8, "z" * 31, "w" * 32,
            "long-string-" * 10, "0" * 100]
    df = spark.createDataFrame([(s,) for s in strs], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    got = {r["s"]: r["h"] for r in df.collect()}
    for s in strs:
        v = xxh64(s.encode(), seed=42)
        signed = v - (1 << 64) if v >= (1 << 63) else v
        assert signed == got[s], s


@pytest.mark.parametrize("family", ["portable", HASH_FAMILY_XXHASH])
def test_band_keys_match_spark_bands_table(spark, sf_dir, family):
    params = MinHashParams(hash_family=family)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    sigs = minhash.signatures(docs, params)
    bands = lsh.bands_table(sigs, params)
    srow = sigs.filter(F.col("doc_id") == 3).first()
    expected = {
        r["band_id"]: r["band_hash"]
        for r in bands.filter(F.col("doc_id") == 3).collect()
    }
    for b in range(params.bands):
        r = params.rows_per_band
        sl = list(srow["sig"])[b * r : (b + 1) * r]
        assert band_key_local(sl, family) == expected[b], f"band {b}"


def test_serving_matches_lsh_topk(spark, sf_dir):
    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, params).cache()
    bands = lsh.bands_table(sigs, params).cache()
    idx = ServingIndex.from_dataframes(sigs, bands, params)

    queries = [r for r in sigs.filter(F.col("doc_id") < 5).collect()]
    assert queries
    for q in queries:
        qs = sigs.filter(F.col("doc_id") == q["doc_id"]).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        dist = [
            (r["doc_id"], round(r["score"], 9), r["rank"])
            for r in lsh.lsh_topk(sigs, bands, qs, params, k=5)
            .orderBy("rank")
            .collect()
        ]
        local = [(d, round(s, 9), r) for d, s, r in idx.query(list(q["sig"]), k=5)]
        assert local == dist, q["doc_id"]


def test_serving_point_latency_sub_10ms(spark, sf_dir):
    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, params).cache()
    bands = lsh.bands_table(sigs, params).cache()
    idx = ServingIndex.from_dataframes(sigs, bands, params)
    q = list(sigs.first()["sig"])
    idx.query(q, k=5)  # warm
    t0 = time.perf_counter()
    for _ in range(20):
        idx.query(q, k=5)
    per_query = (time.perf_counter() - t0) / 20
    assert per_query < 0.010, per_query  # reference's prebuilt-index figure: 6.1ms


def test_serving_rejects_bad_width(spark, sf_dir):
    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents").limit(5)
    sigs = minhash.signatures(docs, params)
    bands = lsh.bands_table(sigs, params)
    idx = ServingIndex.from_dataframes(sigs, bands, params)
    with pytest.raises(ValueError):
        idx.query([1, 2, 3], k=5)


def test_sharded_replicas_merge_to_full_answer(spark, sf_dir):
    """Reference scatter-gather (§3.1 steps 3-5): doc-range replicas
    each answer locally; the merged top-k equals the single-index
    answer."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import (
        merge_topk,
        shard_dataframes,
    )

    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, params).cache()
    bands = lsh.bands_table(sigs, params).cache()
    full = ServingIndex.from_dataframes(sigs, bands, params)
    n = 3
    replicas = [
        ServingIndex.from_dataframes(*shard_dataframes(sigs, bands, n, r), params)
        for r in range(n)
    ]
    for q in sigs.filter(F.col("doc_id") < 5).collect():
        vec = list(q["sig"])
        want = [(d, round(s, 9), r) for d, s, r in full.query(vec, k=5)]
        got = merge_topk([rep.query(vec, k=5) for rep in replicas], k=5)
        got = [(d, round(s, 9), r) for d, s, r in got]
        assert got == want, q["doc_id"]


def test_serving_dense_scan_branch_matches_sparse(spark):
    """Collision-heavy corpora take the density-adaptive full-scan
    branch (cand > N/2); its answers must be identical to the gathered
    sparse path and to lsh_topk. A 3-word-vocab corpus collides nearly
    everything, forcing the dense branch."""
    import random

    rng = random.Random(7)
    words = ["aa", "bb", "cc"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(12)))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    params = MinHashParams(hash_family=HASH_FAMILY_XXHASH)
    sigs = minhash.signatures(docs, params).cache()
    bands = lsh.bands_table(sigs, params).cache()
    idx = ServingIndex.from_dataframes(sigs, bands, params)

    qrow = sigs.filter(F.col("doc_id") == 5).first()
    got = idx.query(list(qrow["sig"]), k=7)
    # dense branch really ran: candidates exceed half the corpus
    q = sigs.filter(F.col("doc_id") == 5).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    n_cand = lsh.candidates(bands, lsh.query_bands(q, params)).count()
    assert n_cand * 2 > 60, n_cand

    expect = [
        (r["doc_id"], r["score"], r["rank"])
        for r in lsh.lsh_topk(sigs, bands, q, params, k=7, n_queries=1)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_serving_from_persisted_index(spark, sf_dir, tmp_path):
    """build -> persist -> append -> serve: the replica loaded from the
    on-disk artifacts must answer exactly like one built from the
    in-memory frames."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents")
    sigs_p = str(tmp_path / "s_sigs")
    try:
        half_a = docs.filter(F.col("doc_id") % 2 == 0)
        sigs_a = minhash.signatures(half_a, params)
        sigs_a.write.mode("overwrite").parquet(sigs_p)
        T.write_bands_bucketed(lsh.bands_table(sigs_a, params), "t_srv_idx", num_buckets=4)
        T.append_to_index(docs.filter(F.col("doc_id") % 2 == 1), params, sigs_p, "t_srv_idx")

        idx = ServingIndex.from_paths(spark, sigs_p, "t_srv_idx", params)
        sigs_all = minhash.signatures(docs, params)
        mem = ServingIndex.from_dataframes(sigs_all, lsh.bands_table(sigs_all, params), params)
        svec = list(sigs_all.filter(F.col("doc_id") == 13).first()["sig"])
        assert idx.query(svec, k=7) == mem.query(svec, k=7)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_srv_idx")


def test_serving_matches_lsh_topk_under_bucket_cap(spark, sf_dir):
    """Under a bucket cap both paths probe the capped corpus buckets
    with uncapped query bands: two identical queries in one batch both
    get an answer, and it equals the serving index's."""
    params = MinHashParams(max_bucket_size=1)
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, params).cache()
    bands = lsh.bands_table(sigs, params).cache()
    idx = ServingIndex.from_dataframes(sigs, bands, params)

    rows = sigs.filter(F.col("doc_id") < 5).collect()
    queries = [(r["doc_id"], list(r["sig"])) for r in rows]
    queries += [(101, queries[0][1]), (102, queries[0][1])]
    qs = spark.createDataFrame(queries, "query_id long, sig array<bigint>")
    dist: dict = {}
    for r in lsh.lsh_topk(sigs, bands, qs, params, k=5, n_queries=len(queries)).collect():
        dist.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9), r["rank"]))
    for qid, vec in queries:
        local = [(d, round(s, 9), r) for d, s, r in idx.query(vec, k=5)]
        assert local, qid
        assert local == sorted(dist.get(qid, []), key=lambda t: t[2]), qid
