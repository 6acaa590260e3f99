"""M1 end-to-end: shingle -> MinHash -> bands -> LSH top-k.

Oracle: brute-force estimated-Jaccard over all docs (tiny sf0.001) and
a pure-NumPy reimplementation of the portable MinHash family.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import (
    MERSENNE31,
    MinHashParams,
    perm_coeffs,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.arrays import (
    est_jaccard,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    shingle_hash,
)
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

PARAMS = MinHashParams()


def py_portable_hash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_shingles(text: str, params: MinHashParams) -> list[str]:
    k = params.k_shingle
    if params.by_word:
        tokens = [t for t in text.split(" ") if t]
        if k > 1 and len(tokens) < k:
            return [" ".join(tokens)]
        grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    else:
        grams = [text] if len(text) < k else [text[i : i + k] for i in range(len(text) - k + 1)]
    return list(dict.fromkeys(grams))


def py_signature(
    text: str | None, params: MinHashParams = PARAMS, hash_of=None
) -> list[int] | None:
    """``hash_of``: shingle -> field hash; the portable md5 family when None."""
    if text is None:
        return None
    a, b = perm_coeffs(params.num_perm, params.seed)
    hash_of = hash_of or (lambda s: py_portable_hash(s) % MERSENNE31)
    hs = [hash_of(s) for s in py_shingles(text, params)]
    if not hs:
        return [MERSENNE31] * params.num_perm
    return [min((a[i] * h + b[i]) % MERSENNE31 for h in hs) for i in range(params.num_perm)]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def sigs(docs):
    return minhash.signatures(docs, PARAMS).cache()


def test_signature_matches_python_oracle(spark, docs, sigs):
    sample = docs.filter(F.col("doc_id").isin([0, 7, 42])).select("doc_id", "text").collect()
    got = {r["doc_id"]: r["sig"] for r in sigs.filter(F.col("doc_id").isin([0, 7, 42])).collect()}
    for row in sample:
        assert got[row["doc_id"]] == py_signature(row["text"]), f"doc {row['doc_id']}"

    # Edge texts (null, empty, blank, shorter than k) among real docs,
    # for every shingling, hash family and width; Arrow batches of 7
    # rows over 3 partitions, so each partition arrives in several.
    texts = [r["text"] for r in docs.filter("doc_id < 40").orderBy("doc_id").collect()]
    texts += [None, "", "   ", "solo", "x y", "x  y x"]
    edge = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    edge = edge.repartition(3)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for params in (
            PARAMS,
            MinHashParams(k_shingle=3),
            MinHashParams(by_word=False, k_shingle=3),
            MinHashParams(hash_family="xxhash64"),
            MinHashParams(num_perm=64),
        ):
            got = dict(map(tuple, minhash.signatures(edge, params).collect()))
            hash_of = None
            if params.hash_family != PARAMS.hash_family:
                # hashing stays in the JVM; the oracle checks the permutations
                shingles = sorted({s for t in texts if t is not None for s in py_shingles(t, params)})
                jvm = spark.createDataFrame([(s,) for s in shingles], "s string").select(
                    "s", shingle_hash(F.col("s"), params.hash_family).alias("h")
                )
                hash_of = dict(map(tuple, jvm.collect())).__getitem__
            for i, text in enumerate(texts):
                assert got[i] == py_signature(text, params, hash_of), (params, text)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")

    # Spark hands the kernel whole batches; sliced batches and null
    # hashes reach it only through the Arrow API, so check those here
    a, b = (np.asarray(c) for c in perm_coeffs(PARAMS.num_perm, PARAMS.seed))
    hashed = [
        None if t is None else [py_portable_hash(s) % MERSENNE31 for s in py_shingles(t, PARAMS)]
        for t in texts
    ]
    want = [py_signature(t) for t in texts]
    hashed.insert(1, [None, *hashed[0], None])
    want.insert(1, want[0])
    batch = pa.array(hashed, type=pa.list_(pa.int64()))
    for start in range(0, len(batch), 5):
        got = minhash.sign_batch(batch.slice(start, 9), a, b).to_pylist()
        assert got == want[start : start + 9], start


def test_signature_bit_stable(docs):
    s1 = minhash.signatures(docs, PARAMS).orderBy("doc_id").limit(5).collect()
    s2 = minhash.signatures(docs, PARAMS).orderBy("doc_id").limit(5).collect()
    assert [r["sig"] for r in s1] == [r["sig"] for r in s2]


def test_bands_shape(sigs):
    bands = lsh.bands_table(sigs, PARAMS)
    n_docs = sigs.count()
    assert bands.count() == n_docs * PARAMS.bands
    row = bands.groupBy("doc_id").count().agg(F.min("count"), F.max("count")).collect()[0]
    assert row[0] == row[1] == PARAMS.bands


def test_lsh_topk_contains_self_and_matches_bruteforce(sigs):
    qid = 13
    k = 10
    bands = lsh.bands_table(sigs, PARAMS)
    qsigs = sigs.filter(F.col("doc_id") == qid).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    result = lsh.lsh_topk(sigs, bands, qsigs, PARAMS, k=k).collect()
    assert len(result) >= 1
    # rank 1 must be the query itself with score 1.0
    top = sorted(result, key=lambda r: r["rank"])[0]
    assert top["doc_id"] == qid and top["score"] == 1.0

    # every returned candidate's score must match the brute-force score
    qsig_row = qsigs.collect()[0]["sig"]
    brute = {
        r["doc_id"]: r["score"]
        for r in sigs.select(
            "doc_id",
            est_jaccard(F.col("sig"), F.array(*[F.lit(v) for v in qsig_row]), PARAMS.num_perm).alias(
                "score"
            ),
        ).collect()
    }
    for r in result:
        assert abs(r["score"] - brute[r["doc_id"]]) < 1e-12
    # LSH candidates all share >= 1 full band with the query => their
    # score can't be beaten by a non-candidate that also shares a band.
    # (Recall vs brute force is measured in the metrics harness, not here.)


def test_bucket_cap_deterministic(sigs):
    capped = lsh.cap_buckets(lsh.bands_table(sigs, PARAMS), cap=2)
    sizes = capped.groupBy("band_id", "band_hash").count()
    assert sizes.agg(F.max("count")).collect()[0][0] <= 2
    # kept ids are the smallest per bucket: re-running yields same rows
    a = sorted(map(tuple, capped.collect()))
    b = sorted(map(tuple, lsh.cap_buckets(lsh.bands_table(sigs, PARAMS), cap=2).collect()))
    assert a == b


def test_self_join_pairs_symmetric_free(sigs):
    bands = lsh.bands_table(sigs, PARAMS)
    pairs = lsh.self_join_pairs(bands, sigs, PARAMS, threshold=0.3).collect()
    seen = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert all(a < b for a, b in seen)
    assert len(seen) == len(pairs)  # distinct


def test_candidate_cap_keeps_smallest_ids(sigs):
    bands = lsh.bands_table(sigs, PARAMS)
    qsigs = sigs.limit(3).select(F.col("doc_id").alias("query_id"), "sig")
    qb = lsh.query_bands(qsigs, PARAMS)
    full = lsh.candidates(bands, qb).collect()
    capped = lsh.candidates(bands, qb, max_candidates=5).collect()
    by_q_full: dict[int, list[int]] = {}
    for r in full:
        by_q_full.setdefault(r["query_id"], []).append(r["doc_id"])
    by_q_capped: dict[int, list[int]] = {}
    for r in capped:
        by_q_capped.setdefault(r["query_id"], []).append(r["doc_id"])
    for q, docs_full in by_q_full.items():
        expect = sorted(docs_full)[:5]
        assert sorted(by_q_capped[q]) == expect


def test_lsh_topk_with_candidate_cap_runs(sigs):
    params = MinHashParams(max_candidates=10)
    bands = lsh.bands_table(sigs, params)
    qsigs = sigs.limit(1).select(F.col("doc_id").alias("query_id"), "sig")
    rows = lsh.lsh_topk(sigs, bands, qsigs, params, k=5).collect()
    assert 0 < len(rows) <= 5
    # the query doc itself has the smallest candidate rank only if its
    # id is among the 10 smallest sharing a band; either way scores are
    # valid fractions of num_perm
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)


def test_bucketed_bands_table_probe_is_shuffle_free(spark, sigs):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

    bands = lsh.bands_table(sigs, PARAMS)
    T.write_bands_bucketed(bands, "test_bands_idx", num_buckets=4)
    try:
        bt = spark.table("test_bands_idx")
        qs = sigs.limit(20).select(F.col("doc_id").alias("query_id"), "sig")
        qb = lsh.query_bands(qs, PARAMS)
        cand = lsh.candidates(bt, qb, broadcast_query=False)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # bucketed scan on the corpus side; the only exchange left is
        # the distinct's (query_id, doc_id) aggregation
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning(band_id") == 0
        # results identical to probing the in-memory bands frame
        a = sorted(map(tuple, cand.collect()))
        b = sorted(map(tuple, lsh.candidates(bands, qb, broadcast_query=False).collect()))
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS test_bands_idx")


def test_matrix_scorer_identical_to_fold_at_any_query_count(sigs):
    """corpus_matrix now routes EVERY query count through the matrix
    scorer (the caller's serving-regime signal); results must stay
    bit-identical to the JVM fold path for point AND batch queries."""
    bands = lsh.bands_table(sigs, PARAMS).cache()
    mat = lsh.broadcast_sig_matrix(sigs)
    for pred in (F.col("doc_id") == 13, F.col("doc_id") < 10):
        qs = sigs.filter(pred).select(F.col("doc_id").alias("query_id"), "sig")
        fold = lsh.lsh_topk(sigs, bands, qs, PARAMS, k=5, n_queries=None)
        fast = lsh.lsh_topk(
            sigs, bands, qs, PARAMS, k=5, corpus_matrix=mat
        )
        a = sorted(map(tuple, fold.collect()))
        b = sorted(map(tuple, fast.collect()))
        assert a == b and len(a) > 0


def test_append_to_index_equals_full_rebuild(spark, docs, tmp_path):
    """Incremental maintenance: build on half the corpus, append the
    other half; probes must equal a full rebuild and the appended
    table must still serve shuffle-free bucketed probes."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    sigs_full_p = str(tmp_path / "sigs_full")
    sigs_inc_p = str(tmp_path / "sigs_inc")
    try:
        sigs_full = minhash.signatures(docs, PARAMS)
        sigs_full.write.mode("overwrite").parquet(sigs_full_p)
        T.write_bands_bucketed(lsh.bands_table(sigs_full, PARAMS), "t_idx_full", num_buckets=4)

        sigs_a = minhash.signatures(half_a, PARAMS)
        sigs_a.write.mode("overwrite").parquet(sigs_inc_p)
        T.write_bands_bucketed(lsh.bands_table(sigs_a, PARAMS), "t_idx_inc", num_buckets=4)
        T.append_to_index(half_b, PARAMS, sigs_inc_p, "t_idx_inc")

        sigs_i = spark.read.parquet(sigs_inc_p)
        q = sigs_i.filter(F.col("doc_id") == 13).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        full = lsh.lsh_topk(
            spark.read.parquet(sigs_full_p), spark.table("t_idx_full"), q,
            PARAMS, k=10, n_queries=1,
        ).collect()
        inc = lsh.lsh_topk(
            sigs_i, spark.table("t_idx_inc"), q, PARAMS, k=10, n_queries=1
        ).collect()
        assert sorted(map(tuple, full)) == sorted(map(tuple, inc)) and len(full) == 10

        cand = lsh.candidates(
            spark.table("t_idx_inc"), lsh.query_bands(q, PARAMS), broadcast_query=False
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning(band_id") == 0

        # capped indexes must refuse the append
        with pytest.raises(ValueError, match="uncapped"):
            T.append_to_index(
                half_b, MinHashParams(max_bucket_size=3), sigs_inc_p, "t_idx_inc"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idx_full")
        spark.sql("DROP TABLE IF EXISTS t_idx_inc")


def test_compact_index_merges_append_files_losslessly(spark, docs, tmp_path):
    """After several appends the bucketed table holds one file set per
    append; compaction must shrink the file count, keep the bucket
    spec, and leave probes identical. The doc_id-uniqueness validation
    must catch a contract-violating duplicate append."""
    import glob
    import os

    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

    thirds = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sigs_p = str(tmp_path / "sigs_c")
    try:
        sigs_0 = minhash.signatures(thirds[0], PARAMS)
        sigs_0.write.mode("overwrite").parquet(sigs_p)
        T.write_bands_bucketed(lsh.bands_table(sigs_0, PARAMS), "t_idx_c", num_buckets=4)
        for part in thirds[1:]:
            T.append_to_index(part, PARAMS, sigs_p, "t_idx_c")

        loc = next(
            r["data_type"]
            for r in spark.sql("DESCRIBE EXTENDED t_idx_c").collect()
            if r["col_name"] == "Location"
        ).removeprefix("file:")
        n_before = len(glob.glob(os.path.join(loc, "part-*")))
        sigs_all = spark.read.parquet(sigs_p)
        q = sigs_all.filter(F.col("doc_id") == 13).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        before = sorted(
            map(tuple, lsh.lsh_topk(sigs_all, spark.table("t_idx_c"), q, PARAMS, k=10, n_queries=1).collect())
        )

        T.compact_index(spark, "t_idx_c", validate_sigs_path=sigs_p)

        loc2 = next(
            r["data_type"]
            for r in spark.sql("DESCRIBE EXTENDED t_idx_c").collect()
            if r["col_name"] == "Location"
        ).removeprefix("file:")
        n_after = len(glob.glob(os.path.join(loc2, "part-*")))
        assert n_after < n_before, (n_before, n_after)
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE EXTENDED t_idx_c").collect()
        }
        assert int(desc["Num Buckets"]) == 4
        after = sorted(
            map(tuple, lsh.lsh_topk(sigs_all, spark.table("t_idx_c"), q, PARAMS, k=10, n_queries=1).collect())
        )
        assert before == after and len(after) == 10

        # duplicate doc_ids (an append that broke the contract) must refuse
        sigs_0.write.mode("append").parquet(sigs_p)
        with pytest.raises(ValueError, match="duplicate doc_id"):
            T.compact_index(spark, "t_idx_c", validate_sigs_path=sigs_p)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idx_c")
        spark.sql("DROP TABLE IF EXISTS t_idx_c__compact_tmp")


def test_bucket_stats_invariants(sigs):
    bands = lsh.bands_table(sigs, PARAMS)
    row = lsh.bucket_stats(bands).collect()[0]
    assert row["n_rows"] == bands.count()
    assert 1 <= row["max_bucket"] and row["avg_bucket"] <= row["max_bucket"]
    assert row["n_singleton_buckets"] <= row["n_buckets"]
