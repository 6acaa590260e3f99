"""The one in-memory LSH index export (``lsh.export_index``) behind
both the serving tier and the dedup band kernel: null signatures are
dropped with their band rows, a band row without a signature row
raises on both paths, and capped (doc, band) pairs are absent."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators.serving import ServingIndex
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

PARAMS = MinHashParams()


@pytest.fixture(scope="module")
def sigs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    docs = docs.select("doc_id", "text")
    nulls = spark.createDataFrame(
        [(10_000 + i, None) for i in range(3)], "doc_id long, text string"
    )
    return minhash.signatures(docs.unionByName(nulls), PARAMS).cache()


def test_null_signatures_drop_with_their_bands(spark, sigs):
    bands = lsh.bands_table(sigs, PARAMS).cache()
    idx = ServingIndex.from_dataframes(sigs, bands, PARAMS)
    index = lsh.export_index(sigs, bands, PARAMS.bands)
    valid = sigs.filter(F.col("sig").isNotNull())
    assert index.ids.tolist() == sorted(r["doc_id"] for r in valid.collect())
    assert index.sigs.shape == (valid.count(), PARAMS.num_perm)
    assert index.present.all()
    assert idx.doc_ids.tolist() == index.ids.tolist()
    for q in valid.filter(F.col("doc_id") < 5).collect():
        qs = spark.createDataFrame([(q["doc_id"], q["sig"])], "query_id long, sig array<bigint>")
        dist = [
            (r["doc_id"], round(r["score"], 9), r["rank"])
            for r in lsh.lsh_topk(sigs, bands, qs, PARAMS, k=5, n_queries=1)
            .orderBy("rank")
            .collect()
        ]
        local = [(d, round(s, 9), r) for d, s, r in idx.query(list(q["sig"]), k=5)]
        assert local == dist, q["doc_id"]


def test_orphan_band_rows_raise_on_both_paths(sigs):
    bands = lsh.bands_table(sigs, PARAMS)  # bands over ALL docs
    half = sigs.filter(F.col("doc_id") % 2 == 0)
    with pytest.raises(ValueError, match="no signature row"):
        ServingIndex.from_dataframes(half, bands, PARAMS)
    # the band kernel regime (uncompressed: the compressed path
    # semi-joins the bands to the group representatives first)
    with pytest.raises(ValueError, match="no signature row"):
        lsh.self_join_pairs(bands, half, PARAMS, 0.5, compress_identical=False)


def test_capped_pairs_are_absent(sigs):
    params = MinHashParams(max_bucket_size=2)
    capped = lsh.bands_table(sigs, params).cache()
    index = lsh.export_index(sigs, capped, params.bands)
    valid = sigs.filter(F.col("sig").isNotNull()).select("doc_id")
    kept = capped.join(valid, "doc_id", "left_semi").count()
    assert 0 < index.present.sum() == kept < index.present.size
    for band in range(params.bands):
        rows, keys, starts, sizes = lsh.band_buckets(index.hashes, index.present, band)
        assert sizes.max() <= 2
        assert np.array_equal(np.unique(keys), keys[starts])
        # members of a bucket stay in ascending id order
        for s, z in zip(starts, sizes):
            assert (np.diff(index.ids[rows[s : s + z]]) > 0).all()


def test_null_signatures_pair_with_nothing(sigs):
    """Compressing identical signatures must not group the null ones
    into score-1.0 pairs the uncompressed kernel never emits."""
    bands = lsh.bands_table(sigs, PARAMS)
    got = {
        compress: sorted(
            map(tuple, lsh.self_join_pairs(bands, sigs, PARAMS, 0.5, compress).collect())
        )
        for compress in (True, False)
    }
    assert got[True] == got[False]
    assert all(a < 10_000 and b < 10_000 for a, b, _ in got[True])
