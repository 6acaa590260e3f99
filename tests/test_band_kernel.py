"""The band-parallel self-join kernel (the broadcast regime of
``lsh.self_join_pairs``) against the shuffle path it replaced: bucket
pairs from ``band_pair_candidates`` scored by the JVM fold. Pairs and
scores must be identical, not merely close."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table

PARAMS = MinHashParams()
# min_matching_bands: 1 at 0.3 and 0.5, then 7 and 26 — both pruning regimes
THRESHOLDS = (0.3, 0.5, 0.8, 0.95)


def _fold(bands, sigs, params, threshold):
    pairs = lsh.band_pair_candidates(bands, lsh.min_matching_bands(threshold, params))
    return sorted(map(tuple, lsh._score_pairs_fold(pairs, sigs, params, threshold).collect()))


def _kernel(bands, sigs, params, threshold, compress):
    out = lsh.self_join_pairs(bands, sigs, params, threshold, compress_identical=compress)
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == len(set((a, b) for a, b, _ in rows))
    return rows


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    sigs = minhash.signatures(load_table(spark, sf_dir, "documents"), PARAMS).cache()
    return sigs, lsh.bands_table(sigs, PARAMS).cache()


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_kernel_equals_fold(index, threshold):
    sigs, bands = index
    want = _fold(bands, sigs, PARAMS, threshold)
    assert want, "fixture should have pairs at every threshold"
    for compress in (True, False):
        assert _kernel(bands, sigs, PARAMS, threshold, compress) == want


def test_kernel_equals_fold_under_bucket_cap(index):
    sigs, _ = index
    params = MinHashParams(max_bucket_size=3)
    capped = lsh.bands_table(sigs, params).cache()
    for threshold in (0.3, 0.8):
        want = _fold(capped, sigs, params, threshold)
        # the cap drops members of the dup buckets: fewer pairs than uncapped
        full = _fold(lsh.bands_table(sigs, PARAMS), sigs, PARAMS, threshold)
        assert 0 < len(want) < len(full)
        assert _kernel(capped, sigs, params, threshold, compress=True) == want


def test_kernel_on_empty_corpus(spark):
    sigs = spark.createDataFrame([], "doc_id long, sig array<bigint>")
    bands = lsh.bands_table(sigs, PARAMS)
    for compress in (True, False):
        assert _kernel(bands, sigs, PARAMS, 0.5, compress) == []


def test_kernel_in_tiny_pair_chunks(spark, index, monkeypatch):
    """Chunks far smaller than a bucket's pair count, and docs without
    a signature (null text), must not change the output."""
    sigs, _ = index
    nulls = spark.createDataFrame(
        [(10_000 + i, None) for i in range(3)], "doc_id long, text string"
    )
    small = sigs.filter(F.col("doc_id") < 60).unionByName(
        minhash.signatures(nulls, PARAMS)
    ).cache()
    bands = lsh.bands_table(small, PARAMS).cache()
    want = {t: _fold(bands, small, PARAMS, t) for t in (0.3, 0.8)}
    monkeypatch.setattr(lsh, "PAIR_CHUNK", 7)
    for t, rows in want.items():
        assert rows
        assert _kernel(bands, small, PARAMS, t, compress=False) == rows

