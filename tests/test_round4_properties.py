"""Property-based tests (hypothesis) for the round-4 pure-Python
primitives: Bloom position math and parameter selection
monotonicity. No SparkSession — these run fast and
explore the input space the example tests cannot."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import bloom

keys = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@given(st.lists(keys, min_size=1, max_size=50), st.integers(3, 12), st.integers(1, 8))
@settings(max_examples=200, deadline=None)
def test_bloom_positions_in_range_and_deterministic(ks, log_bits, n_hashes):
    n_bits = 1 << log_bits
    arr = np.array(ks, dtype=np.int64)
    for i in range(n_hashes):
        pos = bloom._positions(arr, i, n_bits)
        assert pos.dtype == np.uint64
        assert (pos < n_bits).all()
        again = bloom._positions(arr, i, n_bits)
        assert (pos == again).all()


@given(st.lists(keys, min_size=1, max_size=100))
@settings(max_examples=100, deadline=None)
def test_bloom_fold_never_false_negative_locally(ks):
    # driver-side replica of the build fold + probe: every inserted key
    # must test positive regardless of the key values
    n_bits, n_hashes = 1 << 12, 4
    bits = np.zeros(n_bits >> 3, dtype=np.uint8)
    arr = np.array(ks, dtype=np.int64)
    bloom._fold_into(bits, arr, n_bits, n_hashes)
    for i in range(n_hashes):
        pos = bloom._positions(arr, i, n_bits)
        got = (bits[(pos >> np.uint64(3)).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
        assert (got == 1).all()


@given(st.integers(1, 10**12), st.floats(0.0001, 0.5))
@settings(max_examples=200, deadline=None)
def test_bloom_optimal_params_sane(n, fp):
    n_bits, n_hashes = bloom.optimal_params(n, fp)
    assert n_bits & (n_bits - 1) == 0 and n_bits >= 8
    assert 1 <= n_hashes <= 16
    # tighter fp never shrinks the filter
    n_bits2, _ = bloom.optimal_params(n, fp / 2)
    assert n_bits2 >= n_bits
