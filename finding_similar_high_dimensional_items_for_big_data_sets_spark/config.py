"""Engine configuration: MinHash/LSH parameters and permutation family.

Reference semantics (see SURVEY.md §1.2-1.3): the reference computes
``h_i(x) = (a_i * x + b_i) mod (2^61 - 1)`` over SHA1-derived shingle
fingerprints (reference ``benchmarks/synth_data.py:22-55``). The
intermediate product ``a_i * x`` reaches ~2^122 there, which the
reference absorbs with Python big ints. This engine instead works over
the Mersenne prime ``2^31 - 1`` so every intermediate fits comfortably
in a signed 64-bit integer — exactly computable by Spark *and* by the
DuckDB correctness oracle, with no Decimal or UDF in the hot path.

Parameters mirror the reference's shipped ``data/minhash_meta.pkl``:
``num_perm=128, k_shingle=1, by_word=True, seed=42`` and LSH
``bands=32`` (rows=4) from reference ``app/src/minhash_lsh.py:22,37``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Mersenne prime 2^31 - 1. All shingle hashes and signature values live
# in [0, MERSENNE31); a*x + b < 2^62 so int64 arithmetic never overflows.
MERSENNE31 = 2_147_483_647

# Signature sentinel for empty shingle sets (reference uses 2^61-1 at
# benchmarks/synth_data.py:41-42; ours is the max value of our field).
EMPTY_SENTINEL = MERSENNE31

HASH_FAMILY_PORTABLE = "portable"  # md5-derived 60-bit; DuckDB-matchable
HASH_FAMILY_XXHASH = "xxhash64"  # JVM-native fast path

# The reference's own field: the Mersenne prime 2^61 - 1 (reference
# ``benchmarks/synth_data.py:20``). Used only by the bit-compat parity
# path (operators/refparity.py); intermediates exceed int64 there, so
# it is never used in SQL-expressible operators.
PRIME61 = (1 << 61) - 1


@dataclass(frozen=True)
class MinHashParams:
    """MinHash + LSH banding configuration.

    Defaults replicate the reference's shipped configuration
    (``data/minhash_meta.pkl`` + ``app/src/minhash_lsh.py:22,32``).
    """

    num_perm: int = 128
    bands: int = 32
    k_shingle: int = 1
    by_word: bool = True
    seed: int = 42
    hash_family: str = HASH_FAMILY_PORTABLE
    # Deterministic bucket cap (SURVEY §4.4: reference caps at 5000 by
    # insertion order; we keep the `cap` smallest doc_ids). None = no cap.
    max_bucket_size: int | None = None
    # Deterministic candidate cap (SURVEY §4.4 delta 2: the reference
    # early-exits the band loop at 2000 candidates in iteration order;
    # we keep the `cap` smallest doc_ids AFTER the full band join).
    # None = score every candidate (the default: exact banding
    # semantics, no recall loss).
    max_candidates: int | None = None

    def __post_init__(self) -> None:
        if self.num_perm % self.bands != 0:
            raise ValueError(
                f"num_perm ({self.num_perm}) must be divisible by bands ({self.bands})"
            )

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.bands


def perm_coeffs(num_perm: int = 128, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded affine-permutation coefficients ``(a_i, b_i)``.

    Mirrors reference ``benchmarks/synth_data.py:30-36`` (RandomState-
    seeded ``a in [1, p)``, ``b in [0, p)``) over our Mersenne-31 field.
    Deterministic across runs and machines.
    """
    rs = np.random.RandomState(seed)
    a = rs.randint(1, MERSENNE31, size=num_perm, dtype=np.int64)
    b = rs.randint(0, MERSENNE31, size=num_perm, dtype=np.int64)
    return a.tolist(), b.tolist()


def ref61_perm_coeffs(num_perm: int = 128, seed: int = 42) -> tuple["np.ndarray", "np.ndarray"]:
    """The reference's EXACT coefficient draw (reference
    ``benchmarks/synth_data.py:30-36``): RandomState(seed),
    ``a in [1, p-1)``, ``b in [0, p-1)`` over p = 2^61-1, dtype int64.
    Returned as int64 arrays because the parity path must reproduce the
    reference's int64 arithmetic (including its wrap) bit-for-bit."""
    rs = np.random.RandomState(seed)
    a = rs.randint(1, PRIME61 - 1, size=num_perm, dtype=np.int64)
    b = rs.randint(0, PRIME61 - 1, size=num_perm, dtype=np.int64)
    return a, b
