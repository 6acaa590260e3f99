"""HyperLogLog: bounded-memory distinct counting.

Flajolet, Fusy, Gandouet & Meunier (AofA 2007): hash every occurrence,
split the hash into a register index (low ``p`` bits) and a rank (the
leading-zero count of the remaining bits + 1), keep the MAX rank per
register; the cardinality estimate is ``alpha_m * m^2 / sum_j
2^-M_j``. State is ``m`` small ints regardless of stream size or key
cardinality, and two sketches merge by register-wise max — the
distinct-count member of the sketch family next to the Bloom filter
(membership, ``functions/bloom.py``) and the Count-Min sketch
(frequency, ``functions/cms.py``).

Engine-portability: everything up to the single final division is
INTEGER arithmetic. The rank is a comparison ladder over powers of
two (no float log); the harmonic sum is computed exactly as
``S = sum_j 2^(W - M_j)`` in int64 (W = 54 rank bits, m <= 2^9 keeps
S < 2^63), absent registers contributing ``2^W`` each; the estimate is
ONE division ``NUM / S`` with the numerator a shared Python-rendered
double literal — so Spark and the DuckDB oracle agree bit-for-bit.
Spark's built-in ``approx_count_distinct`` is the same algorithm but
its registers are not reproducible outside the JVM; this one is the
cross-engine-checkable construction.

No small-range (linear counting) correction is applied: it needs a
cross-engine ``ln`` (1-ulp divergence risk) and the contract fixture
operates far above the 2.5m small-range regime. The raw estimator's
error is ~1.04/sqrt(m).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    portable_hash64,
)

# Rank-bit width: portable_hash64 yields < 2^60; after dropping p
# register bits (p >= 6 enforced) the rest fits in 54 bits.
HLL_W = 54


def _check_p(p: int) -> None:
    """HLL_W = 54 rank bits assumes p >= 6 (portable_hash64 < 2^60, so
    rest = h >> p < 2^(60-p) <= 2^54); p < 6 would saturate most ranks
    at 1 and badly bias the estimate. p <= 9 keeps the exact int64
    harmonic sum in range. Reject anything outside [6, 9]."""
    if not 6 <= p <= 9:
        raise ValueError(f"p must be in [6, 9] (got {p}): W=54 rank bits need p >= 6; exact int64 harmonic sum needs p <= 9")


def hll_alpha(m: int) -> float:
    """The standard bias-correction constant (m >= 64 form)."""
    return 0.7213 / (1.0 + 1.079 / m)


def _rank(rest: Column) -> Column:
    """1 + leading-zero count of ``rest`` within HLL_W bits, as a
    comparison ladder over power-of-two literals — integer-exact in
    any engine."""
    chain = None
    for rank in range(1, HLL_W + 1):
        cond = rest >= F.lit(1 << (HLL_W - rank))
        chain = F.when(cond, F.lit(rank)) if chain is None else chain.when(
            cond, F.lit(rank)
        )
    return chain.otherwise(F.lit(HLL_W + 1))


def hll_registers(
    items: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 6,
) -> DataFrame:
    """Max-rank per register over the occurrence stream:
    (*group_cols, register int, m_j int) — at most ``2^p`` rows per
    group after the one bounded-key-space shuffle (map-side combine
    collapses each partition to <= 2^p rows per group first).
    Duplicates cannot change a max, so the input needs no distinct."""
    _check_p(p)
    m = 1 << p
    h = portable_hash64(F.col(key_col))
    rest = F.shiftright(h, p)
    reg = F.pmod(h, F.lit(m)).cast("int")
    g = list(group_cols or [])
    rows = items.select(*g, reg.alias("register"), _rank(rest).alias("rank"))
    return rows.groupBy(*g, "register").agg(F.max("rank").alias("m_j"))


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 6,
) -> DataFrame:
    """Cardinality estimate per group from a :func:`hll_registers`
    sketch: (*group_cols, hll_est double, registers_used int).

    S = sum over registers of 2^(W - M_j), absent registers (M_j = 0)
    contributing 2^W each — exact int64 (needs p <= 9); the estimate
    is the single division NUM/S with NUM = alpha_m * m^2 * 2^W as a
    Python double literal, rounded to 6.
    """
    _check_p(p)
    m = 1 << p
    g = list(group_cols or [])
    agg = registers.groupBy(*g).agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_W} - m_j)")).alias("sp"),
        F.count("*").alias("v"),
    )
    num = hll_alpha(m) * m * m * float(1 << HLL_W)
    s_total = F.col("sp") + (F.lit(m) - F.col("v")) * F.lit(1 << HLL_W)
    return agg.select(
        *g,
        F.round(F.lit(num) / s_total.cast("double"), 6).alias("hll_est"),
        F.col("v").cast("int").alias("registers_used"),
    )
