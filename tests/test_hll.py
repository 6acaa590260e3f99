"""HyperLogLog: duplicate invariance, shard-merge property, accuracy
band, and register-count bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import hll


def _items(spark, rows):
    return spark.createDataFrame([(k,) for k in rows], "key string")


def test_hll_duplicates_do_not_change_sketch(spark):
    uniq = [f"k{i}" for i in range(200)]
    once = hll.hll_registers(_items(spark, uniq), "key", p=6)
    thrice = hll.hll_registers(_items(spark, uniq * 3), "key", p=6)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, thrice.collect()))


def test_hll_merge_equals_single_build(spark):
    """Registers built on overlapping shards, merged by register-wise
    max, equal the registers of the whole key set."""
    keys = [f"k{i}" for i in range(500)]
    a = hll.hll_registers(_items(spark, keys[:200]), "key", p=6)
    b = hll.hll_registers(_items(spark, keys[150:]), "key", p=6)  # overlap
    merged = a.unionByName(b).groupBy("register").agg(F.max("m_j").alias("m_j"))
    single = hll.hll_registers(_items(spark, keys), "key", p=6)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, single.collect()))


def test_hll_estimate_within_error_band(spark):
    n = 2000
    regs = hll.hll_registers(_items(spark, [f"key{i}" for i in range(n)]), "key", p=6)
    est = hll.hll_estimate(regs, p=6).first()["hll_est"]
    # 1.04/sqrt(64) = 13% expected; allow 4 sigma
    assert abs(est - n) / n < 0.52


def test_hll_register_count_bounded(spark):
    regs = hll.hll_registers(
        _items(spark, [f"k{i}" for i in range(10_000)]), "key", p=6
    )
    assert regs.count() <= 64
    ranks = [r["m_j"] for r in regs.collect()]
    assert all(1 <= r <= hll.HLL_W + 1 for r in ranks)


def test_hll_grouped_registers_independent(spark):
    df = spark.createDataFrame(
        [("a", f"k{i}") for i in range(100)] + [("b", f"k{i}") for i in range(50)],
        "grp string, key string",
    )
    est = {
        r["grp"]: r["hll_est"]
        for r in hll.hll_estimate(
            hll.hll_registers(df, "key", ["grp"], p=6), ["grp"], p=6
        ).collect()
    }
    assert est["a"] > est["b"] > 0
