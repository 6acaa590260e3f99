"""Count-Min sketch: one-sided error guarantee, shard-merge property,
unseen-key estimates, and sketch-size bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions import cms


def _items(spark, rows):
    return spark.createDataFrame([(k,) for k in rows], "key string")


def test_cms_never_underestimates(spark):
    rows = ["a"] * 10 + ["b"] * 7 + ["c"] * 3 + ["d"] * 1 + ["e"] * 5
    items = _items(spark, rows)
    sketch = cms.cms_build(items, d=3, width=4)  # tiny width -> collisions
    truth = {r["key"]: r["cnt"] for r in items.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    est = {
        r["key"]: r["est"]
        for r in cms.cms_estimate(
            items.select("key").distinct(), sketch, d=3, width=4
        ).collect()
    }
    assert set(est) == set(truth)
    for k in truth:
        assert est[k] >= truth[k], k
    # total mass conservation per sketch row
    per_row = {
        r["d"]: r["s"]
        for r in sketch.groupBy("d").agg(F.sum("cnt").alias("s")).collect()
    }
    assert all(v == len(rows) for v in per_row.values())


def test_cms_merge_equals_single_build(spark):
    """Sketches built on disjoint shards, summed cell by cell, equal the
    sketch of the whole corpus: a key's bucket depends only on the
    sketch row and the width, never on which shard the key landed in."""
    rows = [f"k{i % 17}" for i in range(300)]
    a, b = _items(spark, rows[:120]), _items(spark, rows[120:])
    merged = (
        cms.cms_build(a, d=4, width=32)
        .unionByName(cms.cms_build(b, d=4, width=32))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    single = cms.cms_build(_items(spark, rows), d=4, width=32)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, single.collect()))


def test_cms_unseen_key_estimates_from_empty_cells(spark):
    items = _items(spark, ["x", "y"])
    sketch = cms.cms_build(items, d=4, width=1024)  # sparse: most cells empty
    est = {
        r["key"]: r["est"]
        for r in cms.cms_estimate(
            _items(spark, ["never-seen-key"]), sketch, d=4, width=1024
        ).collect()
    }
    assert est["never-seen-key"] == 0  # empty min bucket -> 0, not a join loss


def test_cms_sketch_size_bounded(spark):
    items = _items(spark, [f"u{i}" for i in range(5000)])
    sketch = cms.cms_build(items, d=4, width=64)
    assert sketch.count() <= 4 * 64
