"""Count-Min sketch: bounded-memory frequency estimation.

Cormode & Muthukrishnan (J. Algorithms 2005, arXiv cs/0610166): a
``d x w`` counter matrix; every occurrence of a key increments one
bucket per row (seeded hash), and the estimate for a key is the MIN
over its ``d`` buckets — an overestimate, never an underestimate, with
error <= 2N/w at probability 1 - (1/2)^d.

Why it earns a place next to the exact ``token_frequencies`` pass: the
sketch's state is ``d*w`` counters REGARDLESS of corpus size or key
cardinality. At 100 TB the exact heavy-hitter pass shuffles a
vocabulary-sized aggregation state (unbounded for n-grams / URLs /
session keys); the sketch shuffles at most ``d*w`` rows after map-side
partial aggregation, and two sketches merge by cell-wise addition —
the same property the distributed Bloom filter (``functions/bloom.py``)
exploits for membership.

Everything is deterministic given (d, w, seed family): the bucket hash
is the engine-portable md5-derived ``portable_hash64`` over
``"{row}:{key}"``, so the DuckDB oracle reproduces the sketch — and
therefore every estimate — bit-for-bit (``oracle/duckdb_sql.py``
``sql_cms_heavy_hitters``). The companion sibling in the reference is
the shard summary-statistics path (SURVEY §2.4 A8); the sketch is the
scale-safe variant of the same "global frequency picture" need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.functions.hashing import (
    portable_hash64,
)


def cms_bucket(key: Column, row: int, width: int) -> Column:
    """Bucket of ``key`` in sketch row ``row``: the portable 60-bit
    hash of ``"{row}:{key}"`` mod ``width`` (hash output is
    non-negative, so ``pmod`` == ``%`` in both engines)."""
    return F.pmod(
        portable_hash64(F.concat(F.lit(f"{row}:"), key)), F.lit(width)
    ).cast("int")


def _bucket_rows(items: DataFrame, key_col: str, d: int, width: int) -> DataFrame:
    """One (key, row, bucket) tuple per occurrence per sketch row."""
    return items.select(
        F.col(key_col),
        F.posexplode(
            F.array(*[cms_bucket(F.col(key_col), j, width) for j in range(d)])
        ).alias("d", "bucket"),
    )


def cms_build(
    items: DataFrame, key_col: str = "key", d: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch from an occurrence stream (one row per
    occurrence): (d int, bucket int, cnt long).

    One explode (x``d``) then a groupBy whose key space is AT MOST
    ``d * width`` cells — map-side partial aggregation collapses each
    partition to <= d*width rows before the only shuffle, so the wire
    cost is O(partitions * d * width), independent of corpus size.
    """
    return _bucket_rows(items, key_col, d, width).groupBy("d", "bucket").agg(
        F.count("*").alias("cnt")
    )


def cms_estimate(
    keys: DataFrame,
    sketch: DataFrame,
    key_col: str = "key",
    d: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point estimates for ``keys`` (distinct): (key, est long) where
    ``est`` = min over the key's ``d`` buckets — >= the true count,
    with overestimate bounded by collisions. Keys never seen by the
    sketch estimate from empty cells as 0-coalesced mins.

    The join is (d, bucket) equi-join against the <= d*width-row
    sketch — broadcast-sized at any corpus scale.
    """
    kb = _bucket_rows(keys, key_col, d, width)
    return (
        kb.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )
