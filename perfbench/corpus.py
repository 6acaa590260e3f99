"""Workload inputs, generated from the run's seed.

The program only ever sees these DataFrames: ``(doc_id, text)`` corpora
and ``(query_id, text)`` query sets. Every random choice is an
``xxhash64`` of (row key, position, seed), so a seed gives the same
inputs on any host and partitioning.

- ``dense_corpus``: the reference's benchmark corpus (vocabulary 20,
  ~40 words per doc) from the program's own ``synthetic_documents``.
  Any two docs share most words, so every query collides with nearly
  every doc.
- ``family_corpus``: near-duplicate families. Each base doc (40 words
  from a 200k vocabulary) has ``family`` members, each with ~10% of its
  words replaced. A query (a fresh mutation of a base) collides with
  its own family only.
- ``planted_cluster``: one base copied ``size`` times with ~5% of words
  replaced, so a few buckets per band hold the whole cluster: the
  bucket skew that a dedup self-join must survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
    synthetic_documents,
)

FAMILY_VOCAB = 200_000
FAMILY_WORDS = 40
FAMILY_MUTATE_PER_MILLE = 100
CLUSTER_MUTATE_PER_MILLE = 50
# query sets and mutation draws use their own seed streams
QUERY_SALT = 7919
MUTATE_SALT = 104729


def _mutate(text: Column, key: Column, salt: int, per_mille: int) -> Column:
    """Replace each word with prob ``per_mille``/1000 by a fresh word."""
    words = F.split(text, " ")
    fresh = F.concat(
        F.lit("m"),
        F.pmod(F.xxhash64(key, F.lit(salt + 1)), F.lit(FAMILY_VOCAB)).cast("string"),
    )
    return F.array_join(
        F.transform(
            words,
            lambda w, i: F.when(
                F.pmod(F.xxhash64(key, i, F.lit(salt)), F.lit(1000)) < per_mille,
                F.concat(fresh, F.lit("_"), i.cast("string")),
            ).otherwise(w),
        ),
        " ",
    )


def _bases(spark, n: int, seed: int) -> DataFrame:
    return synthetic_documents(
        spark, n, vocab_size=FAMILY_VOCAB, avg_words=FAMILY_WORDS,
        sigma_words=0, seed=seed,
    ).select(F.col("doc_id").alias("base"), F.col("text").alias("base_text"))


def dense_corpus(spark, n: int, seed: int) -> DataFrame:
    return synthetic_documents(spark, n, vocab_size=20, seed=seed).select(
        "doc_id", "text"
    )


def dense_queries(spark, n: int, seed: int) -> DataFrame:
    return synthetic_documents(spark, n, vocab_size=20, seed=seed + QUERY_SALT).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def family_corpus(spark, n_bases: int, family: int, seed: int) -> DataFrame:
    members = _bases(spark, n_bases, seed).crossJoin(
        spark.range(family).withColumnRenamed("id", "member")
    )
    doc_id = F.col("base") * family + F.col("member")
    return members.select(
        doc_id.alias("doc_id"),
        _mutate(F.col("base_text"), doc_id, seed + MUTATE_SALT,
                FAMILY_MUTATE_PER_MILLE).alias("text"),
    )


def family_queries(spark, n: int, n_bases: int, seed: int, first_id: int = 0) -> DataFrame:
    """``n`` fresh mutations of seed-chosen bases."""
    picks = spark.range(first_id, first_id + n).select(
        F.col("id").alias("query_id"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + QUERY_SALT)), F.lit(n_bases)).alias("base"),
    )
    return picks.join(_bases(spark, n_bases, seed), "base").select(
        "query_id",
        _mutate(F.col("base_text"), F.col("query_id"), seed + QUERY_SALT,
                FAMILY_MUTATE_PER_MILLE).alias("text"),
    )


def _cluster_base(spark, seed: int) -> DataFrame:
    return synthetic_documents(
        spark, 1, vocab_size=FAMILY_VOCAB, avg_words=FAMILY_WORDS,
        sigma_words=0, seed=seed + 1,
    ).select(F.col("text").alias("base_text"))


def planted_cluster(spark, size: int, first_id: int, seed: int) -> DataFrame:
    copies = spark.range(first_id, first_id + size).withColumnRenamed("id", "doc_id")
    return copies.crossJoin(_cluster_base(spark, seed)).select(
        "doc_id",
        _mutate(F.col("base_text"), F.col("doc_id"), seed + MUTATE_SALT,
                CLUSTER_MUTATE_PER_MILLE).alias("text"),
    )


def cluster_queries(spark, n: int, first_id: int, seed: int) -> DataFrame:
    ids = spark.range(first_id, first_id + n).withColumnRenamed("id", "query_id")
    return ids.crossJoin(_cluster_base(spark, seed)).select(
        "query_id",
        _mutate(F.col("base_text"), F.col("query_id"), seed + QUERY_SALT,
                CLUSTER_MUTATE_PER_MILLE).alias("text"),
    )
