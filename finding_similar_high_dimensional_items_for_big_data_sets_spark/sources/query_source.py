"""Query-envelope source (SURVEY §2.1 S7).

The reference ingests queries as HTTP JSON ``{"vector": List[int],
"k": int = 10}`` validated by Pydantic (reference
``app/src/query_service.py:34-46``). The Spark-first analog is a
DataFrame of query rows — from a directory of JSON-lines files
watched by Structured Streaming (continuous ingest feeding
``streaming.queries.streaming_lsh_probe``), or
from any DataFrame of raw envelopes passed to
:func:`validate_envelopes`.

Validation mirrors the reference's envelope: ``vector`` must be a
non-null array of the configured signature width, ``k`` defaults to
10. Invalid rows are routed to a rejects side-channel rather than
failing the job (at 100 TB a single malformed envelope must not kill
a batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams

ENVELOPE_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("vector", ArrayType(LongType())),
        StructField("k", IntegerType()),
    ]
)

DEFAULT_K = 10  # reference QueryRequest.k default (query_service.py:46)


def queries_from_json_stream(
    spark: SparkSession, path: str, params: MinHashParams | None = None
) -> DataFrame:
    """Streaming: watch ``path`` for new JSON-lines envelope files.
    Same schema/validation as batch; feed the result to
    ``streaming.streaming_lsh_probe``."""
    raw = spark.readStream.schema(ENVELOPE_SCHEMA).json(path)
    return validate_envelopes(raw, params)


def validate_envelopes(
    raw: DataFrame, params: MinHashParams | None = None
) -> DataFrame:
    """The Pydantic-equivalent gate: non-null vector of exactly
    ``num_perm`` non-null elements, ``k`` defaulted to 10 and floored
    at 1. Output: (query_id, sig, k) for valid rows only."""
    params = params or MinHashParams()
    valid = (
        F.col("vector").isNotNull()
        & (F.size("vector") == params.num_perm)
        & (F.size(F.filter("vector", lambda v: v.isNull())) == 0)
    )
    return (
        raw.filter(valid)
        .select(
            "query_id",
            F.col("vector").alias("sig"),
            F.greatest(F.coalesce(F.col("k"), F.lit(DEFAULT_K)), F.lit(1)).alias("k"),
        )
    )


def rejected_envelopes(
    raw: DataFrame, params: MinHashParams | None = None
) -> DataFrame:
    """The complement of :func:`validate_envelopes`, with a reason
    column — the side-channel a pipeline would persist for triage."""
    params = params or MinHashParams()
    return raw.withColumn(
        "reject_reason",
        F.when(F.col("vector").isNull(), F.lit("missing_vector"))
        .when(F.size("vector") != params.num_perm, F.lit("wrong_width"))
        .when(
            F.size(F.filter("vector", lambda v: v.isNull())) > 0,
            F.lit("null_element"),
        ),
    ).filter(F.col("reject_reason").isNotNull())
