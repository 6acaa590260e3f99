"""Structured Streaming extensions (SURVEY §2.9, §7 M6).

The reference has no streaming runtime — its only online behavior is
request/response HTTP (``app/src/query_service.py:139-196``). These
operators give the engine the streaming story a large-scale pipeline
needs, entirely on Structured Streaming built-ins:

- event-time sliding / session window aggregations with
  watermarks (late-data handling)
- stream-static LSH probe: a stream of query signatures joined against
  the static bands index — the streaming version of ``POST /query``

All functions take/return DataFrames; streaming-ness is inherited
from the input (they work identically on batch DataFrames, which is
how the oracle checks them). The persisted stores are maintained in
batch only (``sources.tables``: write, append, compact, delete), as
the reference rebuilds its shards offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh


def _watermarked(events: DataFrame, watermark: str) -> DataFrame:
    """Watermark ``ts``, casting TIMESTAMP_NTZ to TIMESTAMP first.

    Parquet fixtures written with ``isAdjustedToUTC=0`` are inferred as
    TIMESTAMP_NTZ when ``spark.sql.parquet.inferTimestampNTZ.enabled``
    is on, and ``withWatermark`` rejects NTZ event-time columns. The
    cast is a no-op when ``ts`` is already TIMESTAMP; sessions built by
    :func:`..session.get_spark` pin the session timezone to UTC so the
    wall-clock values are unchanged.
    """
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", watermark)


def sliding_event_rate(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window event rate per type."""
    src = _watermarked(events, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def user_session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Session windows per user: events within ``gap`` of each other
    form one session (no reference analog; Structured Streaming
    session_window built-in)."""
    src = _watermarked(events, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def streaming_lsh_probe(
    query_sigs_stream: DataFrame,
    bands_static: DataFrame,
    sigs_static: DataFrame,
    params: MinHashParams,
    threshold: float = 0.5,
) -> DataFrame:
    """Stream-static join version of the online query path (§3.1).

    query_sigs_stream(query_id, sig) — e.g. parsed from a Kafka/file
    source — is banded (stateless per-row transform, never capped:
    ``lsh.query_bands``; the bucket cap bounds the static corpus side,
    and on a stream it would need a ranking window), joined against
    the STATIC bands index (stream-static equi-join: no state store
    needed), deduped per micro-batch, scored against static signatures,
    and filtered by similarity threshold.

    Per-query global top-k requires sorting, which streaming forbids
    outside ``complete`` aggregations — the threshold filter is the
    streaming-friendly contract; a downstream batch job (or
    foreachBatch) can rank. At scale the static side is the persisted
    bands table, partitioned by band_hash.
    """
    q_bands = lsh.query_bands(query_sigs_stream, params)
    cand = (
        bands_static.join(q_bands, ["band_id", "band_hash"])
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    scored = lsh.score_candidates(
        cand,
        sigs_static,
        query_sigs_stream.select("query_id", "sig"),
        params,
        broadcast_query=False,
    )
    return scored.filter(F.col("score") >= threshold)
