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
how the oracle checks them).
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


def stream_index_maintenance(
    stream_docs: DataFrame,
    params: MinHashParams,
    sigs_path: str,
    bands_table: str,
    checkpoint: str,
    trigger_kwargs: dict | None = None,
):
    """Continuous index maintenance: a stream of NEW documents keeps
    the persisted LSH index fresh — the streaming half of
    :func:`..sources.tables.append_to_index`.

    Each micro-batch signs + bands only its own documents and writes
    them through ``foreachBatch`` (streaming sinks cannot write bucketed
    tables directly, batch writers can), so the index stays the same
    shuffle-free bucketed probe layout whether rows arrived in batch or
    on the stream.

    Delivery semantics depend on the index layout. foreachBatch is
    AT-LEAST-ONCE: an epoch that fails mid-sink is REPLAYED after
    restart, and the checkpoint only dedups epochs that fully
    committed. With a batch-partitioned index
    (``write_bands_bucketed(batch_partitioned=True)`` +
    ``write_sigs_batch_partitioned``) the sink routes through
    ``append_to_index_exactly_once`` — each epoch dynamically
    OVERWRITES its own ``ingest_batch=<epoch>`` partition, so replays
    converge and the net effect is exactly-once. With a flat index the
    sink falls back to the blind ``append_to_index`` and a replayed
    epoch DUPLICATES its rows — detectable via ``compact_index``'s
    uniqueness validation / ``validate_index``, but not self-healing;
    use the batch-partitioned layout for production streams.

    Returns the started StreamingQuery; callers control the trigger
    via ``trigger_kwargs`` (default availableNow for catch-up; pass
    ``{"processingTime": "..."}`` for continuous).
    """
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        append_to_index,
        append_to_index_exactly_once,
    )

    spark = stream_docs.sparkSession
    # catalog metadata, NOT spark.table(...): resolving the relation
    # here would pin its file listing in this session's relation cache
    # BEFORE any append runs, and later reads through the same session
    # would silently see the pre-stream snapshot.
    idempotent = "ingest_batch" in {
        c.name for c in spark.catalog.listColumns(bands_table)
    }

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if idempotent:
            append_to_index_exactly_once(
                batch_df, int(batch_id), params, sigs_path, bands_table
            )
        else:
            append_to_index(batch_df, params, sigs_path, bands_table)

    writer = stream_docs.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    return writer.trigger(**(trigger_kwargs or {"availableNow": True})).start()
