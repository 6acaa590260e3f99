"""Structured Streaming operators (real streams via file source +
availableNow trigger), index maintenance by micro-batch appends, and
multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import MinHashParams
from finding_similar_high_dimensional_items_for_big_data_sets_spark.multimodal import media as MM
from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table
from finding_similar_high_dimensional_items_for_big_data_sets_spark.streaming import (
    queries as SQ,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def test_sliding_windows_cover_each_event_4x(events):
    # 1h window sliding 15min: every event falls in exactly 4 windows
    total = SQ.sliding_event_rate(events).agg(F.sum("n_events")).collect()[0][0]
    assert total == events.count() * 4


def test_streaming_sliding_availablenow(spark, events, tmp_path):
    """The same operator on a real stream (watermarked): every window
    the stream emits equals the batch answer."""
    src = str(tmp_path / "stream_src")
    out_table = "sliding_stream_result"
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        SQ.sliding_event_rate(stream)
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; the
    # open ones are withheld. Everything emitted must match batch.
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql(f"select * from {out_table}").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in SQ.sliding_event_rate(events).collect()
    }
    assert got, "stream emitted nothing"
    assert all(batch[k] == v for k, v in got.items())


def test_session_window_gap_merges(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 1.0),  # same session (gap 30m)
        (1, "2024-01-01 01:30:00", 1.0),  # new session
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string, value double").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    out = SQ.user_session_stats(df).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_streaming_lsh_probe_stream_static(spark, sf_dir, tmp_path):
    """Stream-static probe, uncapped and under a bucket cap: the cap
    bounds the static corpus bands only, so the query stream is banded
    without it (a capped stream would need a ranking window, which
    streaming rejects)."""
    docs = load_table(spark, sf_dir, "documents")
    for run, params in enumerate(
        (MinHashParams(), MinHashParams(max_bucket_size=1000))
    ):
        sigs = minhash.signatures(docs, params).cache()
        bands = lsh.bands_table(sigs, params).cache()
        # query stream: two query docs streamed from parquet
        qsigs = sigs.filter(F.col("doc_id").isin([3, 13])).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        src = str(tmp_path / f"qstream{run}")
        qsigs.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(qsigs.schema).parquet(src)
        out = SQ.streaming_lsh_probe(stream, bands, sigs, params, threshold=0.9)
        q = (
            out.writeStream.format("memory")
            .queryName(f"lsh_stream_result{run}")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt2_{run}"))
            .start()
        )
        q.awaitTermination(180)
        got = spark.sql(f"select * from lsh_stream_result{run}").collect()
        # each query matches at least itself with score 1.0
        self_hits = {
            (r["query_id"], r["doc_id"]) for r in got if r["score"] == 1.0
        }
        assert (3, 3) in self_hits and (13, 13) in self_hits


def test_multimodal_features_plumbing(spark):
    media = MM.synthetic_media(spark, n=30)
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["features"]) == MM.FEATURE_DIM for r in rows)
    assert all(r["n_bytes"] == 128 for r in rows)  # 8 * 16-byte md5
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in MM.extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["features"] for r in rows)


def test_multimodal_real_path_raises(spark):
    media = MM.synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|real decoders"):
        MM.extract_features(media, real=True).collect()


def test_frame_sampling_only_video(spark):
    media = MM.synthetic_media(spark, n=30)
    frames = MM.sample_frames(media, every_ms=100)
    got = frames.select("media_id").distinct().count()
    n_video = media.filter(F.col("kind") == "video").count()
    assert got == n_video
    # frame_idx dense from 0
    first = frames.groupBy("media_id").agg(F.min("frame_idx").alias("m")).collect()
    assert all(r["m"] == 0 for r in first)


def test_topk_response_envelope(spark, sf_dir):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark import contract as C
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.operators import lsh, minhash
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import sinks
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash.signatures(docs, C.PARAMS)
    bands = lsh.bands_table(sigs, C.PARAMS)
    qs = sigs.filter(F.col("doc_id") == C.QUERY_DOC).select(
        F.col("doc_id").alias("query_id"), "sig"
    )
    topk = lsh.with_preview(lsh.lsh_topk(sigs, bands, qs, C.PARAMS, k=5), sigs)
    resp = sinks.topk_response(topk)
    assert resp["candidates"], "non-empty top-k"
    first = resp["candidates"][0]
    assert set(first) == {"id", "score", "vector_preview"}
    assert first["id"] == C.QUERY_DOC and first["score"] == 1.0
    assert len(first["vector_preview"]) == 10
    scores = [c["score"] for c in resp["candidates"]]
    assert scores == sorted(scores, reverse=True)
    import json
    assert json.loads(sinks.topk_response_json(topk)) == resp


def test_write_sharded_and_metrics_csv(spark, sf_dir, tmp_path):
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import sinks
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources.tables import (
        load_table,
        write_sharded,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    write_sharded(docs, out, num_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(back.columns) == sorted(docs.columns)
    # range sharding: per-file doc_id ranges must not overlap
    files = back.select(
        F.input_file_name().alias("f"), "doc_id"
    ).groupBy("f").agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    rows = sorted(files.collect(), key=lambda r: r["lo"])
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] < b["lo"]

    m = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    csv_out = str(tmp_path / "metrics")
    sinks.write_metrics_csv(m, csv_out)
    back_csv = spark.read.option("header", True).csv(csv_out)
    assert int(back_csv.collect()[0]["n_docs"]) == docs.count()


def test_stream_index_maintenance_matches_batch_build(spark, sf_dir, tmp_path):
    """New documents arriving in micro-batches, each appended to the
    persisted index with ``append_to_index``, must leave the index
    probe-identical to a batch build over the full corpus."""
    from finding_similar_high_dimensional_items_for_big_data_sets_spark.sources import tables as T

    params = MinHashParams()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs_p = str(tmp_path / "sigs_epochs")
    table = "t_epochs_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        # batch-build on half the corpus
        sigs_a = minhash.signatures(docs.filter(F.col("doc_id") % 2 == 0), params)
        sigs_a.write.mode("overwrite").parquet(sigs_p)
        T.write_bands_bucketed(lsh.bands_table(sigs_a, params), table, num_buckets=4)
        # the other half arrives as two micro-batches
        for part in (1, 3):
            T.append_to_index(
                docs.filter(F.col("doc_id") % 4 == part), params, sigs_p, table
            )
        T.validate_index(spark, sigs_p, table)

        sigs_all = spark.read.parquet(sigs_p)
        assert sigs_all.count() == docs.count()
        qdf = sigs_all.filter(F.col("doc_id") == 13).select(
            F.col("doc_id").alias("query_id"), "sig"
        )
        got = lsh.lsh_topk(
            sigs_all, spark.table(table), qdf, params, k=10, n_queries=1
        ).collect()
        # full batch build as the oracle
        sigs_full = minhash.signatures(docs, params).cache()
        expect = lsh.lsh_topk(
            sigs_full, lsh.bands_table(sigs_full, params), qdf, params,
            k=10, n_queries=1,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
        assert len(got) == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
