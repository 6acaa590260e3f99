"""Multimodal column support: images/audio/video as opaque BINARY
columns with typed metadata, processed via Arrow-batched
``mapInPandas`` (the only Python-side path in the engine, as decode
libraries are inherently non-JVM).

The decode step itself is STUBBED (this environment ships no
image/audio libs): ``decode_image``/``sample_frames`` raise
``NotImplementedError`` when ``real=True`` and otherwise produce a
deterministic fake derived from the payload bytes — so the Spark-side
plumbing (schema, batching, partitioning, UDF signatures) is real and
tested end-to-end while the pixel math is swappable.

Scale notes: mapInPandas streams Arrow record batches — payload bytes
never materialize on the driver; partition sizing is controlled by
``spark.sql.files.maxPartitionBytes`` on ingest. Feature vectors come
back as ARRAY<FLOAT> ready for the ANN/dedup operators.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def synthetic_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload = repeated md5 bytes."""
    kinds = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
    )
    payload = F.unhex(
        F.repeat(F.md5(F.concat(F.lit(str(seed)), F.col("id").cast("string"))), 8)
    )
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        kinds.alias("kind"),
        payload.alias("payload"),
        (F.pmod(F.col("id"), F.lit(64)) * 16 + 16).cast("int").alias("width"),
        (F.pmod(F.col("id"), F.lit(48)) * 16 + 16).cast("int").alias("height"),
        (F.pmod(F.col("id"), F.lit(1000)) * 33).cast("int").alias("duration_ms"),
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real encoder: digest bytes -> floats.

    Derivation is over ``hex(payload) + str(counter)`` (a UTF-8 string,
    not raw bytes) so the exact values are reproducible in ANSI SQL
    (DuckDB's md5 is VARCHAR-only) — the features oracle in
    ``oracle/duckdb_sql.py`` hash-matches this end-to-end.
    """
    out: list[float] = []
    h = (payload or b"").hex()
    counter = 0
    while len(out) < dim:
        d = hashlib.md5((h + str(counter)).encode("utf-8")).digest()
        out.extend(b / 255.0 for b in d)
        counter += 1
    return out[:dim]


def extract_features(media: DataFrame, real: bool = False) -> DataFrame:
    """media -> (media_id, kind, n_bytes, features ARRAY<FLOAT>).

    Arrow-batched mapInPandas; with ``real=True`` this is where a
    PIL/torchvision/torchaudio encoder would run per batch.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                raise NotImplementedError(
                    "real decoders unavailable in this environment; "
                    "plug PIL/torchaudio here"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "features": pdf["payload"].map(_fake_features),
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, real: bool = False
) -> DataFrame:
    """video rows -> one row per sampled frame (deterministic fake:
    frame payload is a byte-slice keyed by frame index)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                raise NotImplementedError("real frame decoder unavailable")
            vids = pdf[pdf["kind"] == "video"]
            payloads = [p if p is not None else b"" for p in vids["payload"]]
            n_frames = np.maximum(
                1, vids["duration_ms"].to_numpy(dtype="int64") // every_ms
            )
            # Vectorized ragged expansion: repeat each video's id/payload
            # n_frames times and build the per-video 0..n-1 frame index
            # without a per-row loop (arange minus repeated group offsets).
            media_id = np.repeat(vids["media_id"].to_numpy(dtype="int64"), n_frames)
            offsets = np.cumsum(n_frames) - n_frames
            frame_idx = np.arange(int(n_frames.sum())) - np.repeat(offsets, n_frames)
            lens = np.repeat(
                np.maximum(1, np.fromiter(map(len, payloads), dtype="int64", count=len(payloads))),
                n_frames,
            )
            starts = (frame_idx * 16) % lens
            rep_payloads = np.repeat(np.array(payloads, dtype=object), n_frames)
            yield pd.DataFrame(
                {
                    "media_id": media_id,
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_payload": [
                        p[s : s + 16] for p, s in zip(rep_payloads, starts)
                    ],
                }
            )

    return media.mapInPandas(run, FRAMES_SCHEMA)
