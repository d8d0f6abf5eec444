"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing — schemas, Arrow batch shape, partition-friendly
``mapInPandas`` decode/extract/resize/frame-sample operators — is real and
tested; the codec step is stubbed (image/audio libraries are not in this
container): ``decode_stub`` raises ``NotImplementedError`` unless
``deterministic_fake=True``, which produces seeded, reproducible features
derived from the bytes (md5-keyed), so downstream pipelines are testable.

At 100 TB the shape matters more than the codec: binary payloads stay in
Arrow buffers end-to-end (no base64, no per-row Python), metadata columns
are pruned/pushed down independently of the blob, and the decode UDF is a
narrow map — partitioning strategy is inherited from the scan.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .scale import spread_small_scan

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),       # image|audio|video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
        StructField("meta_duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("sha", StringType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
        # emb_sig: md5 over the exact integer lattice the embedding was
        # built from — hashable + cross-engine reproducible (the raw
        # array<float> is not: the driver's canonicalizer can't sort lists,
        # and float roundtrips aren't bit-stable across engines).
        StructField("emb_sig", StringType(), False),
    ]
)

EMB_DIM = 16


def _fake_embedding_e6(payload: bytes) -> np.ndarray:
    """Deterministic fake feature vector as EXACT integers in
    [-1_000_000, 1_000_000] (value = e6/1e6): element j is derived from
    md5(md5(payload).hexdigest() + '|' + j), 48-bit prefix mod 2_000_001.
    Integer-only math so a SQL engine (DuckDB oracle) reproduces it
    bit-for-bit — no RNG, no float roundtrip."""
    seed_hex = hashlib.md5(payload or b"").hexdigest()
    return np.array(
        [
            (int(hashlib.md5(f"{seed_hex}|{j}".encode()).hexdigest()[:12], 16)
             % 2_000_001) - 1_000_000
            for j in range(EMB_DIM)
        ],
        dtype=np.int64,
    )


def decode_stub(payload: bytes, kind: str, deterministic_fake: bool = False) -> np.ndarray:
    """Codec stand-in. Real deployment plugs a decoder here (PIL/ffmpeg);
    this container has none, so either fail loudly or produce a seeded
    deterministic fake derived from the payload bytes."""
    if not deterministic_fake:
        raise NotImplementedError(
            f"no {kind} codec in this environment — pass deterministic_fake=True "
            "for the seeded stand-in"
        )
    return (_fake_embedding_e6(payload) / 1e6).astype(np.float32)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from the documents test table: the text
    bytes become the opaque payload (deterministic, NULL text = empty
    payload), metadata derived."""
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        .alias("payload"),
        F.pmod(F.col("doc_id"), F.lit(1920)).cast("int").alias("meta_width"),
        F.pmod(F.col("doc_id"), F.lit(1080)).cast("int").alias("meta_height"),
        (F.col("n_chars") * 10).cast("int").alias("meta_duration_ms"),
    )


def extract_media_features(
    media: DataFrame, deterministic_fake: bool = True
) -> DataFrame:
    """Batch decode + feature-extract: Arrow batches of binary payloads →
    (n_bytes, sha, 16-dim embedding). One narrow mapInPandas."""
    media = spread_small_scan(media, "media_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs, sigs, shas, sizes = [], [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                b = bytes(payload) if payload is not None else b""
                sizes.append(len(b))
                shas.append(hashlib.sha256(b).hexdigest()[:16])
                if deterministic_fake:
                    e6 = _fake_embedding_e6(b)
                    embs.append((e6 / 1e6).astype(np.float32).tolist())
                    sigs.append(
                        hashlib.md5(
                            ",".join(str(int(x)) for x in e6).encode()
                        ).hexdigest()
                    )
                else:
                    emb = decode_stub(b, kind, deterministic_fake)
                    embs.append(emb.tolist())
                    sigs.append(
                        hashlib.md5(emb.tobytes()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "sha": shas,
                    "embedding": embs,
                    "emb_sig": sigs,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )


def resize_media(
    media: DataFrame,
    max_w: int = 640,
    max_h: int = 480,
) -> DataFrame:
    """Image-resize plumbing: aspect-preserving dimension clamp as exact
    integer expressions (JVM-side; the pixel resample itself would sit in
    the decode UDF — stubbed here like the codec, the payload passes
    through untouched). Output: (media_id, w, h, new_w, new_h, payload).

    Integer math only (cross-multiplied aspect comparison, floor
    division) so the planning/metadata layer is fully oracle-checkable.
    Scaled dimensions are clamped to ≥ 1 (a 640×0 plan would be rejected
    by any resampler); degenerate 0-sized INPUT dims pass through as-is.
    """
    w, h = F.col("meta_width"), F.col("meta_height")
    fits = (w <= max_w) & (h <= max_h)
    width_limited = (w * max_h) >= (h * max_w)
    new_w = (
        F.when(fits, w)
        .when(width_limited, F.lit(max_w))
        .otherwise(F.greatest(F.floor((w * max_h) / h), F.lit(1)))
    )
    new_h = (
        F.when(fits, h)
        .when(width_limited, F.greatest(F.floor((h * max_w) / w), F.lit(1)))
        .otherwise(F.lit(max_h))
    )
    return media.filter(F.col("kind") == "image").select(
        "media_id",
        w.alias("w"),
        h.alias("h"),
        new_w.cast("int").alias("new_w"),
        new_h.cast("int").alias("new_h"),
        "payload",
    )


def frame_sample(
    media: DataFrame,
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame-sampling plumbing: explode sample timestamps from the
    duration metadata (native expressions; the actual frame grab would sit
    in the decode UDF). Output: (media_id, frame_no, ts_ms)."""
    n_frames = F.least(
        F.floor(F.col("meta_duration_ms") / every_ms).cast("int") + 1,
        F.lit(max_frames),
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_frames - 1),
                    lambda i: i * every_ms,
                )
            ).alias("frame_no", "ts_ms"),
        )
    )
