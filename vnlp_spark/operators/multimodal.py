"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, with decode / feature-extraction / frame-sampling as
``mapInArrow`` stages.

The container has no image/audio codecs, so the decode kernels are STUBS:
``decode_image`` raises NotImplementedError unless ``fake=True``, in which
case a deterministic content-derived pseudo-decode runs instead (stable
across executors — suitable for tests and for exercising the real Spark
plumbing: schemas, Arrow batch shapes, partitioning).  Swapping in Pillow/
ffmpeg later only replaces the marked kernel bodies.

Schema conventions:
    media(doc_id long, kind string, payload binary,
          meta struct<mime:string, width:int, height:int, duration_ms:int>)
    features(doc_id long, kind string, feature array<float>)
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
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

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 64


def _pseudo_decode(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real decoder: content-addressed
    pseudo-features (sha256-seeded), stable across executors/runs."""
    if payload is None:
        payload = b""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(dim).astype(np.float32)
    return v / (np.linalg.norm(v) + 1e-9)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """PNG, baseline AND progressive JPEG, and lossless WebP (VP8L)
    payloads decode for REAL (pure-python codecs: operators/png.py zlib
    IDAT + numpy unfilter; operators/jpeg.py Huffman + dequant + IDCT
    incl. progressive scans; operators/webp.py VP8L prefix codes + LZ77
    + color cache + transforms) and featurize as an 8x8 block-mean
    thumbnail.  Lossy VP8 WebP still needs a codec library the
    container lacks — honest NotImplementedError unless fake=True
    (deterministic pseudo-decode for tests)."""
    from .jpeg import decode_jpeg, is_jpeg
    from .png import decode_png, image_features, is_png
    from .webp import decode_webp, is_webp

    if payload and is_png(payload):
        return image_features(decode_png(payload), FEATURE_DIM)
    if payload and is_jpeg(payload):
        try:
            return image_features(decode_jpeg(payload), FEATURE_DIM)
        except NotImplementedError:
            if not fake:
                raise
            return _pseudo_decode(payload)
    if payload and is_webp(payload):
        try:
            return image_features(decode_webp(payload)[..., :3], FEATURE_DIM)
        except NotImplementedError:
            if not fake:
                raise
            return _pseudo_decode(payload)
    if not fake:
        raise NotImplementedError(
            "non-PNG/JPEG/WebP image decode requires Pillow; PNG, "
            "baseline+progressive JPEG and VP8L WebP decode natively, "
            "or run with fake=True for the deterministic pseudo-decode"
        )
    return _pseudo_decode(payload)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """media -> features via mapInArrow: one Arrow batch in, one out;
    partitioning untouched (narrow), payload column pruned away after use."""
    arrow_schema = to_arrow_schema(FEATURE_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats = [
                (_pseudo_decode(p) if fake else decode_image(p, fake=False)).tolist()
                for p in batch.column("payload").to_pylist()
            ]
            yield pa.RecordBatch.from_pydict(
                {"doc_id": batch.column("doc_id"), "kind": batch.column("kind"),
                 "feature": feats},
                schema=arrow_schema,
            )

    return media.mapInArrow(gen, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000, fake: bool = True) -> DataFrame:
    """video -> one row per sampled frame (frame_idx, ts_ms, feature).
    Frame extraction is the stubbed kernel; the explode/partition plumbing
    is real."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("ts_ms", IntegerType()),
            StructField("feature", ArrayType(FloatType())),
        ]
    )

    arrow_schema = to_arrow_schema(schema)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = {"doc_id": [], "frame_idx": [], "ts_ms": [], "feature": []}
            for r in batch.to_pylist():
                dur = r["meta"]["duration_ms"] or 0
                n_frames = max(1, int(dur) // every_ms)
                if not fake:
                    raise NotImplementedError("frame extraction requires ffmpeg")
                for i in range(n_frames):
                    rows["doc_id"].append(r["doc_id"])
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["feature"].append(
                        _pseudo_decode((r["payload"] or b"") + i.to_bytes(4, "big")).tolist()
                    )
            yield pa.RecordBatch.from_pydict(rows, schema=arrow_schema)

    return media.filter(F.col("kind") == "video").mapInArrow(gen, schema=schema)


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table in MEDIA_SCHEMA (binary payloads
    derived from ids) for tests/benchmarks."""
    df = spark.range(n)
    # kind cycles by id (not a hash) so the mapping is reproducible by any
    # engine — the DuckDB oracle recomputes it independently
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
    )
    return df.select(
        F.col("id").alias("doc_id"),
        kind.alias("kind"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/"), kind).alias("mime"),
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(10000)) + 1000)
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )
