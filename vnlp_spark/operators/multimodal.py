"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, with feature extraction and frame sampling as ``mapInArrow``
stages.

No payload is decoded.  Every feature vector comes from
``_pseudo_decode``: a deterministic, content-derived (sha256-seeded)
unit vector, stable across executors and runs.  The Spark plumbing
(schemas, Arrow batch shapes, partitioning) is real; a codec would only
replace ``_pseudo_decode``.

Schema conventions:
    media(doc_id long, kind string, payload binary,
          meta struct<mime:string, width:int, height:int, duration_ms:int>)
    features(doc_id long, kind string, feature array<float>)
"""
from __future__ import annotations

import hashlib
import math
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


def _pseudo_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: content-addressed
    pseudo-features (sha256-seeded), stable across executors/runs."""
    if payload is None:
        payload = b""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big") % (2**32)
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(FEATURE_DIM).astype(np.float32)
    # each float32 square is exact in float64 and fsum rounds once, so the
    # norm does not depend on the summation order a BLAS kernel picks
    return v / (math.sqrt(math.fsum(float(x) * float(x) for x in v)) + 1e-9)


def extract_features(media: DataFrame) -> DataFrame:
    """media -> features via mapInArrow: one Arrow batch in, one out;
    partitioning untouched (narrow), payload column pruned away after use."""
    arrow_schema = to_arrow_schema(FEATURE_SCHEMA)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            feats = [_pseudo_decode(p).tolist()
                     for p in batch.column("payload").to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {"doc_id": batch.column("doc_id"), "kind": batch.column("kind"),
                 "feature": feats},
                schema=arrow_schema,
            )

    return media.mapInArrow(gen, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video -> one row per sampled frame (frame_idx, ts_ms, feature);
    each frame's feature is the pseudo-decode of payload + frame index."""
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
                for i in range(n_frames):
                    rows["doc_id"].append(r["doc_id"])
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["feature"].append(
                        _pseudo_decode((r["payload"] or b"") + i.to_bytes(4, "big")).tolist()
                    )
            yield pa.RecordBatch.from_pydict(rows, schema=arrow_schema)

    return media.filter(F.col("kind") == "video").mapInArrow(gen, schema=schema)


def synth_media(spark, n: int = 100) -> DataFrame:
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
            (F.pmod(F.xxhash64("id", F.lit(43)), F.lit(10000)) + 1000)
            .cast("int")
            .alias("duration_ms"),
        ).alias("meta"),
    )
