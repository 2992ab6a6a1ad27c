"""Multimodal column plumbing [SURVEY §2.11 N5].

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` pipelines. The
real codec work (image decode, resize, frame sampling) needs libraries
not present in this container, so the decode step is STUBBED — either
a deterministic byte-level feature extractor (default) or an explicit
NotImplementedError — while everything Spark-side (schema, batch
iteration, partitioning, UDF signature) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload_len", LongType()),
        StructField("header_hex", StringType()),
        StructField("content_md5", StringType()),
    ]
)


def decode_stub(payload: bytes) -> dict:
    """Deterministic stand-in for a real media decoder.

    A real deployment replaces this with PIL/ffmpeg/torchaudio calls;
    the Spark-side contract (bytes in, feature dict out, executed in
    Arrow batches) is identical.
    """
    return {
        "payload_len": len(payload),
        "header_hex": payload[:8].hex(),
        "content_md5": hashlib.md5(payload).hexdigest(),
    }


def resize_stub(payload: bytes, width: int, height: int) -> bytes:
    raise NotImplementedError(
        "image resize requires an imaging library not present in this "
        "container; payload plumbing is exercised via decode_stub"
    )


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over a binary payload column.

    Arrow ships each partition to Python in batches; the iterator
    contract keeps memory bounded regardless of partition size — the
    shape a 100 TB media pipeline needs (no per-row Python round trips,
    no whole-partition materialization).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(lambda b: decode_stub(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "payload_len": feats.map(lambda f: f["payload_len"]),
                    "header_hex": feats.map(lambda f: f["header_hex"]),
                    "content_md5": feats.map(lambda f: f["content_md5"]),
                }
            )

    return df.mapInPandas(extract, MEDIA_FEATURE_SCHEMA)


def extract_media_features_arrow(df: DataFrame) -> DataFrame:
    """mapInArrow twin of extract_media_features: the same decoder
    contract one level lower — raw ``pyarrow.RecordBatch`` in/out, no
    pandas conversion. For wide binary payloads this skips the
    Arrow→pandas object-boxing round trip (bytes stay buffer-backed),
    which is the variant a real codec with zero-copy input (ffmpeg on
    mmap'd buffers) wants. Differential-tested identical to the
    mapInPandas path and the native expressions."""
    import pyarrow as pa

    def extract(batches):
        for batch in batches:
            payloads = batch.column(batch.schema.get_field_index("payload"))
            feats = [decode_stub(p.as_py() or b"") for p in payloads]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    batch.column(batch.schema.get_field_index("media_type")),
                    pa.array([f["payload_len"] for f in feats], pa.int64()),
                    pa.array([f["header_hex"] for f in feats], pa.string()),
                    pa.array([f["content_md5"] for f in feats], pa.string()),
                ],
                names=[f.name for f in MEDIA_FEATURE_SCHEMA.fields],
            )

    return df.mapInArrow(extract, MEDIA_FEATURE_SCHEMA)


def media_features_native(df: DataFrame) -> DataFrame:
    """The decode_stub features as pure built-in expressions.

    Everything the stub computes is SQL-expressible (length / md5 /
    header hex), so the production query stays JVM-side in whole-stage
    codegen — no Python round trip at all. ``extract_media_features``
    remains the extension point for REAL codecs (the moment decode
    needs PIL/ffmpeg, that mapInPandas contract is the shape to use);
    the two paths are differential-tested against each other.
    """
    p = F.col("payload")
    return df.select(
        "doc_id",
        "media_type",
        F.length(p).cast("long").alias("payload_len"),
        F.lower(F.hex(F.substring(p, 1, 8))).alias("header_hex"),
        F.md5(p).alias("content_md5"),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapt the documents table into a (doc_id, media_type, payload)
    multimodal frame: utf-8 text bytes stand in for the opaque payload."""
    return docs.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
    )


MAX_SAMPLED_FRAMES = 16


def frame_sample_schedule(media: DataFrame) -> DataFrame:
    """Uniform-stride video frame-sampling schedule: for each asset,
    the frame indices (and their timestamps) a decode stage should
    pull, capped at ``MAX_SAMPLED_FRAMES`` per asset. This is the step
    BEFORE the codec — pure arithmetic on metadata, so unlike the decode stub
    it is fully real here: a production pipeline feeds this schedule
    to the ffmpeg stage and decodes ONLY the scheduled frames (the
    100 TB video trick — never decode what you won't sample).

    Plan shape: sequence/transform/explode generators, zero shuffles,
    output bounded at MAX_SAMPLED_FRAMES rows per asset.
    """
    n_total = F.greatest(
        F.floor(F.col("duration_ms") * F.col("fps") / 1000).cast("long"),
        F.lit(1),
    )
    # ceil, not floor: floor-stride covers only stride*MAX_SAMPLED_FRAMES
    # frames at the START of the asset (n_total=31 would sample frames
    # 0..15 only); ceil makes the <=MAX_SAMPLED_FRAMES samples span the
    # whole duration
    stride = F.greatest(F.ceil(n_total / MAX_SAMPLED_FRAMES).cast("long"), F.lit(1))
    idx_seq = F.slice(
        F.sequence(F.lit(0), n_total - 1, stride), 1, MAX_SAMPLED_FRAMES
    )
    out = media.select(
        F.col("doc_id"),
        F.col("duration_ms"),
        F.col("fps"),
        n_total.alias("n_frames_total"),
        F.posexplode(idx_seq).alias("sample_no", "frame_idx"),
    )
    return out.select(
        "doc_id",
        "duration_ms",
        "fps",
        "n_frames_total",
        F.col("sample_no").cast("long").alias("sample_no"),
        "frame_idx",
        F.floor(F.col("frame_idx") * 1000 / F.col("fps"))
        .cast("long")
        .alias("ts_ms"),
    )
