"""Multimodal column plumbing: image/audio/video payloads as opaque binary
columns with typed metadata, processed via Arrow-batched Pandas UDFs.

The Spark-side architecture is real and tested — schemas, partitioning,
mapInPandas batch shape, metadata extraction. The actual media decoding is
STUBBED by deterministic byte-level stand-ins because media libraries
(PIL/ffmpeg) are not in this container. Swapping in a real decoder changes
only the inner function body, not the distributed plan.

Scale design: payloads stay in executor memory only for the lifetime of one
Arrow batch; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch
memory for large blobs; feature extraction is embarrassingly parallel with
no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC_PREFIXES = {
    b"\xff\xd8\xff": "jpeg",
    b"\x89PNG": "png",
    b"GIF8": "gif",
    b"RIFF": "riff",  # wav/webp container
    b"OggS": "ogg",
}


def attach_binary_payload(df: DataFrame, text_col: str, out_col: str = "payload") -> DataFrame:
    """Testing shim: derive a binary payload column from text (the container
    has no media files). Real pipelines read binary columns from parquet."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def payload_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Typed metadata for an opaque binary column — byte length, format
    sniffed from magic bytes, content hash. Pure JVM expressions."""
    p = F.col(payload_col)
    fmt = F.lit("unknown")
    for magic, name in MAGIC_PREFIXES.items():
        hexs = magic.hex()
        fmt = F.when(F.hex(p).startswith(hexs.upper()), F.lit(name)).otherwise(fmt)
    return df.select(
        F.col(id_col),
        F.length(p).cast("long").alias("n_bytes"),
        fmt.alias("format"),
        F.md5(p).alias("content_md5"),
    )


def sample_frames_stride(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    frame_size: int = 64,
    every: int = 4,
) -> DataFrame:
    """Video-style frame sampling plumbing: segment the payload into
    fixed-size frames and keep every ``every``-th one, emitting (id, frame_idx, frame_md5).
    With a real container format the frame boundaries come from the codec
    index instead of fixed offsets; the distributed shape is identical.

    Pure JVM expressions (sequence + explode + substring on BINARY + md5):
    no Python in the path, frames never leave the executor, and the
    explode is narrow — at 100 TB this fuses with the scan and costs one
    pass over the payload bytes."""
    p = F.col(payload_col)
    n_frames = F.ceil(F.length(p) / F.lit(float(frame_size))).cast("int")
    idxs = F.sequence(
        F.lit(0), F.greatest(n_frames - F.lit(1), F.lit(0)), F.lit(every)
    )
    exploded = df.select(
        F.col(id_col), p.alias("__p"), F.explode(idxs).alias("frame_idx")
    )
    frame = F.expr(f"substring(__p, frame_idx * {frame_size} + 1, {frame_size})")
    return exploded.select(
        F.col(id_col),
        F.col("frame_idx"),
        F.md5(frame).alias("frame_md5"),
    ).orderBy(id_col, "frame_idx")


def resize_payloads(
    df: DataFrame, id_col: str, payload_col: str, stride: int = 4
) -> DataFrame:
    """Resize/thumbnail stage plumbing: each payload is decimated by keeping
    every ``stride``-th byte (the deterministic stand-in for pixel-domain
    resampling — a real implementation decodes, resizes, re-encodes inside
    the same batch function; see module docstring). Output records the
    in/out sizes and the md5 of the resized payload.

    The distributed shape is the real thing: Arrow-batched ``mapInPandas``
    over a binary column — payloads stream through executor memory one
    batch at a time, no shuffle, no driver involvement; batch memory is
    bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    import hashlib

    out_schema = f"{id_col} long, in_bytes long, out_bytes long, out_md5 string"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = [bytes(p) for p in pdf[payload_col]]
            resized = [p[::stride] for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "in_bytes": [len(p) for p in payloads],
                    "out_bytes": [len(r) for r in resized],
                    "out_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(batches, schema=out_schema)
