"""Multimodal columns (north-star X5): opaque binary payloads + typed
metadata, with decode / feature-extract / frame-sample as Arrow-batched
Pandas UDFs over ``mapInPandas``.

The reference pipeline is text-only CSV (reference main.py:204-210); a
training-data pipeline additionally carries image/audio/video blobs.  The
model here:

 - payloads are a ``binary`` column — Spark never interprets them, so they
   flow through shuffles/parquet like any other column (parquet stores them
   as BYTE_ARRAY; at 100 TB, large blobs belong in their OWN column so
   column pruning skips them unless a query asks).
 - per-payload metadata (size, fingerprint, magic-derived format) is typed
   columns computed JVM-side — no Python in that path.
 - the decode step is where real pipelines call PIL/ffmpeg/librosa.  Those
   libs are not dependencies here, so ``decode_payload_batches`` is a
   DETERMINISTIC FAKE (features derived from the bytes themselves); the
   Spark-side plumbing (schema, Arrow batching, partition mapping) is real
   and tested.

The testdata has no blob table, so payloads are derived deterministically
from ``documents.text`` (utf-8 encode) — same corpus every engine sees.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import fan_out, load

#: Magic prefixes -> format tag, checked JVM-side on the binary column.
#: (Real corpora: PNG/JPEG/RIFF...; the synthetic payloads are utf-8 text,
#: so the interesting case is the fallback.)
_MAGIC = {
    "89504e47": "png",
    "ffd8ff": "jpeg",
    "52494646": "riff",
}


def documents_with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a binary ``payload`` column (utf-8 bytes of the text).

    Column order puts the blob LAST: wide binary columns at the end of the
    schema keep the common row-group read path (metadata-only queries)
    cheap, and parquet column pruning drops the blob entirely unless
    selected."""
    docs = load(spark, sf_dir, "documents")
    return docs.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def multimodal_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque blob, entirely JVM-side: size,
    md5 fingerprint, hex magic prefix, and the format tag it implies."""
    with_payload = documents_with_payload(spark, sf_dir)
    magic = F.lower(F.hex(F.substring(F.col("payload"), 1, 4)))
    fmt = F.lit("raw")
    for prefix, tag in _MAGIC.items():
        fmt = F.when(magic.startswith(prefix), tag).otherwise(fmt)
    return with_payload.select(
        "doc_id",
        F.length(F.col("payload")).cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        magic.alias("magic_hex"),
        fmt.alias("format"),
    )


# ---------------------------------------------------------------------------
# Decode (Pandas-UDF plumbing; the codec itself is stubbed)
# ---------------------------------------------------------------------------

_DECODE_SCHEMA = (
    "doc_id long, n_bytes long, fake_width long, fake_height long, "
    "mean_byte double"
)


def decode_payload_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode step: Arrow batches in, feature rows out.

    STUB CODEC: real pipelines decode pixels/samples here; this container
    has no image/audio libs, so the "decoded" features are deterministic
    functions of the raw bytes (so the oracle can verify the plumbing):
      fake_width  = 1 + n_bytes mod 64      (stands in for image width)
      fake_height = 1 + n_bytes mod 48      (stands in for image height)
      mean_byte   = mean of the payload's bytes ("mean pixel intensity")

    mean_byte is an exact-integer sum divided once — bit-identical across
    engines, so no rounding is needed for the oracle compare.  The byte sum
    runs as a vectorized int64 numpy reduction over the raw buffer (a
    Python-level ``sum(bytes)`` loop is ~50x slower and dominated the whole
    bench); int64 keeps the sum exact, so the division result is identical
    to the scalar loop.
    """
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n_bytes,
                "fake_width": 1 + (n_bytes % 64),
                "fake_height": 1 + (n_bytes % 48),
                "mean_byte": [
                    int(np.frombuffer(p, dtype=np.uint8).sum(dtype=np.int64))
                    / len(p)
                    if len(p)
                    else 0.0
                    for p in payloads
                ],
            }
        )


def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over the blob column via mapInPandas.

    Plan shape at scale: one narrow pass — scan (payload column only, other
    columns pruned) -> Arrow batches -> Python workers -> feature rows.
    Arrow batch size bounds Python memory
    (spark.sql.execution.arrow.maxRecordsPerBatch); fan_out decouples the
    Python-worker parallelism from byte-based input splits (decode is
    CPU-bound, see tables.fan_out)."""
    with_payload = fan_out(
        documents_with_payload(spark, sf_dir).select("doc_id", "payload")
    )
    return with_payload.mapInPandas(decode_payload_batches, _DECODE_SCHEMA)


_FRAMES_SCHEMA = "doc_id long, n_frames long, frame_bytes string"

FRAME_STRIDE = 997  # prime stride so frames don't alias document structure


def frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling for "video" payloads: every FRAME_STRIDE-th byte is a
    frame marker (stand-in for ffmpeg keyframe extraction).

    ``frame_bytes`` is emitted as a comma-joined string rather than
    ``array<long>``: the sampled frame list is a *result* column (not an
    input to further relational ops), and a flat string keeps the row
    hashable/sortable for any pandas/Arrow consumer downstream."""
    for pdf in batches:
        frames = pdf["payload"].map(lambda p: [int(b) for b in p[:: FRAME_STRIDE]])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": frames.map(len),
                "frame_bytes": frames.map(
                    lambda fs: ",".join(str(b) for b in fs)
                ),
            }
        )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample the blob column (video keyframe stand-in)."""
    with_payload = fan_out(
        documents_with_payload(spark, sf_dir).select("doc_id", "payload")
    )
    return with_payload.mapInPandas(frame_sample_batches, _FRAMES_SCHEMA)
