"""Multimodal plumbing tests: binary column typing and Arrow batch shape
through mapInPandas."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

from simple_land_registry_data_ingestion_spark.operators import multimodal
from tests.conftest import SF_SMALL


def test_payload_column_is_binary(spark):
    df = multimodal.documents_with_payload(spark, SF_SMALL)
    assert isinstance(df.schema["payload"].dataType, BinaryType)


def test_decode_survives_small_arrow_batches(spark):
    """The decode UDF must be correct per-batch, not per-partition: force
    many small Arrow batches and check nothing is lost or duplicated."""
    n_docs = multimodal.documents_with_payload(spark, SF_SMALL).count()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        out = multimodal.multimodal_decode_features(spark, SF_SMALL)
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    for r in rows[:20]:
        assert r["fake_width"] == 1 + r["n_bytes"] % 64
        assert 0.0 <= r["mean_byte"] <= 255.0


def test_frame_sample_schema_and_stride(spark):
    out = multimodal.multimodal_frame_sample(spark, SF_SMALL)
    assert isinstance(out.schema["frame_bytes"].dataType, StringType)
    # docs at sf0.001 may all be shorter than one stride; the ceil invariant
    # below holds for any size, so just take the largest doc.
    row = out.orderBy(F.col("n_frames").desc(), "doc_id").first()
    meta = (
        multimodal.multimodal_binary_metadata(spark, SF_SMALL)
        .where(F.col("doc_id") == row["doc_id"])
        .first()
    )
    frames = [int(x) for x in row["frame_bytes"].split(",")]
    # ceil(n_bytes / stride) frames
    expected = (meta["n_bytes"] + multimodal.FRAME_STRIDE - 1) // multimodal.FRAME_STRIDE
    assert row["n_frames"] == expected == len(frames)
    assert all(0 <= b <= 255 for b in frames)
