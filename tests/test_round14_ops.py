"""Round-14 pins: ADVICE r13 fixes.

  (a) GEMM pre-filter slack covers the full HALF_UP rounding band —
      a pair whose RAW cosine sits in [t - 5e-7, t - 1e-9) rounds UP to
      the threshold at 6 dp and must survive the UDF pre-cut so the
      exact Spark-side filter can admit it (the old 1e-9 slack dropped
      it before the filter ever saw it).
  (b) dedup_semdedup's in-cluster gram is row-blocked: results are
      byte-identical at any block size (the division happens after the
      matmul, so each block row's floats equal the full-matrix ones),
      bounding a degenerate cluster's memory at O(block * c).
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators import dedup, substrate
from tests.conftest import SF_SMALL


def test_gemm_precut_admits_halfup_boundary_band(spark):
    """Raw cosine 0.2999996 < t=0.3 but round(., 6) == 0.300000 >= t:
    the pair MUST appear in the output (ADVICE r13 medium)."""
    c = 0.2999996
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [c, math.sqrt(1.0 - c * c), 0.0]),
        # filler far below threshold so the frame has >1 block's worth
        (2, [0.0, 0.0, 1.0]),
        (3, [0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "embeddings.parquet"))
        got = {
            (r.vec_a, r.vec_b): r.cosine
            for r in dedup.dedup_embedding_cosine(
                spark, td, threshold=0.3
            ).collect()
        }
    # float32 storage perturbs c by ~1e-8 — still inside the band
    assert (0, 1) in got, got
    assert got[(0, 1)] == 0.3


def test_semdedup_row_blocking_is_exact(spark):
    """Blocked and unblocked grams must produce identical rows — the
    per-row dot products are the same float64 values either way."""
    full = sorted(
        map(tuple, dedup.dedup_semdedup(spark, SF_SMALL).collect())
    )
    blocked = sorted(
        map(tuple, dedup.dedup_semdedup(spark, SF_SMALL, row_block=3).collect())
    )
    assert full == blocked and len(full) > 0


def test_prefix_index_producer_is_live_and_lens_reads_store(spark, monkeypatch):
    """r13 substrate accounting rule applied to the r14 prefix-index
    store: dedup_prefix_index_build must PAY the index build (no store
    read anywhere), while dedup_jaccard_prefix reads the at-rest entry
    — and both must agree with the live join on rows."""
    store_calls = []
    real_frame = substrate.materialized_frame

    def spy_frame(spark_, sf_dir, tag, builder, **kw):
        store_calls.append(tag)
        return real_frame(spark_, sf_dir, tag, builder, **kw)

    monkeypatch.setattr(dedup, "materialized_frame", spy_frame)
    prod = dedup.dedup_prefix_index_build(spark, SF_SMALL)
    assert prod.limit(1).count() >= 0
    assert store_calls == [], "producer must not read the store"

    lens = dedup.dedup_jaccard_prefix(spark, SF_SMALL)
    got = sorted(map(tuple, lens.collect()))
    assert store_calls == ["prefix_index"], "lens must read the store"
    live = sorted(
        map(
            tuple,
            dedup.jaccard_prefix_pairs(
                dedup.load(spark, SF_SMALL, "documents"), 0.5
            ).collect(),
        )
    )
    assert got == live and len(got) > 0


def test_prefix_index_is_threshold_independent(spark):
    """The stored index carries FULL sorted token lists: the same frame
    must serve any threshold slice losslessly (here t=0.7 vs t=0.5 —
    the t=0.7 result is exactly the jaccard >= 0.7 slice of a live
    t=0.7 join)."""
    docs = dedup.load(spark, SF_SMALL, "documents")
    idx = dedup.build_prefix_index(docs).localCheckpoint(eager=True)
    via_index = sorted(
        map(
            tuple,
            dedup._prefix_join_from_index(idx, 0.7, True).verified.collect(),
        )
    )
    live = sorted(
        map(tuple, dedup.jaccard_prefix_pairs(docs, 0.7).collect())
    )
    assert via_index == live
