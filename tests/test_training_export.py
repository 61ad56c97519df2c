"""Training-export operators: sequence packing, Gopher filter, and
benchmark decontamination — semantic invariants plus the physical-plan
properties that keep them viable at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark import plans
from simple_land_registry_data_ingestion_spark.functions.text import text_gopher_filter
from simple_land_registry_data_ingestion_spark.operators import packing
from simple_land_registry_data_ingestion_spark.operators.dedup import dedup_decontaminate
from simple_land_registry_data_ingestion_spark.tables import load
from tests.conftest import SF_ORACLE, SF_SMALL


def test_packing_offsets_are_the_exact_global_prefix_sum(spark):
    """The two-level scan must equal the single sequential scan: offsets are
    contiguous (offset[i+1] = offset[i] + n_tokens[i]) starting at 0."""
    rows = packing.pack_sequences_documents(spark, SF_SMALL).collect()
    assert rows[0]["token_offset"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["token_offset"] == prev["token_offset"] + prev["n_tokens"]
    last = rows[-1]
    total = sum(r["n_tokens"] for r in rows)
    assert last["token_offset"] + last["n_tokens"] == total
    # Span arithmetic: every doc covers exactly the sequences its token
    # range intersects, for a non-divisor shard/seq_len combination too.
    for r in rows:
        assert r["seq_start"] == r["token_offset"] // packing.SEQ_LEN
        assert r["seq_end"] == (r["token_offset"] + r["n_tokens"] - 1) // packing.SEQ_LEN
        assert r["n_seqs"] == r["seq_end"] - r["seq_start"] + 1


def test_packing_shard_size_invariance(spark):
    """Offsets are independent of the shard partitioning parameter."""
    docs = load(spark, SF_SMALL, "documents")
    a = {
        r["doc_id"]: r["token_offset"]
        for r in packing.global_token_offsets(docs, shard_size=7).collect()
    }
    b = {
        r["doc_id"]: r["token_offset"]
        for r in packing.global_token_offsets(docs, shard_size=997).collect()
    }
    assert a == b


def test_packing_heavy_window_is_sharded_not_global(spark):
    """The per-doc running sum must window over the SHARD key (parallel);
    only the tiny one-row-per-shard aggregate may single-partition sort."""
    import re

    docs = load(spark, SF_ORACLE, "documents")
    plan = plans.formatted_plan(packing.pack_sequences(docs))
    # Heavy per-doc running sum: a windowspec whose partition key is shard.
    assert re.search(r"windowspecdefinition\(shard#\d+L?, doc_id", plan), plan


def test_gopher_filter_flags_are_consistent(spark):
    out = text_gopher_filter(spark, SF_ORACLE).collect()
    assert len(out) > 0
    kept = [r for r in out if r["keep"]]
    dropped = [r for r in out if not r["keep"]]
    assert kept and dropped, "filter should split the corpus both ways"
    for r in out:
        # keep <=> no fail reasons; reasons only name real rules.
        assert r["keep"] == (r["fail_reasons"] == "")
        for reason in filter(None, r["fail_reasons"].split(",")):
            assert reason in {
                "n_tokens", "mean_word_len", "alpha_ratio",
                "distinct_ratio", "stop_hits",
            }


def test_decontaminate_broadcasts_eval_and_never_flags_eval_docs(spark):
    df = dedup_decontaminate(spark, SF_ORACLE)
    assert plans.broadcast_join_count(df) >= 1
    plans.assert_no_cartesian_product(df)
    rows = df.collect()
    assert rows, "synthetic corpus shares vocabulary; expect contamination"
    assert all(r["doc_id"] % 97 != 0 for r in rows)
    for r in rows:
        assert 0 < r["n_overlap"] <= r["n_shingles"]
        assert 0.0 < r["containment"] <= 1.0


def test_decontaminate_detects_planted_copy(spark):
    """A verbatim eval document planted in the training side must surface
    with containment 1.0 — the recall property the operator exists for."""
    docs = load(spark, SF_SMALL, "documents").limit(50).cache()
    eval_docs = docs.where(F.col("doc_id") == 0)
    train = docs.where(F.col("doc_id") != 0).unionByName(
        eval_docs.withColumn("doc_id", F.lit(10_000_000))
    )
    from simple_land_registry_data_ingestion_spark.operators.dedup import decontaminate

    flagged = {r["doc_id"]: r for r in decontaminate(train, eval_docs).collect()}
    assert 10_000_000 in flagged
    assert flagged[10_000_000]["containment"] == 1.0
