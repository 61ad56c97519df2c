r"""Sequence packing for LLM pretraining export.

Pretraining dataloaders consume fixed-length token sequences built by
concatenating every document in a deterministic order and slicing the token
stream every ``seq_len`` tokens ("concat-and-chunk" packing).  The operator
that matters at 100 TB is the global exclusive prefix-sum of per-document
token counts: with it, every document knows its absolute token offset and
therefore exactly which output sequences it lands in — no sequential pass
over the corpus.

The prefix-sum here is the classic two-level scan, expressed in DataFrame
ops so Catalyst/AQE schedule it:

1. shard documents by ``floor(doc_id / shard_size)`` — shard boundaries
   respect global ``doc_id`` order, so within-shard + shard-prefix sums
   compose into the exact global offset;
2. within-shard exclusive running sum: a window partitioned BY SHARD, so
   the heavy scan parallelizes across shards (contrast a single global
   ``Window.orderBy`` — one task, the canonical scale-killer);
3. shard totals are a tiny aggregate (one row per shard — thousands of rows
   at 100 TB); their exclusive running sum runs in one task on purpose, and
   the result broadcast-joins back onto the sharded stream.

No driver-side state, no collect; the widest shuffle is the per-shard
aggregate with map-side partial sums.

Reference scope: the reference engine (/root/reference/main.py) ships rows
to a relational sink; packing is part of the training-data surface this
repo adds on top (SURVEY.md §2 X-rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.functions.text import token_count_col
from simple_land_registry_data_ingestion_spark.tables import load

#: Output sequence length (tokens per packed training sequence).
SEQ_LEN = 64

#: Documents per prefix-sum shard.  At 100 TB tune so one shard's rows fit
#: one task comfortably (e.g. 1e6 docs/shard -> ~thousands of shards).
SHARD_SIZE = 64


def global_token_offsets(
    docs: DataFrame, shard_size: int = SHARD_SIZE
) -> DataFrame:
    """(doc_id, n_tokens, token_offset): exclusive global prefix-sum of
    whitespace-token counts in ``doc_id`` order, via the two-level scan."""
    toks = docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(shard_size)).alias("shard"),
    )
    # Within-shard exclusive running sum — parallel across shards.
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = toks.withColumn(
        "local_offset", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    # Shard totals (tiny) -> exclusive prefix over shards -> broadcast back.
    w_shard = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    shard_offsets = (
        toks.groupBy("shard")
        .agg(F.sum("n_tokens").alias("shard_tokens"))
        .withColumn(
            "shard_offset", F.coalesce(F.sum("shard_tokens").over(w_shard), F.lit(0))
        )
        .select("shard", "shard_offset")
    )
    return within.join(F.broadcast(shard_offsets), "shard").select(
        "doc_id",
        "n_tokens",
        (F.col("shard_offset") + F.col("local_offset")).alias("token_offset"),
    )


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Map every document to the packed sequences it occupies.

    Output: (doc_id, n_tokens, token_offset, seq_start, seq_end, n_seqs)
    where sequence ``i`` holds token positions [i*SEQ_LEN, (i+1)*SEQ_LEN).
    A downstream writer groups by seq_start (or explodes the span) to emit
    the actual training shards; this operator is the placement computation.
    """
    off = global_token_offsets(docs)
    seq_start = F.floor(F.col("token_offset") / SEQ_LEN)
    seq_end = F.floor((F.col("token_offset") + F.col("n_tokens") - 1) / SEQ_LEN)
    return off.select(
        "doc_id",
        "n_tokens",
        "token_offset",
        seq_start.alias("seq_start"),
        seq_end.alias("seq_end"),
        (seq_end - seq_start + 1).alias("n_seqs"),
    )


def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: concat-and-chunk placement for the documents table
    at seq_len=64, ordered output for the oracle compare."""
    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs).orderBy("doc_id")
