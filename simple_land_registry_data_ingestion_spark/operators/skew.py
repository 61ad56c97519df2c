"""Skew mitigation (north-star X6): salting patterns for hot keys.

Order of tools for skew at scale:
 1. AQE skew-join splitting (on by default in session.TUNING) — handles
    sort-merge joins with skewed partitions automatically at runtime.
 2. Map-side partial aggregation (automatic) — absorbs count/sum/min/max
    skew before the shuffle.
 3. SALTING (this module) — for the cases the engine can't fix alone:
    grouped collect/distinct-style aggregations where one key's state is
    too big for one reducer, and broadcast-ineligible joins against a
    skewed key where AQE's split still leaves one huge task.

Both operators are RESULT-INVARIANT to the salt (the salt only spreads
work), which is what makes them oracle-checkable: the salted plan must
produce byte-identical results to the unsalted one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import load

SALT_BUCKETS = 16


def _salt(n: int) -> Column:
    """Deterministic row salt in [0, n): monotonically_increasing_id is
    unique per row within a job, so pmod spreads every key's rows evenly
    without an RNG (and without claiming cross-run stability — the RESULT
    never depends on which salt a row got)."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(n)).cast("int")


def salted_two_stage_agg(
    df: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """count/sum per key via (key, salt) partials then a key-only merge.

    Stage 1 shuffles on (key, salt): a key with 10^9 rows becomes
    ``SALT_BUCKETS`` reducer-sized states instead of one giant one.  Stage 2
    shuffles only the tiny partials.  For plain count/sum Spark's map-side
    partials usually suffice — this shape is the template for aggs whose
    per-key state is large (collect_set, exact distinct, percentile)."""
    partial = (
        df.withColumn("__salt", _salt(SALT_BUCKETS))
        .groupBy(*key_cols, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("value").alias("__sum"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__n").alias("n_events"),
        F.round(F.sum("__sum"), 2).alias("sum_value"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
) -> DataFrame:
    """Equi-join a skewed big side with a small (but not broadcastable)
    side: big rows get a random-ish salt, the small side is REPLICATED once
    per salt value, and the join key becomes (key, salt) — a hot key's rows
    now land on ``SALT_BUCKETS`` different reducers.

    Cost model: small side inflates by ``SALT_BUCKETS``x, so this wins when
    small * SALT_BUCKETS << big's hot-key volume.  (If small fits the
    broadcast threshold, just broadcast — no salt needed.)"""
    salted_big = big.withColumn("__salt", _salt(SALT_BUCKETS))
    exploded_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    return salted_big.join(exploded_small, [on, "__salt"]).drop("__salt")


# ---------------------------------------------------------------------------
# Driver-verifiable queries
# ---------------------------------------------------------------------------

def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event stats through the salted two-stage plan; must equal
    the plain GROUP BY bit-for-bit (integer counts; sum re-merged once)."""
    events = load(spark, sf_dir, "events")
    return salted_two_stage_agg(events, ["user_id"])


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events joined to a per-user dimension through the salted join,
    aggregated back down: equals the plain join + GROUP BY."""
    events = load(spark, sf_dir, "events")
    user_dim = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_total")
    )
    # hint Spark away from broadcasting so the salted shuffle join is what
    # actually runs (at test scale everything is broadcast-eligible)
    joined = salted_join(events, user_dim.hint("shuffle_hash"), "user_id")
    return (
        joined.where(F.col("user_total") > 100)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
