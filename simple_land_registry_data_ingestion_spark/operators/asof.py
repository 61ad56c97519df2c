"""As-of (most-recent-match) join.

Spark has no ASOF JOIN operator; the reference (a pandas->Postgres ETL,
main.py:174-271) has no joins at all.  This implements the standard
Spark-first composition for an as-of join against a SMALL versioned
dimension: interval-ize the dimension with ``lead()`` (each version row
becomes a [valid_from, valid_to) interval), then BROADCAST range-join the
fact table against the intervals.  Each fact row matches exactly one
interval, so the join never duplicates and never shuffles the fact side.

Scale notes: the window that interval-izes the dimension is a single-
partition sort, which is fine *only because the dimension is tiny* (tens of
rows — one per quarter).  The fact side streams through a
BroadcastNestedLoopJoin / broadcast range join with zero exchanges.  For a
LARGE right side (e.g. trades-vs-quotes as-of), the composition switches to
union + per-key window (partitioned by the join key), which shuffles once
on the key — both variants stay O(one pass) over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import load


def join_asof_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join orders -> quarterly rate table (most recent rate at or
    before the order date).

    The rate dimension is derived deterministically from the data: one row
    per Q1/Q3 quarter-start observed in ``orders`` (Q2/Q4 deliberately
    dropped so the as-of match is non-trivial — a Q2 order must reach back
    to the Q1 rate).  Orders before the first rate row drop out (inner
    as-of semantics).
    """
    orders = load(spark, sf_dir, "orders")

    rates = (
        orders.select(
            F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("rate_date")
        )
        .distinct()
        .where(F.quarter("rate_date").isin(1, 3))
        .withColumn(
            "rate",
            F.round(
                F.lit(1.0)
                + (F.year("rate_date") % 5) * 0.01
                + F.quarter("rate_date") * 0.001,
                6,
            ),
        )
    )

    # Interval-ize: single-partition window is safe on a tens-of-rows dim.
    w = Window.orderBy("rate_date")
    intervals = rates.withColumn("rate_until", F.lead("rate_date").over(w))

    odate = F.to_date("o_orderdate")
    return (
        orders.join(
            F.broadcast(intervals),
            (odate >= F.col("rate_date"))
            & (F.col("rate_until").isNull() | (odate < F.col("rate_until"))),
        )
        .select(
            "o_orderkey",
            F.col("rate_date").alias("asof_date"),
            "rate",
            # no explicit round: the double product is IEEE-identical across
            # engines, while ROUND at a half-boundary is not
            (F.col("o_totalprice") * F.col("rate")).alias("adj_price"),
        )
    )


def join_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 point-in-time join: each fact row matches the dimension
    VERSION that was effective on its date — the standard warehouse lookup
    against a slowly-changing dimension, and the KEYED generalization of
    join_asof_rates (versions per nation, not one global series).

    The versioned dimension is derived deterministically: per nation, a
    'policy rate' version effective from Jan 1 of roughly every other
    observed order year ((nationkey + year) % 2 == 0), so most orders must
    reach BACK across missing years to their nation's prior version, and
    orders before a nation's first version drop out (inner point-in-time
    semantics).

    Plan shape at 100 TB: the dimension is tiny (nations x years) so it
    broadcast-joins on the EQUI key (nationkey) with the validity range as
    a post-join filter — a BroadcastHashJoin, never a nested-loop; the
    fact side streams through with zero extra exchanges beyond the
    orders->customer key join.  The interval-izing window partitions by
    nationkey (parallel, unlike a global dimension sort).  For a LARGE
    dimension the same query switches to union + per-key window, one
    shuffle on the key."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    years = (
        orders.select(F.year(F.to_date("o_orderdate")).alias("yr")).distinct()
    )
    dim = (
        nation.select(F.col("n_nationkey").cast("long").alias("nationkey"))
        .crossJoin(F.broadcast(years))
        .where((F.col("nationkey") + F.col("yr")) % 2 == 0)
        .select(
            "nationkey",
            F.round(
                0.01 * ((F.col("nationkey") * 7 + F.col("yr")) % 10), 6
            ).alias("policy_rate"),
            F.make_date(F.col("yr"), F.lit(1), F.lit(1)).alias("valid_from"),
        )
    )
    w = Window.partitionBy("nationkey").orderBy("valid_from")
    intervals = dim.withColumn("valid_until", F.lead("valid_from").over(w))
    facts = orders.join(
        customer.select(
            F.col("c_custkey").alias("o_custkey"),
            F.col("c_nationkey").cast("long").alias("nationkey"),
        ),
        "o_custkey",
    )
    odate = F.to_date("o_orderdate")
    return (
        facts.join(
            F.broadcast(intervals),
            ["nationkey"],
        )
        .where(
            (odate >= F.col("valid_from"))
            & (F.col("valid_until").isNull() | (odate < F.col("valid_until")))
        )
        .select(
            "o_orderkey",
            "nationkey",
            F.col("valid_from").alias("version_date"),
            "policy_rate",
            (F.col("o_totalprice") * (1 - F.col("policy_rate"))).alias(
                "net_price"
            ),
        )
    )


def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with TOLERANCE (pandas ``merge_asof(tolerance=...)``
    semantics) between two LARGE event streams: each purchase matches the
    same user's most recent PRIOR click, but only if that click is within
    7200 seconds — older matches become NULL, exactly how a
    stale quote must not price a trade.

    This is the documented large-right-side composition from this
    module's header put to work: no broadcast, no range join — the two
    streams UNION into one frame, ONE shuffle on user_id, and a single
    sorted window pass carries the last-click struct forward
    (`last(..., ignoreNulls)` over UNBOUNDED PRECEDING → 1 PRECEDING).
    Every row is touched once; at 100 TB this is a one-pass keyed scan,
    the same shape as sessionization.

    Tolerance arithmetic in integer MICROSECONDS (exact), staleness
    reported in 6-dp seconds.  Output: (purchase_id, user_id,
    matched_click_id, staleness_s) — NULLs where no in-tolerance click
    exists, so the null rate itself is driver-hashed."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_key = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")),
    )
    enriched = tagged.withColumn(
        "lc", F.last(click_key, ignorenulls=True).over(w)
    )
    # session tz is pinned UTC, so the ntz->timestamp cast is a no-op
    # relabel; unix_micros rejects timestamp_ntz directly
    lag_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("lc.c_ts").cast("timestamp")
    )
    within = F.col("lc").isNotNull() & (lag_us <= 7200 * 1_000_000)
    return (
        enriched.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.when(within, F.col("lc.c_id")).cast("long").alias(
                "matched_click_id"
            ),
            F.round(F.when(within, lag_us / 1_000_000.0), 6).alias(
                "staleness_s"
            ),
        )
    )


def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with direction='nearest' (the third merge_asof
    direction next to backward [join_asof_rates] and tolerance
    [join_asof_tolerance]): each purchase picks its nearest click in
    TIME — before or after — tie preferring backward, the attribution
    rule when "closest touchpoint" beats "last touchpoint".

    One interleaved window pass, no pair join: in (user, ts, event_id)
    order, the running MAX over preceding rows of click timestamps gives
    the backward candidate and the running MIN over following rows the
    forward candidate; the chooser is pure integer microsecond
    arithmetic.  Same one-shuffle shape as the tolerance variant — at
    100 TB this is a single keyed sort, never |purchases| x |clicks|.

    Output per user: (n_purchases, n_back, n_fwd, n_none,
    sum_gap_us of the chosen direction) — all BIGINT."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    ).where(F.col("event_type").isin("click", "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    marked = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.max(click_ts).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ).alias("back_ts"),
        F.min(click_ts).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        ).alias("fwd_ts"),
    )
    p = marked.where(F.col("event_type") == "purchase").select(
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("back_ts"))).alias(
            "gap_back"
        ),
        (F.unix_micros(F.col("fwd_ts")) - F.unix_micros(F.col("ts"))).alias(
            "gap_fwd"
        ),
    )
    pick_back = F.col("gap_back").isNotNull() & (
        F.col("gap_fwd").isNull() | (F.col("gap_back") <= F.col("gap_fwd"))
    )
    pick_fwd = F.col("gap_fwd").isNotNull() & (
        F.col("gap_back").isNull() | (F.col("gap_fwd") < F.col("gap_back"))
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(F.when(pick_back, 1).otherwise(0)).cast("long").alias("n_back"),
        F.sum(F.when(pick_fwd, 1).otherwise(0)).cast("long").alias("n_fwd"),
        F.sum(
            F.when(F.col("gap_back").isNull() & F.col("gap_fwd").isNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_none"),
        F.sum(
            F.when(pick_back, F.col("gap_back"))
            .when(pick_fwd, F.col("gap_fwd"))
            .otherwise(0)
        ).cast("long").alias("sum_gap_us"),
    )


def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with direction='forward' — the fourth merge_asof
    direction, completing the matrix next to backward (join_asof_rates),
    tolerance (join_asof_tolerance), and nearest (join_asof_nearest):
    each purchase matches the FIRST click STRICTLY AFTER it (within a
    forward tolerance), the "next action" rule behind post-purchase
    attribution and action-latency SLAs — merge_asof(direction='forward',
    allow_exact_matches=False) semantics.

    Same one-shuffle interleaved-window shape as the nearest variant,
    with one refinement (ROWS BETWEEN 1 FOLLOWING alone would let
    an equal-timestamp click that happened to sort later match at gap
    0): the window orders by (ts, is_purchase, event_id) so every
    equal-timestamp click sorts BEFORE the purchase and falls outside
    its FOLLOWING frame — the running MIN of following click timestamps
    is therefore strictly later by construction.  The tolerance test and
    gap are pure integer microsecond arithmetic.  At 100 TB this is a
    single keyed sort — never |purchases| x |clicks|.

    Output per user: (n_purchases, n_matched, sum_gap_us, max_gap_us) —
    all BIGINT; gaps count matched purchases only."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    ).where(F.col("event_type").isin("click", "purchase"))
    w = Window.partitionBy("user_id").orderBy(
        "ts", (F.col("event_type") == "purchase").cast("int"), "event_id"
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    marked = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.min(click_ts).over(
            w.rowsBetween(1, Window.unboundedFollowing)
        ).alias("fwd_ts"),
    )
    gap = F.unix_micros(F.col("fwd_ts")) - F.unix_micros(F.col("ts"))
    p = marked.where(F.col("event_type") == "purchase").select(
        "user_id", gap.alias("gap_us")
    )
    # the microsecond tolerance must be computed in LONG: 3600 * 1e6
    # overflows int32 under ANSI mode
    hit = F.col("gap_us").isNotNull() & (
        F.col("gap_us") <= F.lit(3600 * 1_000_000).cast("long")
    )
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum(hit.cast("long")).cast("long").alias("n_matched"),
        F.sum(F.when(hit, F.col("gap_us")).otherwise(0)).cast("long").alias(
            "sum_gap_us"
        ),
        F.max(F.when(hit, F.col("gap_us")).otherwise(0)).cast("long").alias(
            "max_gap_us"
        ),
    )
