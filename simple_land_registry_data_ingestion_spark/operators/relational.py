"""Generic relational operators over the testdata star schema.

The reference implements exactly one relational operator — an ungrouped MAX
with a hand-rolled partial/final split across 50k-row chunks (reference
main.py:228-230).  Everything else in this module is the standard operator
surface the reference lacks (SURVEY.md section 2, ABSENT rows), expressed as
declarative DataFrame plans so Catalyst provides pushdown, pruning, join
selection, partial aggregation, and AQE for free.

Scale notes are inline per operator: which side broadcasts, where the
shuffles are, and why the plan survives a 100x scale-up.

Column-name discipline: every computed column is aliased, and integer-ish
derived columns are cast to long, so results hash-compare cleanly against the
DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import fan_out, load


# ---------------------------------------------------------------------------
# Ingest-parity aggregations (reference A1)
# ---------------------------------------------------------------------------

def ingest_max_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's only aggregation: running max of a timestamp column,
    truncated to date (``auto_date``, reference main.py:228-230,262-268).

    Spark's partial+final aggregation IS the chunk-loop pattern the reference
    hand-rolls: each task computes a partial max over its partition, one
    exchange of 1 row per task feeds the final max.  At 100 TB this stays a
    single near-free reduction; only ``l_shipdate`` is read from parquet
    (column pruning) — verified in tests/test_plans.py.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.agg(F.to_date(F.max("l_shipdate")).alias("auto_date"))


def ingest_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-summary row, the shape persisted to pp_complete_metadata
    (reference main.py:274-295): row count + data-freshness bounds."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.to_date(F.max("l_shipdate")).alias("auto_date"),
        F.to_date(F.min("l_shipdate")).alias("min_date"),
    )


# ---------------------------------------------------------------------------
# Projections / filters (SURVEY 2.2)
# ---------------------------------------------------------------------------

def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection.  Both reach the parquet scan: .explain shows
    PushedFilters for the status/price predicates and a 3-column ReadSchema —
    at 100 TB this is the difference between scanning 2 columns' pages and
    the whole table."""
    orders = load(spark, sf_dir, "orders")
    return orders.where(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000.0)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions: price-band bucketing with CASE WHEN."""
    orders = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.select(band.alias("price_band"))
        .groupBy("price_band")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY 2.4)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter + groupBy + sum/avg/count.

    Low-cardinality grouping keys (RF x LS = 6 groups): map-side partial
    aggregation reduces each task's output to <=6 rows before the shuffle,
    so the exchange is O(tasks), not O(rows) — the plan that scales.
    Aggregates rounded to 2dp so double summation order cannot flip the hash.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate filter + single global sum.
    All three predicates push to the scan; the agg is one row per task."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT ...) per group — Catalyst expands to a two-phase
    aggregate (expand + partial distinct) rather than a naive global dedup."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group.

    ``percentile`` is exact — it buffers each group's values, so group
    cardinality must be executor-memory-bounded; for 100 TB ungrouped or
    hot-key profiles switch to ``percentile_approx`` (t-digest, mergeable,
    bounded memory) and accept the approximation.

    One ARRAY-argument percentile instead of three scalar calls: a single
    aggregate buffers/sorts each group's values once and reads all three
    quantiles off it — measured ~3x over three independent buffers."""
    lineitem = load(spark, sf_dir, "lineitem")
    pct = lineitem.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").alias("p")
    )
    return pct.select(
        "l_returnflag",
        F.round(F.col("p")[0], 4).alias("p50_price"),
        F.round(F.col("p")[1], 4).alias("p90_price"),
        F.round(F.col("p")[2], 4).alias("p99_price"),
    )


def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the engine's SQL surface (same Catalyst frontend
    and physical plan as the DataFrame API — ``spark.sql`` is not a second
    engine).  Also the one grouping shape the DataFrame API has no native
    method for (rollup/cube cover the common cases)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


#: Pivot values declared up front: a dynamic pivot needs an extra job just
#: to discover the distinct values — never pay that at 100 TB.
_ORDER_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with declared pivot values: one wide row per order
    status, one count column per priority.  Counts are coalesced to 0 so an
    absent (status, priority) combination is a count, not a NULL."""
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _ORDER_PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(f"n_prio_{p[0]}")
            for p in _ORDER_PRIORITIES
        ],
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count.

    The sketch is mergeable, so it aggregates partially map-side with
    bounded memory — at 100 TB it is the only sane distinct-count for
    high-cardinality keys (exact COUNT(DISTINCT) expands + reshuffles).
    The estimate itself is engine-specific, so the oracle-checked output is
    the exact count plus a bounded-error assertion on the sketch (rsd=0.02
    configured, asserted within 5% = 2.5 sigma; HLL++ is deterministic, so
    the assertion is stable per dataset), not the raw estimate.

    Plan shape: mixing a DISTINCT aggregate with a non-distinct one in a
    single Aggregate makes Catalyst insert Expand (every row duplicated per
    aggregate group) before the shuffle — 2x the shuffled bytes.  HLL is
    duplicate-insensitive, so both aggregates are computed over the deduped
    (group, key) pairs instead: the first aggregation dedups map-side
    (partial agg), and the Expand never appears.  Measured 9s -> ~1s at
    sf0.1 for identical results.
    """
    lineitem = load(spark, sf_dir, "lineitem")
    pairs = lineitem.select("l_linestatus", "l_orderkey").distinct()
    agg = pairs.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n_approx"),
    )
    return agg.select(
        "l_linestatus",
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= F.col("n_exact") * F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set aggregation: distinct nation keys per market segment as a
    sorted CSV string (collect_set -> array_sort -> concat_ws; the sort
    makes the unordered collect deterministic and hash-comparable)."""
    customer = load(spark, sf_dir, "customer")
    nk = F.col("c_nationkey").cast("long")
    return customer.groupBy("c_mktsegment").agg(
        F.concat_ws(
            ",", F.transform(F.array_sort(F.collect_set(nk)), lambda x: x.cast("string"))
        ).alias("nations_csv"),
        F.countDistinct(nk).alias("n_nations"),
    )


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide->long): the four lineitem measures become
    (measure, value) rows keyed by (orderkey, linenumber).  Spark plans this
    as Expand — a zero-shuffle row multiplier, safe at any scale."""
    lineitem = load(spark, sf_dir, "lineitem")
    wide = lineitem.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
        F.col("l_tax").cast("double").alias("tax"),
    )
    return wide.unpivot(
        ids=["l_orderkey", "linenumber"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="measure",
        valueColumnName="value",
    ).withColumn("value", F.round("value", 2))


def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1/16 sample by key hash (first md5 hex nibble == '0')
    plus the scaled estimate.  Unlike TABLESAMPLE/rand(), a key-hash sample
    is reproducible across runs, engines, and repartitioning — the property
    a 100 TB pipeline needs for consistent sampling joins (sample the same
    keys in every table) and for resumable jobs."""
    orders = load(spark, sf_dir, "orders")
    sampled = orders.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
    )
    return sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_sampled"),
        (F.count(F.lit(1)) * 16).alias("est_total_orders"),
    )


def sample_stratified_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sample: exactly 50 rows per
    market segment, chosen by KEY-HASH order — every stratum is represented
    equally regardless of its population (the eval-set/holdout construction
    a training pipeline needs; uniform sampling starves rare strata).

    md5(key) as the ordering key makes the draw pseudorandom yet
    reproducible across runs, engines, and repartitioning; the tie-break on
    the key itself makes it a total order.  One shuffle on the stratum key;
    the per-group heap is bounded by the window's rank filter."""
    customer = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    return (
        customer.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= 50)
        .select("c_custkey", "c_mktsegment", "sample_rank")
    )


def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projection (hash aggregate, map-side partials)."""
    customer = load(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").distinct()


def sample_source_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the per-domain cap every crawl-derived
    training pipeline applies so one prolific domain cannot dominate the
    mix (the C4/RefinedWeb 'top sites' guard).

    Within each source, documents are ranked by md5(doc_id) (pseudorandom
    but reproducible across runs/engines/partitionings, tie-break on the
    id) and only the first 10 survive.  One shuffle on source; the
    per-group state is the window's bounded rank counter, so a source with
    10^9 docs costs the same per-row work as one with 10.  A skewed mega-
    source is the one hot key — at 100 TB pre-aggregate with the salted
    two-phase top-K (operators/skew.py) if one domain is >~1 partition."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= 10)
        .select("doc_id", "source", "sample_rank")
    )


def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: (status, priority), (status), ()."""
    orders = load(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two low-cardinality flags."""
    lineitem = load(spark, sf_dir, "lineitem")
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY 2.3)
# ---------------------------------------------------------------------------

def join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact->dim + re-aggregation.

    ``customer`` carries NO broadcast hint: it is customer-count-sized (a
    TPC-H semi-fact that scales with the corpus — the Q5/Q10 lesson), so
    the hint would force a multi-GB broadcast at 100x scale.  Under the
    threshold AQE still picks BroadcastHashJoin at test SF; above it the
    join degrades gracefully to sort-merge.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join: region -> nation -> customer -> orders ->
    lineitem, revenue per nation.

    Join order matters at scale: dims (region, nation) broadcast onto
    customer; the enriched customer dim is customer-count-sized (semi-fact,
    the Q5/Q10 lesson) so it carries no hint — AQE broadcasts it under the
    threshold, sort-merges above — and only the orders<->lineitem equi-join
    always shuffles, one exchange on the fact tables' shared key.
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    cust_dim = (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(cust_dim, orders.o_custkey == cust_dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with no orders (null-extended),
    counting only matched rows (COUNT on a right-side column)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having at least one finished order.  Semi joins
    never duplicate the left side — cheaper than inner+distinct."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    finished = orders.where(F.col("o_orderstatus") == "F")
    return customer.join(
        finished, customer.c_custkey == finished.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all (NOT EXISTS)."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/theta) join: match each order to the price band table
    built from a VALUES-style literal dim.  Broadcast-nested-loop on a 3-row
    side — the only sane physical strategy for theta joins, and fine because
    the non-equi side is tiny by construction."""
    orders = load(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 50000.0), ("medium", 50000.0, 200000.0), ("large", 200000.0, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# Windows (SURVEY 2.5)
# ---------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer by row_number().  One shuffle on the
    partition key; deterministic because the ordering key set
    (o_totalprice desc, o_orderkey) is a total order."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w).cast("long"))
        .where(F.col("rank_in_cust") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_cust")
    )


def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per user over event time — the streaming-
    style 'state per key' pattern in batch form.  Frame is rows-unbounded-
    preceding; ordering includes event_id so ties are deterministic."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation per user ordered by event time."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(F.lag("value", 1).over(w), 2).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 2).alias("next_value"),
    )


def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per user, count+sum of events in the trailing
    hour (event-time sliding aggregate in batch form).  RANGE frames need a
    numeric ordering key; ts becomes epoch MICROSECONDS (unix_micros, exact
    for timestamps stored at micro precision — whole-second keys would make
    frame membership diverge from the oracle if the generator ever emits
    sub-second timestamps).  Ties (same microsecond) are frame-peers,
    included together, which keeps the result order-insensitive and
    engine-portable.  Session tz is pinned UTC (session.py), so the
    ntz->tz cast is identity on the underlying micros."""
    events = load(spark, sf_dir, "events")
    with_sec = events.withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return with_sec.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_trailing_1h"),
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: assign each event a per-user session id — a new
    session starts when the gap to the previous event reaches
    30 minutes.  The batch twin of the streaming session window
    (streaming/ops.stream_session_window): same lag -> new-session flag ->
    running-sum pattern, one shuffle on user_id, both window frames reuse
    the same sorted run.  session_id is (user_id, seq) — deterministic and
    stable under reprocessing, which is what downstream joins key on."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    new_session = F.when(
        prev_us.isNull() | (ts_us - prev_us >= gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(new_session).over(run).cast("long").alias("session_seq"),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral Markov chain: P(next event type | current),
    estimated from every consecutive same-user event pair.

    The transition matrix is the workhorse of behavioral modeling (churn
    prediction features, anomaly scoring of improbable sequences, funnel
    generalization).  Plan: one lag window per user over (ts, event_id) —
    the identical sorted run sessionize_events uses, one shuffle — then a
    groupBy over the (from, to) pairs (25 rows out for 5 event types) and
    a broadcast row-total join for normalization.  The heavy operator is
    the window; everything after is constant-size regardless of corpus.
    Probabilities are rounded to 6 dp (count ratios — engine-exact)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        "user_id",
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions") / F.col("n_from"), 6).alias(
                "probability"
            ),
        )
    )


def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: first 'view', first 'click' AFTER that
    view, first 'purchase' AFTER that click — the conversion-attribution
    query of an event pipeline, with strict stage ordering (a click before
    the first view does not count).

    Shape at scale: three conditional min-aggregations, each one shuffle on
    user_id, chained by broadcast-friendly equi-joins (the per-user
    aggregates are tiny next to the event stream).  Left joins keep every
    user who entered the funnel; deepest_stage makes drop-off directly
    aggregable."""
    events = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    views = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    funnel = (
        views.join(clicks, "user_id", "left").join(purchases, "user_id", "left")
    )
    deepest = (
        F.when(F.col("first_purchase").isNotNull(), "purchase")
        .when(F.col("first_click").isNotNull(), "click")
        .otherwise("view")
    )
    return funnel.select(
        "user_id",
        "first_view",
        "first_click",
        "first_purchase",
        deepest.alias("deepest_stage"),
    )


def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each doc draws a deterministic uniform u from md5(doc_id) and ranks by
    ln(u)/weight — the top-50 by that key is an exact weighted sample, here
    weighted by token count (the quality-weighted subsampling step of a
    training-data pipeline: longer/heavier docs proportionally likelier,
    yet the draw is reproducible across runs, engines, partitionings).

    Distributed shape: one scan projection + TakeOrderedAndProject (per-
    task heaps) — no shuffle, no RNG state; the sample is a pure function
    of the corpus."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    u_int = sum(
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1)
        .cast("long")  # int32 would overflow at nibble * 16^7 under ANSI
        * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    # (u_int + 1) / 2^32 in (0, 1]: never 0, so ln(u) is finite
    u = (u_int.cast("double") + 1.0) / F.lit(4294967296.0)
    weight = F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("double")
    key = F.round(F.log(u) / weight, 6)
    return (
        docs.select(
            "doc_id",
            weight.cast("long").alias("weight_tokens"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(50)
    )


def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of lineitem extended prices: bin index, row
    count, bin min/max — the numeric-distribution profiling pass.  One
    scan + one hash aggregate on the bin key; partial aggregation does the
    heavy lifting map-side, so the exchange carries only n_bins rows per
    task."""
    lineitem = load(spark, sf_dir, "lineitem")
    bin_idx = F.floor(F.col("l_extendedprice") / 5000.0).cast("long")
    return (
        lineitem.groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .orderBy("bin")
    )


def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram of order prices: ~equal rows per
    bin, data-adaptive boundaries — the distribution profile that stays
    informative under skew where fixed-width bins collapse into one bar.

    SCALE-CORRECT shape: the obvious ntile() implementation is a GLOBAL
    window = one single-task sort of the whole table — the antipattern
    this repo bans.  Instead: one aggregate computes the n-1 exact
    percentile boundaries (rounded to cents so both engines agree
    bit-for-bit), broadcast back as a tiny array, and each row finds its
    bin with a map-side array filter — scan + 1-row broadcast + hash
    aggregate, no global sort, no shuffle of the fact table.  Bins are
    ~equi-depth up to boundary ties (exact equality on the cent-rounded
    boundary keeps a tie deterministic rather than splitting it)."""
    n_bins = 10
    orders = load(spark, sf_dir, "orders")
    fracs = [i / n_bins for i in range(1, n_bins)]
    bounds = orders.agg(
        F.transform(
            F.percentile("o_totalprice", F.lit(fracs).cast("array<double>")),
            lambda b: F.round(b, 2),
        ).alias("bs")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        "o_totalprice",
        (
            1
            + F.size(
                F.filter(
                    F.col("bs"), lambda b: F.col("o_totalprice") > b
                )
            )
        ).cast("long").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — per column, null count and exact distinct count —
    the data-quality pass an ingest pipeline runs before publishing (the
    reference eyeballs this by hand; at 100 TB it must be a query).

    ONE scan computes all 12 aggregates, then ``stack`` pivots them into
    (column_name, n_nulls, n_distinct) rows — vs the naive per-column scan
    loop.  Multiple exact COUNT(DISTINCT) in one aggregate makes Catalyst
    plan an Expand (one duplicate of each row per distinct column): exact
    profiling of k columns costs a k-fold row expansion, which is the
    documented price of exactness — the at-scale variant swaps
    approx_count_distinct (HLL, no Expand) and keeps this plan only for
    audits."""
    orders = load(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_totalprice",
    ]
    aggs = []
    for c in cols:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("long").alias(f"nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"nd_{c}"))
    wide = orders.agg(*aggs)
    stack_args = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column_name, n_nulls, n_distinct)"
    )


def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one deterministic total order:
    rank / dense_rank / percent_rank / ntile(4) / cume_dist per order
    status.  One shuffle on the partition key; every function reads the
    same sorted run."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("dense_rnk"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — classify every key as added / deleted / changed /
    unchanged between two table versions.  This is the change-detection
    step behind the reference's record_op A(dd)/C(hange)/D(elete) markers
    (reference lib_db.py:39): the reference STORES the markers; this
    operator is how an incremental pipeline DERIVES them, turning full
    refreshes (reference E6) into delta publishes.

    The two versions are carved deterministically out of the orders table
    by key hash (so the query is self-contained and oracle-checkable):
    'old' drops one hash slice, 'new' drops another and re-prices a third.
    Plan: one scan feeds both sides (Spark reuses the exchange), FULL OUTER
    join on the key, null-pattern CASE classification — the at-scale shape
    is a key-partitioned sort-merge join, linear in both snapshots."""
    orders = load(spark, sf_dir, "orders")
    nib = lambda salt: F.substring(  # noqa: E731 - local shorthand
        F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string"))), 1, 1
    )
    old = orders.where(nib("old:") != "0").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("old_price")
    )
    new = orders.where(nib("new:") != "0").select(
        F.col("o_orderkey").alias("key"),
        F.round(
            F.when(nib("mod:").isin("0", "1"), F.col("o_totalprice") * 1.1)
            .otherwise(F.col("o_totalprice")),
            2,
        ).alias("new_price"),
    )
    joined = old.join(new, "key", "full_outer")
    change_type = (
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "deleted")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        F.col("key").alias("o_orderkey"),
        change_type.alias("change_type"),
        "old_price",
        "new_price",
    )


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    key: str,
) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg upsert) as plain DataFrame
    ops: the change batch carries an op per key — I(nsert)/U(pdate) rows
    win over the target's version, D(elete) rows drop the key, absent keys
    pass through.

    One FULL OUTER join on the key is the whole dataflow — at scale a
    key-partitioned sort-merge join, linear in target + batch; a table
    format would add transactionality/file rewrite on top, the merge
    RESOLUTION is exactly this.  Value resolution is by coalesce: every
    non-key, non-op column present in both sides takes the change side
    when the key is in the batch."""
    value_cols = [c for c in target.columns if c != key]
    chg = changes
    for c in value_cols:
        if c not in changes.columns:
            chg = chg.withColumn(c, F.lit(None))
    chg = chg.select(key, "op", *[F.col(c).alias(f"__chg_{c}") for c in value_cols])
    joined = target.join(chg, key, "full_outer")
    merged = joined.where(F.col("op").isNull() | (F.col("op") != "D"))
    out_vals = [
        F.when(F.col("op").isNotNull(), F.col(f"__chg_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in value_cols
    ]
    return merged.select(key, *out_vals)


def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a derived change batch to a snapshot with MERGE semantics and
    publish the result — the incremental-load counterpart of the
    reference's full refresh (E6): instead of truncate-and-reload, ship
    I/U/D deltas and merge.

    Self-verifying construction: the change batch is the diff between the
    deterministic 'old' and 'new' snapshots (same md5 carving as
    cdc_snapshot_diff), so a CORRECT merge of old + batch must reproduce
    the 'new' snapshot bit-for-bit — which is exactly what the oracle
    asserts.  Any dropped delete, doubled insert, or missed update breaks
    the equality."""
    orders = load(spark, sf_dir, "orders")
    nib = lambda salt: F.substring(  # noqa: E731 - local shorthand
        F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string"))), 1, 1
    )
    old = orders.where(nib("old:") != "0").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("price")
    )
    new = orders.where(nib("new:") != "0").select(
        F.col("o_orderkey").alias("key"),
        F.round(
            F.when(nib("mod:").isin("0", "1"), F.col("o_totalprice") * 1.1)
            .otherwise(F.col("o_totalprice")),
            2,
        ).alias("price"),
    )
    diff = old.select("key", F.col("price").alias("old_price")).join(
        new.select("key", F.col("price").alias("new_price")), "key", "full_outer"
    )
    batch = diff.where(
        F.col("old_price").isNull()
        | F.col("new_price").isNull()
        | (F.col("old_price") != F.col("new_price"))
    ).select(
        "key",
        F.when(F.col("old_price").isNull(), "I")
        .when(F.col("new_price").isNull(), "D")
        .otherwise("U")
        .alias("op"),
        F.col("new_price").alias("price"),
    )
    merged = merge_upsert(old, batch, "key")
    return merged.select(
        F.col("key").alias("o_orderkey"), F.col("price").alias("price")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY 2.6)
# ---------------------------------------------------------------------------

def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10: Spark plans TakeOrderedAndProject — each task keeps a
    10-row heap, the driver merges heaps; no global sort ever materializes.
    Tie-broken by o_orderkey for determinism."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY 2.7)
# ---------------------------------------------------------------------------

def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of nation keys appearing in customer vs supplier."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").cast("long").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").cast("long").alias("nationkey")))
        .distinct()
    )


def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT composed: nations with customers but no
    suppliers, tagged, unioned with nations having both."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    cust_nations = customer.select(F.col("c_nationkey").cast("long").alias("nationkey"))
    supp_nations = supplier.select(F.col("s_nationkey").cast("long").alias("nationkey"))
    only_cust = cust_nations.subtract(supp_nations).withColumn(
        "tag", F.lit("customer_only")
    )
    both = cust_nations.intersect(supp_nations).withColumn("tag", F.lit("both"))
    return only_cust.unionByName(both)


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated per-nation rollups (customers
    vs suppliers), null-extended on both sides and coalesced to 0 counts.

    Full outer cannot broadcast (both sides must null-extend), so the plan
    is a shuffle join on the key — but each side is aggregated FIRST, so
    what shuffles for the join is one row per nation, not the base tables.
    Pre-aggregating before an outer join is the standard way to keep the
    unavoidable shuffle small at 100 TB.
    """
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    cust = customer.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("n_customers"))
    supp = supplier.groupBy(
        F.col("s_nationkey").cast("long").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("n_suppliers"))
    return (
        cust.withColumnRenamed("nationkey", "c_nk")
        .join(supp.withColumnRenamed("nationkey", "s_nk"),
              F.col("c_nk") == F.col("s_nk"), "full")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL frontend.  Catalyst
    decorrelates both into semi/anti joins — the subquery never executes
    per-row (RewritePredicateSubquery), so the plan is two joins, not
    O(rows) subqueries.  Verified in tests/test_plans.py."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_with_urgent
        FROM customer_v c
        WHERE EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders_v o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
        GROUP BY c.c_mktsegment
        """
    )


def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN subqueries: orders above 2x the global average price from
    BUILDING-segment customers.  The scalar subquery runs ONCE and broadcasts
    as a literal; the IN becomes a semi join (never a per-row probe)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders_v
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders_v)
          AND o_custkey IN (SELECT c_custkey FROM customer_v
                            WHERE c_mktsegment = 'BUILDING')
        """
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (this testdata has no o_shippriority, so the order
    priority string stands in): 3-way join with filters on every input,
    revenue aggregation, top-10 by revenue.

    Scale shape: the customer filter broadcasts into the orders join; orders
    joins lineitem on the key both sides shuffle on (or broadcast, AQE's
    call at small SF); the final top-10 is TakeOrderedAndProject — per-task
    heaps, no global sort.  All three date/segment filters reach the scans.
    The orderkey tiebreak makes the LIMIT deterministic for the oracle.
    """
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp_ntz")
    revenue = F.sum(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    )
    return (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("rev_raw"))
        .orderBy(F.col("rev_raw").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
            F.round("rev_raw", 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data mixing and robust statistics
# ---------------------------------------------------------------------------

def sample_token_budget_mix(
    spark: SparkSession, sf_dir: str, tokens_per_lang: int = 2000
) -> DataFrame:
    """Data-mixing sampler: fill a fixed TOKEN budget per language.

    Pretraining mixes are specified in tokens, not documents ("2B tokens of
    French"), so the sampler must order each language's documents
    pseudorandomly and take documents until the running token total reaches
    the budget.  The draw order is md5(doc_id) — reproducible across runs,
    engines, and partitioning — and a document is taken while the tokens
    BEFORE it are under budget, so the crossing document is included and
    every language lands within one document of its budget.

    Scale: ONE window partitioned by language (each language's running sum
    is an independent partition — parallel across the cluster, no global
    single-task window); everything else is a scan.  At 100 TB the window
    shuffle is the only wide op, keyed by the low-cardinality language
    column; per-language skew is bounded because only the prefix that can
    reach the budget matters (a rank pre-filter on doc count could cap the
    tail, omitted here for exactness).
    """
    from simple_land_registry_data_ingestion_spark.functions.text import token_count_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count_col("text").alias("n_tokens")
    )
    return token_budget_mix(docs, tokens_per_lang)


def token_budget_mix(docs: DataFrame, tokens_per_lang: int) -> DataFrame:
    """df-level core of sample_token_budget_mix: ``docs`` must carry
    (doc_id, lang, n_tokens); see the wrapper for semantics and scale."""
    w = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn(
            "tokens_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
        )
        .where(F.col("tokens_before") < tokens_per_lang)
        .select("doc_id", "lang", "n_tokens", "tokens_before")
    )


def _group_median(df: DataFrame, group: str, valcol: str, out: str) -> DataFrame:
    """Exact per-group median (linear-interpolated, = quantile_cont 0.5)
    via windowed ranks: the middle one/two ranked values are averaged.

    Why not the ``percentile`` aggregate: Spark's exact percentile buffers
    EVERY group value in the aggregation state — O(group size) executor
    memory, an OOM at 100 TB group sizes.  A window sort spills to disk
    instead, so this shape survives arbitrarily large groups; parallelism
    is bounded by group count either way (inherent to exact per-group
    order statistics — use approx_percentile when that bound bites)."""
    w = Window.partitionBy(group).orderBy(valcol)
    ranked = df.select(group, valcol).withColumn(
        "_rn", F.row_number().over(w)
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(group)))
    mid = ranked.where(
        (F.col("_rn") == F.expr("(_n + 1) div 2"))
        | (F.col("_rn") == F.expr("(_n + 2) div 2"))
    )
    return mid.groupBy(group).agg(F.avg(valcol).alias(out))


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection: median / MAD (median absolute
    deviation), the estimator that survives the heavy-tailed value
    distributions mean/stddev z-scores break on.

    Two exact spill-safe medians (_group_median: windowed ranks, not the
    memory-unbounded ``percentile`` aggregate) with broadcast joins of the
    tiny per-group statistics between passes; the outlier rule is
    |value - median| > 3 * 1.4826 * MAD (1.4826 scales MAD to sigma under
    normality).  The event scan itself never shuffles: both wide ops are
    keyed by the low-cardinality group column only.
    """
    events = load(spark, sf_dir, "events").select("event_type", "value")
    med = _group_median(events, "event_type", "value", "med")
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = _group_median(dev, "event_type", "abs_dev", "mad")
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.first("med"), 4).alias("median_value"),
            F.round(F.first("mad"), 4).alias("mad_value"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3 * 1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week, and
    for each later week the count still active — the engagement matrix
    every product-analytics stack derives from an event stream.

    Plan: one per-user MIN aggregation (map-side partial), a user-keyed
    join back onto the stream (the one unavoidable wide op — both sides
    are user-keyed, so at 100 TB this is a co-partitioned shuffle join,
    never broadcast), then a low-cardinality (cohort, offset) aggregation
    with countDistinct.  Week arithmetic stays integer (day difference of
    Monday-truncated dates / 7), so offsets are exact cross-engine.
    """
    events = load(spark, sf_dir, "events").select("user_id", "ts")
    first = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    act = events.join(first, "user_id").select(
        "user_id",
        F.to_date(F.date_trunc("week", "first_ts")).alias("cohort_week"),
        F.to_date(F.date_trunc("week", "ts")).alias("active_week"),
    )
    return (
        act.withColumn(
            "week_offset",
            (F.datediff("active_week", "cohort_week") / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active_users"))
    )


def export_range_sorted(
    df: DataFrame, path: str, sort_col: str, partitions: int = 8
) -> None:
    """Globally range-sorted export: repartitionByRange (sampled range
    bounds, so output files hold disjoint, ordered key ranges) +
    sortWithinPartitions (each file internally sorted).

    This is the layout that makes downstream merge-reads, binary-search
    point lookups, and min/max-pruned range scans work at 100 TB — a true
    global ORDER BY .write would funnel everything through the sort, while
    range partitioning keeps the sort distributed: one sampling pass, one
    range shuffle, per-partition sorts.  Parquet min/max page stats on the
    sort column then prune range predicates at read time.
    """
    (
        df.repartitionByRange(partitions, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def profile_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations + covariance of lineitem measures in
    ONE aggregation pass (all pairs as independent aggregates over the same
    scan — no per-pair jobs, no driver loop).  The 2-dp rounding absorbs
    partial-aggregation float-order differences across engines."""
    li = load(spark, sf_dir, "lineitem")
    # + 0.0 normalizes IEEE -0.0 (tiny negative stats round to -0.0, whose
    # sign bit would split an engine-vs-oracle string/hash compare)
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 2) + 0.0).alias("corr_qty_price"),
        (F.round(F.corr("l_extendedprice", "l_discount"), 2) + 0.0).alias("corr_price_disc"),
        (F.round(F.corr("l_quantity", "l_tax"), 2) + 0.0).alias("corr_qty_tax"),
        (F.round(F.covar_samp("l_quantity", "l_discount"), 2) + 0.0).alias("covar_qty_disc"),
    )


def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: per-user hourly grid with forward-fill —
    the gap-filling step that turns an irregular event stream into the
    fixed-step series sequence models and feature stores consume.

    Three stages, all per-user parallel:
    1. hourly observation: last value in each (user, hour), chosen by
       max_by over (ts, event_id) — a total order, so deterministic;
    2. dense grid: sequence() from the user's first to last hour, exploded
       — generation is per-user bounded (span/step rows), never a global
       calendar cross join;
    3. forward fill: last non-null value over an ordered per-user window
       (ignorenulls) — one window, linear shuffle on user_id.

    Users below id 50 scope the demo corpus (grid rows = users x span);
    at scale the same plan runs per entity with the window as the only
    wide op."""
    events = load(spark, sf_dir, "events").where(F.col("user_id") < 50)
    hours = events.select(
        "user_id",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour_ts"),
        "ts",
        "event_id",
        "value",
    )
    # tie-break key: micros-within-the-hour (< 3.6e9) * 1e6 + event_id — a
    # total order that stays far inside int64 (a raw epoch_us * shift
    # overflows); assumes event_id < 1e6, guarded by
    # tests/test_properties.py::test_event_ids_fit_resample_tiebreak_encoding
    # (a struct key would be cleaner but the DuckDB oracle's arg_max only
    # accepts scalar ordering keys)
    obs = hours.groupBy("user_id", "hour_ts").agg(
        F.expr(
            "max_by(value, (unix_micros(CAST(ts AS TIMESTAMP))"
            " - unix_micros(CAST(hour_ts AS TIMESTAMP))) * 1000000 + event_id)"
        ).alias("obs_value")
    )
    span = hours.groupBy("user_id").agg(
        F.min("hour_ts").alias("t0"), F.max("hour_ts").alias("t1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(obs, ["user_id", "hour_ts"], "left")
        .withColumn(
            "value_ffill",
            F.round(F.last("obs_value", ignorenulls=True).over(w), 2),
        )
        .withColumn("is_gap", F.col("obs_value").isNull())
        .select(
            "user_id",
            F.col("hour_ts").cast("timestamp_ntz").alias("hour_ts"),
            "value_ffill",
            "is_gap",
        )
    )


def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 SQL surface): generate a 1995 month spine
    recursively and left-join monthly order counts onto it — the calendar-
    dimension construction that otherwise needs a driver-side range or an
    external table, now a pure SQL fixpoint.  The recursion is 12 rows;
    the join against it broadcasts, so the fact scan stays the only real
    work at any scale."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT CAST('1995-01-01' AS DATE)
            UNION ALL
            SELECT CAST(m + INTERVAL '1' MONTH AS DATE)
            FROM months WHERE m < CAST('1995-12-01' AS DATE)
        )
        SELECT m AS month_start,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders
        FROM months
        LEFT JOIN (
            SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mo,
                   COUNT(*) AS n
            FROM orders_v
            WHERE YEAR(o_orderdate) = 1995
            GROUP BY 1
        ) o ON o.mo = m
        """
    )


def sql_udf_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (CREATE FUNCTION ... RETURN expr,
    Spark 4): the declarative UDF path — the body is a Catalyst expression,
    so unlike Python UDFs it inlines into codegen with ZERO language-
    boundary cost; the function is catalog metadata, shareable across
    queries and engines that speak the same SQL."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p < 50000 THEN 'small'
                    WHEN p < 200000 THEN 'medium'
                    ELSE 'large' END
        """
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders_v GROUP BY 1
        """
    )


def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order),
    Frequency (order count), Monetary (total spend), each bucketed into
    quintiles — the canonical behavioral segmentation every activation /
    churn pipeline derives from a transactions table.

    One customer-keyed aggregation builds the metrics; three ntile windows
    (global, but over the aggregated PER-CUSTOMER table — orders of
    magnitude smaller than the fact table; range-partition the window at
    extreme customer counts) assign quintiles.  All three orderings carry a
    c_custkey tiebreak so ntile boundaries are a total order and the
    segment assignment is engine-exact.
    """
    orders = load(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.datediff(F.to_date("anchor"), F.to_date("last_order"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # ntile(5) from the TWO-PHASE global rank: Spark's NTile
    # gives the first n%5 tiles ceil(n/5) rows and the rest floor(n/5) —
    # reproduced in closed form from (rank, n), so each quintile costs a
    # keyed window + broadcast offsets instead of a single-task sort
    n_total = rfm.agg(F.count(F.lit(1)).cast("long").alias("__n"))

    def _ntile5(df: DataFrame, bucket, order, desc: bool, out: str) -> DataFrame:
        ranked = two_phase_global_rank(
            df, bucket, order, out="__rk", descending=desc
        )
        # `/` on longs is TRUE division in PySpark — every quotient here
        # must be `div` (the F.floor discipline)
        big = F.col("__n") % 5
        hi = F.expr("__n div 5") + 1
        lo = F.greatest(F.expr("__n div 5"), F.lit(1).cast("long"))
        cutoff = big * hi
        # floor division of column by column: (a - a % b) / b is exact on
        # nonnegative longs (the quotient is an exact double < 2^53)
        tile = F.when(
            F.col("__rk") <= cutoff, ((F.col("__rk") - 1) - ((F.col("__rk") - 1) % hi)) / hi + 1
        ).otherwise(
            big
            + ((F.col("__rk") - cutoff - 1) - ((F.col("__rk") - cutoff - 1) % lo)) / lo
            + 1
        )
        # per-quintile lineage truncation (the IPF/pagerank discipline):
        # each two-phase rank joins the frame with an aggregate OF the
        # frame, so chaining three without a checkpoint doubles the plan
        # per score (measured 293 operators; the tripwire is 120)
        return (
            ranked.withColumn(out, tile.cast("long"))
            .drop("__rk")
            .localCheckpoint(eager=False)
        )

    rfm = rfm.crossJoin(F.broadcast(n_total)).localCheckpoint(eager=False)
    rfm = _ntile5(
        rfm,
        F.floor(F.col("recency_days") / 16).cast("long"),
        [F.col("recency_days").asc(), F.col("c_custkey")],
        False,
        "r_score",
    )
    rfm = _ntile5(
        rfm,
        F.floor(F.col("frequency") / 4).cast("long"),
        [F.col("frequency").desc(), F.col("c_custkey")],
        True,
        "f_score",
    )
    rfm = _ntile5(
        rfm,
        F.floor(F.col("monetary") / 65536).cast("long"),
        [F.col("monetary").desc(), F.col("c_custkey")],
        True,
        "m_score",
    )
    return rfm.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
    )


def events_ema_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted engagement score — the standard
    feature-store recency decay (s_i = α·x_i + (1-α)·s_{i-1}, s_1 = x_1).

    The recursion is deliberately NOT computed as an iterative loop or a
    stateful UDF: unrolled, the EMA is a plain weighted sum
    ``s_n = Σ_{i>1} α·(1-α)^{n-i}·x_i + (1-α)^{n-1}·x_1``, so one
    row_number window (partitioned by user, ordered by ts — the same
    sorted run every sessionize/window query reuses) plus a count-per-user
    window turns it into a single groupBy-sum.  Two window functions over
    one sort, one aggregation, all JVM-side codegen.  At 100 TB this is
    exactly the cost of any per-user window — no Python, no per-user
    iteration, no driver state.  6-dp round keeps the double sum
    hash-stable cross-engine.
    """
    alpha = 0.3
    events = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    ranked = events.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_events"),
    )
    decay = F.lit(1.0 - alpha)
    weight = F.when(
        F.col("rn") == 1, F.pow(decay, F.col("n_events") - 1)
    ).otherwise(F.lit(alpha) * F.pow(decay, F.col("n_events") - F.col("rn")))
    return (
        ranked.select(
            "user_id",
            "n_events",
            (F.col("value") * weight).alias("weighted"),
        )
        .groupBy("user_id", "n_events")
        .agg(F.round(F.sum("weighted"), 6).alias("ema_value"))
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            "ema_value",
        )
    )


def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most recent
    PRECEDING non-purchase event of the same user ('direct' when none) —
    the baseline marketing-attribution model.

    Plan: one window per user ordered by (ts, event_id) carrying
    ``last(non-purchase type, ignoreNulls)`` over ROWS UNBOUNDED PRECEDING
    → 1 PRECEDING, so the carry is computed in the same single sorted pass
    as sessionization — no self-join of purchases against the full stream,
    which is the naive O(events · purchases-per-user) shape.  The final
    rollup is a constant-cardinality groupBy (one row per channel).
    Revenue rounded to 2 dp (money).
    """
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = events.withColumn(
        "channel",
        F.coalesce(
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            ).over(w),
            F.lit("direct"),
        ),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


def profile_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation suite (the dbt-tests / Great Expectations
    surface): uniqueness, referential integrity, null, and range checks,
    one summary row per expectation.

    Plan shape at scale: same-table checks share ONE scan via conditional
    aggregation (count + count_if in a single partial/final agg — never one
    scan per rule); referential checks are left-anti joins that shuffle
    only the child's key column (column pruning keeps the probe narrow).
    Output is a fixed handful of rows however big the tables are, so this
    runs as a cheap pre-flight gate in front of a 100 TB load, exactly
    where the reference hand-rolls its single row-count sanity check
    (reference main.py:318-330).
    """
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    events = load(spark, sf_dir, "events")
    documents = load(spark, sf_dir, "documents")
    customer = load(spark, sf_dir, "customer")

    def agg_check(df: DataFrame, name: str, table: str, fail_cond) -> DataFrame:
        return df.groupBy().agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(F.when(fail_cond, 1).otherwise(0)).alias("n_failed"),
        ).select(
            F.lit(name).alias("expectation"),
            F.lit(table).alias("table_name"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col("n_failed").cast("long").alias("n_failed"),
            (F.col("n_failed") == 0).alias("passed"),
        )

    pk_unique = orders.groupBy().agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_failed"),
    ).select(
        F.lit("orders_pk_unique").alias("expectation"),
        F.lit("orders").alias("table_name"),
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_failed").cast("long").alias("n_failed"),
        (F.col("n_failed") == 0).alias("passed"),
    )
    n_li = lineitem.groupBy().agg(F.count(F.lit(1)).alias("n_checked"))
    fk_li = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_failed"))
        .crossJoin(F.broadcast(n_li))
        .select(
            F.lit("lineitem_fk_orders").alias("expectation"),
            F.lit("lineitem").alias("table_name"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col("n_failed").cast("long").alias("n_failed"),
            (F.col("n_failed") == 0).alias("passed"),
        )
    )
    n_ord = orders.groupBy().agg(F.count(F.lit(1)).alias("n_checked"))
    fk_ord = (
        orders.select("o_custkey")
        .join(customer.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_failed"))
        .crossJoin(F.broadcast(n_ord))
        .select(
            F.lit("orders_fk_customer").alias("expectation"),
            F.lit("orders").alias("table_name"),
            F.col("n_checked").cast("long").alias("n_checked"),
            F.col("n_failed").cast("long").alias("n_failed"),
            (F.col("n_failed") == 0).alias("passed"),
        )
    )
    qty_range = agg_check(
        lineitem,
        "lineitem_quantity_1_to_50",
        "lineitem",
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50),
    )
    ts_not_null = agg_check(
        events, "events_ts_not_null", "events", F.col("ts").isNull()
    )
    value_positive = agg_check(
        events, "events_value_positive", "events", ~(F.col("value") > 0)
    )
    nchars_consistent = agg_check(
        documents,
        "documents_nchars_matches_text",
        "documents",
        F.col("n_chars") != F.length("text"),
    )
    out = pk_unique
    for frame in (fk_li, fk_ord, qty_range, ts_not_null, value_positive, nchars_consistent):
        out = out.unionByName(frame)
    return out


def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE same-type events per
    user (a burst of clicks, an error storm) — the run-length view that
    sessionization by time gap cannot express.

    The rn − rn_by_type difference trick turns run detection into pure
    windows: both row_numbers come from the SAME per-user sort order
    (ts, event_id), so the whole query is one shuffle on user_id, two
    window functions over one sorted run, and a groupBy on the derived
    island key.  No self-join, no lag-cascade, no iteration; at 100 TB the
    cost is exactly one per-user window regardless of island count.
    Island identity is exposed as (first_event_id) rather than the raw
    rn-difference, keeping the output stable under re-partitioning."""
    events = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    grouped = events.select(
        "user_id",
        "event_type",
        "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias(
            "island_key"
        ),
    )
    return (
        grouped.groupBy("user_id", "event_type", "island_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .select(
            "user_id",
            "event_type",
            "n_events",
            "first_event_id",
            "last_event_id",
        )
    )


def customers_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free target encoding: each (market segment, fold) gets the
    mean order value computed from the OTHER folds only — the K-fold
    out-of-fold scheme that keeps a row's own target out of its feature
    (the difference between a legitimate encoder and target leakage).

    The naive implementation joins each fold against the other K-1 folds
    (K² scans).  One pass suffices: aggregate sum/count per (segment,
    fold) — a single shuffle of pre-combined partials — then the
    out-of-fold mean is (segment_total − fold_sum)/(segment_count −
    fold_count) via a broadcast join of the tiny per-segment totals onto
    the tiny per-fold aggregate.  Corpus scans: exactly one, whatever K
    is.  Fold assignment hashes the immutable order key (pmod keeps it
    engine-portable); 6-dp round on the double mean."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    # no hint on the customer keyset (customer-count-sized semi-fact — the
    # Q5/Q10 lesson); AQE broadcasts it at test SF
    seg_orders = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        "c_mktsegment",
        F.pmod(F.col("o_orderkey"), F.lit(5)).alias("fold"),
        "o_totalprice",
    )
    per_fold = seg_orders.groupBy("c_mktsegment", "fold").agg(
        F.count(F.lit(1)).alias("fold_n"),
        F.sum("o_totalprice").alias("fold_sum"),
    )
    totals = per_fold.groupBy("c_mktsegment").agg(
        F.sum("fold_n").alias("seg_n"),
        F.sum("fold_sum").alias("seg_sum"),
    )
    return (
        per_fold.join(F.broadcast(totals), "c_mktsegment")
        .select(
            "c_mktsegment",
            F.col("fold").cast("long").alias("fold"),
            F.col("fold_n").alias("n_in_fold"),
            F.round(
                (F.col("seg_sum") - F.col("fold_sum"))
                / (F.col("seg_n") - F.col("fold_n")),
                6,
            ).alias("oof_mean_totalprice"),
        )
    )


def profile_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit profile of order amounts vs Benford's law —
    the standard forensic screen for fabricated or truncated numeric
    columns (a generator bug, a capped feed, invented figures all bend the
    leading-digit curve).

    The digit is taken from the CENTS integer's decimal string, never from
    log10: leading-digit-via-logarithm is the textbook formula but
    ``floor(log10(1000)) = 2`` is one libm ulp away from being wrong, and
    this query's contract is bit-identical results across engines.  One
    scan, one 9-row groupBy (map-side combined), Benford expectation
    computed per row on the tiny aggregate.  Counts are exact; the three
    derived ratios round at 6 dp."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    n_total = orders.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    benford_p = F.log10(1 + 1 / F.col("digit"))
    observed_p = F.col("n_obs") / F.col("n_total")
    return (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .crossJoin(F.broadcast(n_total))
        .select(
            "digit",
            "n_obs",
            F.round(observed_p, 6).alias("observed_p"),
            F.round(benford_p, 6).alias("benford_p"),
            F.round(F.abs(observed_p - benford_p), 6).alias("abs_deviation"),
        )
    )


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity feature (bots and scrapers sit near 0, engaged
    humans spread across types) and the standard exploration metric.

    Two map-side-combined aggregations on the same user_id key — per
    (user, type) counts, then the entropy fold over each user's handful of
    type rows — so the second groupBy reuses the first's partitioning and
    the corpus shuffles once.  -sum(p*log2(p)) over <= |event types| terms
    per user; 6-dp round keeps the tiny float sum engine-stable."""
    events = load(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n_t").alias("n_events"),
        F.sum(F.col("n_t") * F.log2("n_t")).alias("sum_nlogn"),
    )
    # H = log2(N) - (1/N) * sum(n_t * log2(n_t)): one pass, no per-user
    # second scan to compute probabilities
    entropy = F.log2("n_events") - F.col("sum_nlogn") / F.col("n_events")
    return per_user.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(entropy, 6).alias("entropy_bits"),
    )


def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and value band — the
    feature-selection screen (does the action type carry information about
    the amount?), decomposed per cell so the MI sum AND the strongest
    dependencies are both visible.

    Value bands are CASE literals, not quantiles: quantile boundaries
    computed independently by two engines can differ by one float ulp and
    flip a boundary row's band — fixed thresholds keep cell membership
    exact.  Plan: one scan to the (type, band) contingency table (25-ish
    rows), marginals and total derived from the table itself (three tiny
    aggregates of an already-tiny frame), broadcast joins to assemble
    p_joint * log2(p_joint / (p_type * p_band)) per cell."""
    events = load(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 5, "lt5")
        .when(F.col("value") < 50, "5to50")
        .when(F.col("value") < 200, "50to200")
        .otherwise("ge200")
    )
    cells = (
        events.select("event_type", band.alias("value_band"))
        .groupBy("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy().agg(F.sum("n").alias("n_total"))
    by_type = cells.groupBy("event_type").agg(F.sum("n").alias("n_type"))
    by_band = cells.groupBy("value_band").agg(F.sum("n").alias("n_band"))
    p_joint = F.col("n") / F.col("n_total")
    p_type = F.col("n_type") / F.col("n_total")
    p_band = F.col("n_band") / F.col("n_total")
    return (
        cells.join(F.broadcast(by_type), "event_type")
        .join(F.broadcast(by_band), "value_band")
        .crossJoin(F.broadcast(totals))
        .select(
            "event_type",
            "value_band",
            "n",
            F.round(p_joint, 6).alias("p_joint"),
            F.round(p_joint * F.log2(p_joint / (p_type * p_band)), 6).alias(
                "mi_contribution"
            ),
        )
    )


def agg_approx_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-certifying accuracy harness for approx_percentile: for each
    requested quantile q, the sketch's returned element must sit within
    the published rank guarantee (rank within (q ± 1/10000)·n), checked
    tie-aware against the EXACT data — count(< v) may not exceed the upper
    rank bound and count(<= v) must reach the lower one.

    The point mirrors similarity_recall_at_k: probabilistic/approximate
    operators belong in the correctness gate too, via the bound they
    promise rather than a value equality no sketch can honor.  The oracle
    asserts the exact percentiles AND `within_rank_bound = TRUE`, so a
    sketch regression flips a driver row red.

    Plan: the exact percentiles do not run through Spark's
    ``percentile`` aggregate, whose TypedImperativeAggregate
    merges EVERY distinct (value, count) pair in one final task (583k
    entries at sf0.1, measured 2.5 s alone; at 100 TB that single-task
    merge is corpus-sized).  They are a DISTRIBUTED SELECTION with
    the two-phase bucket discipline (two_phase_global_rank's certified
    mechanism): per-range-bucket counts (one codegen scan; buckets =
    floor(price/64), bounded by the PRICE DOMAIN, not row count) ->
    exclusive offsets via a window over the tiny bucket table -> only
    the <= 8 buckets containing a target order statistic get their rows
    ranked (partitioned window over ~e2-row buckets) -> the value at
    positions floor/ceil(q*(n-1)) interpolates EXACTLY as
    Percentile.getPercentile does ((higher-pos)*lo + (pos-lower)*hi in
    double, same lowerKey==higherKey and integral-position branches).
    Value-identical to the old aggregate at 3 SFs; interleaved A/B at
    sf0.1: 2.86/3.16 -> 1.31/1.44 s (min/med of 6).  The sketch pass is
    localCheckpoint'd (1 row) so its three consumers cannot re-run it.
    Corpus scans: sketch, bucket counts, bucket-row pick, rank check —
    all full-parallel; the only global window folds the bucket table."""
    accuracy = 10000
    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    qs = [0.25, 0.5, 0.75, 0.9]
    q_arr = ", ".join(str(q) for q in qs)
    agg = (
        li.groupBy()
        .agg(
            F.expr(
                f"approx_percentile(l_extendedprice, array({q_arr}), {accuracy})"
            ).alias("approx"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .localCheckpoint(eager=False)
    )
    per_q = agg.select(
        F.posexplode(F.col("approx")).alias("i", "approx_value"), "n_rows"
    ).select(
        F.element_at(F.array(*[F.lit(q) for q in qs]), F.col("i") + 1).alias(
            "quantile"
        ),
        "approx_value",
        "n_rows",
    )
    # Target sorted positions (0-indexed), replicating Percentile's
    # position = percentage * (count - 1) with floor/ceil interpolation.
    pos_tbl = per_q.select(
        "quantile",
        "n_rows",
        (F.col("quantile") * (F.col("n_rows") - 1).cast("double")).alias("pos"),
    ).select(
        "quantile",
        "n_rows",
        "pos",
        F.floor("pos").cast("long").alias("lo_pos"),
        F.ceil("pos").cast("long").alias("hi_pos"),
    )
    v = F.col("l_extendedprice")
    # percentile ignores NULLs; mirror that in the selection path (n_rows
    # keeps its count(*) contract unchanged)
    b = li.where(v.isNotNull()).select(
        v.alias("v"), F.floor(v / F.lit(64)).cast("long").alias("__b")
    )
    bcounts = b.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wo = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = bcounts.select(
        "__b",
        "cnt",
        (F.sum("cnt").over(wo) - F.col("cnt")).cast("long").alias("off"),
    )
    hit_buckets = (
        offsets.join(
            F.broadcast(pos_tbl.select("lo_pos", "hi_pos")),
            (F.col("off") <= F.col("hi_pos"))
            & (F.col("lo_pos") < F.col("off") + F.col("cnt")),
        )
        .select("__b", "off")
        .distinct()
    )
    wr = Window.partitionBy("__b").orderBy("v")
    ranked = b.join(F.broadcast(hit_buckets), "__b").withColumn(
        "gpos", (F.row_number().over(wr).cast("long") - 1) + F.col("off")
    )
    m = (
        ranked.join(
            F.broadcast(pos_tbl),
            (F.col("gpos") == F.col("lo_pos"))
            | (F.col("gpos") == F.col("hi_pos")),
        )
        .groupBy("quantile", "pos", "lo_pos", "hi_pos")
        .agg(
            F.max(F.when(F.col("gpos") == F.col("lo_pos"), F.col("v"))).alias(
                "v_lo"
            ),
            F.max(F.when(F.col("gpos") == F.col("hi_pos"), F.col("v"))).alias(
                "v_hi"
            ),
        )
    )
    v_lo_d = F.col("v_lo").cast("double")
    v_hi_d = F.col("v_hi").cast("double")
    exact = F.when(
        (F.col("hi_pos") == F.col("lo_pos")) | (v_hi_d == v_lo_d), v_lo_d
    ).otherwise(
        (F.col("hi_pos").cast("double") - F.col("pos")) * v_lo_d
        + (F.col("pos") - F.col("lo_pos").cast("double")) * v_hi_d
    )
    exacts = m.select("quantile", exact.alias("exact_value"))
    ranks = (
        li.crossJoin(F.broadcast(per_q))
        .groupBy("quantile", "approx_value", "n_rows")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("approx_value"), 1).otherwise(0)
            ).alias("n_below"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("approx_value"), 1).otherwise(0)
            ).alias("n_at_or_below"),
        )
    )
    eps = 1.0 / accuracy
    within = (
        F.col("n_below") <= F.ceil((F.col("quantile") + eps) * F.col("n_rows"))
    ) & (
        F.col("n_at_or_below")
        >= F.floor((F.col("quantile") - eps) * F.col("n_rows"))
    )
    return ranks.join(F.broadcast(exacts), "quantile").select(
        "quantile",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("exact_value", 4).alias("exact_value"),
        within.alias("within_rank_bound"),
    )


def events_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative distinct users by day — the growth-accounting curve
    (DAU is a groupBy; CUMULATIVE distinct is the one that trips people
    into O(days × users) re-scans).

    One pass: a user contributes to the cumulative count exactly at their
    FIRST event day, so min(ts)-per-user (one shuffle), count per day,
    running sum.  The running-sum window orders the per-day aggregate —
    a few thousand rows at any corpus size — so the single-partition
    window is over the tiny frame, never the event stream."""
    events = load(spark, sf_dir, "events")
    first_day = events.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    per_day = first_day.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("first_day").alias("day"),
        "n_new_users",
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


def sample_priority_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): estimate the corpus total
    token count from a k-item sample — THE estimator for subset-sum
    queries over heavy-tailed data, provably near-optimal variance among
    all k-sample schemes.

    Priority q_i = w_i / u_i with the same deterministic md5 uniform as
    sample_weighted_aes; the sample is the top-k by priority, τ is the
    (k+1)-th priority, and each sampled item's weight estimate is
    max(w_i, τ) — unbiased for any weights.  Everything is a pure
    function of the data, so the DuckDB oracle reproduces the estimate
    EXACTLY: a probabilistic estimator inside the value-hash gate.

    Plan: top-(k+1) via TakeOrderedAndProject (per-task heaps — never a
    global sort/window over the corpus); τ and the estimator fold over a
    (k+1)-row frame; the exact total is one map-side-combined sum riding
    the same scan family.  At 100 TB the estimate costs one scan + a
    k-row reduction."""
    k = 100
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    u_int = sum(
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1)
        .cast("long")
        * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    u = (u_int.cast("double") + 1.0) / F.lit(4294967296.0)
    w = F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("double")
    prio = docs.select(
        "doc_id",
        w.alias("w"),
        (w / u).alias("priority"),
    )
    topk1 = prio.orderBy(F.col("priority").desc(), "doc_id").limit(k + 1)
    wnd = Window.orderBy(F.col("priority").desc(), "doc_id")
    ranked = topk1.withColumn("rn", F.row_number().over(wnd))
    tau = ranked.where(F.col("rn") == k + 1).select(
        F.col("priority").alias("tau")
    )
    est = (
        ranked.where(F.col("rn") <= k)
        .crossJoin(F.broadcast(tau))
        .groupBy()
        .agg(F.sum(F.greatest("w", "tau")).alias("estimate_raw"))
    )
    exact = docs.select(w.alias("w")).groupBy().agg(
        F.sum("w").cast("long").alias("exact_total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.lit(k).cast("long").alias("k"),
            "exact_total_tokens",
            F.round("estimate_raw", 2).alias("estimate_tokens"),
            F.round(
                F.abs(F.col("estimate_raw") - F.col("exact_total_tokens"))
                / F.col("exact_total_tokens"),
                6,
            ).alias("rel_error"),
        )
    )


def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by value
    — the SQL surface for per-row dependent subqueries (Spark 3.2+).

    Catalyst DE-CORRELATES the lateral limit into WindowGroupLimit: a
    PARTIAL top-2-per-key runs before the shuffle (per-task heaps, same
    idea as TakeOrdered), the final top-2 after, then a plain broadcast
    hash join — the textbook plan one would hand-write, derived from the
    declarative form.  No per-customer re-execution of the subquery
    exists anywhere in the physical plan, which is the entire point:
    LATERAL is sugar, the engine owes you the join."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM customer_v c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders_v o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): NULL keys MATCH EACH OTHER instead of
    vanishing — the semantic corner every dimension-key join with
    incomplete data eventually hits (standard = joins silently drop the
    NULL partition; <=> keeps it as its own key group).

    Keys are made sparse with nullif so both behaviors are observable.
    Spark plans <=> as a regular hash join (null-safe comparison is just
    a different key equality), so the scale story is unchanged from any
    equi-join: one shuffle per side, broadcast when small.  The aggregate
    output pins the NULL<=>NULL group's existence and size."""
    customer = load(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("c_key")
    )
    supplier = load(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("s_key")
    )
    return (
        customer.join(supplier, F.col("c_key").eqNullSafe(F.col("s_key")))
        .groupBy("c_key")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            F.coalesce(F.col("c_key").cast("string"), F.lit("NULL")).alias(
                "join_key"
            ),
            "n_pairs",
        )
    )


def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file provenance rollup via the hidden ``_metadata`` struct —
    the lineage column every ingest audit wants (which physical file did
    each row come from, how many rows per file) without a filename UDF or
    input_file_name()'s whole-stage-codegen breakage.

    ``_metadata`` is resolved at scan time from the file index, costs
    nothing to read (no data-column decode), and survives column pruning
    as its own struct field read.  The rollup is a map-side-combined
    groupBy over however many files the table has — at 100 TB that is
    the file count, not the row count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def events_mean_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift change detection per user: flag events where the average
    value over the following 5 events diverges from the preceding
    5 by more than 80.0 — the windowed two-sample test that
    catches regime changes (price jumps, bot takeover, sensor drift)
    without CUSUM's sequential recursion, which no window function can
    express.

    Two ROWS-frame averages over the SAME per-user sort — one shuffle,
    one sorted pass, both frames read from the single sorted run.  Only
    full windows test (count == w on both sides), so edges never
    false-positive.  Output is the flagged rows only: corpus-sparse."""
    w = 5
    events = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    before = order.rowsBetween(-w, -1)
    after = order.rowsBetween(0, w - 1)
    measured = events.select(
        "user_id",
        "event_id",
        F.avg("value").over(before).alias("mean_before"),
        F.count(F.lit(1)).over(before).alias("n_before"),
        F.avg("value").over(after).alias("mean_after"),
        F.count(F.lit(1)).over(after).alias("n_after"),
    )
    return (
        measured.where(
            (F.col("n_before") == w)
            & (F.col("n_after") == w)
            & (F.abs(F.col("mean_after") - F.col("mean_before")) > 80.0)
        )
        .select(
            "user_id",
            "event_id",
            F.round("mean_before", 4).alias("mean_before"),
            F.round("mean_after", 4).alias("mean_after"),
            F.round(F.col("mean_after") - F.col("mean_before"), 4).alias(
                "shift"
            ),
        )
    )


def sample_mix_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity accounting of the training mix: per-source token share,
    Shannon entropy of the mix, and the EFFECTIVE number of sources
    (2^H) — the one-number answer to 'is this corpus really 20 sources or
    3 big ones wearing 20 hats', reported per source with the corpus-level
    diversity on every row for a flat, joinable shape.

    One scan to per-source token sums (map-side combined); entropy folds
    over the source-count-sized aggregate; broadcast join carries the two
    corpus scalars back onto the 20 rows.  6-dp rounds on the ratios."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.lower(F.trim("text")), r"\s+")).cast("double")
    per_source = docs.groupBy("source").agg(
        F.sum(tokens).alias("source_tokens")
    )
    totals = per_source.groupBy().agg(
        F.sum("source_tokens").alias("total_tokens"),
        (
            F.log2(F.sum("source_tokens"))
            - F.sum(F.col("source_tokens") * F.log2("source_tokens"))
            / F.sum("source_tokens")
        ).alias("entropy_bits"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("source_tokens").cast("long").alias("source_tokens"),
            F.round(F.col("source_tokens") / F.col("total_tokens"), 6).alias(
                "token_share"
            ),
            F.round("entropy_bits", 6).alias("mix_entropy_bits"),
            F.round(F.pow(F.lit(2.0), F.col("entropy_bits")), 4).alias(
                "effective_sources"
            ),
        )
    )


def parts_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline): parts not dominated on
    (cheaper price, larger size) by any other part — the multi-objective
    shortlist query (price/quality, latency/accuracy, cost/coverage).

    The running-max formulation beats the naive NOT EXISTS self-join
    (O(n²), unguarded): keep a row iff its size strictly exceeds the max
    size over all STRICTLY CHEAPER rows.  'Strictly cheaper' is defined
    on the integer price tick — prices are 0.1-granular, and price TIES
    must not dominate each other (a ROWS frame would get that wrong).

    Scale shape (no global single-task RANGE window): the running max factors
    through the TICK GRID.  Per-tick max size is a keyed aggregate (the only
    shuffle of the part table); the exclusive running max then runs over the
    tick table alone — DOMAIN-bounded at ~12k rows (TPC-H prices span
    900.00-2098.99, one tick per 0.1) independent of catalog size — and
    broadcast-joins back to the parts.  Equivalent to the single-task window
    because max over cheaper rows == max over per-tick maxes of cheaper ticks;
    at 100 TB the part table sees one hash shuffle and zero global sorts."""
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_retailprice",
        "p_size",
        F.round(F.col("p_retailprice") * 10).cast("long").alias("price_tick"),
    )
    tick_max = part.groupBy("price_tick").agg(
        F.max("p_size").alias("tick_max")
    )
    w_tick = (
        Window.orderBy("price_tick")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tick_best = tick_max.select(
        "price_tick",
        F.max("tick_max").over(w_tick).alias("best_size_cheaper"),
    )
    measured = part.join(F.broadcast(tick_best), "price_tick")
    return measured.where(
        F.col("best_size_cheaper").isNull()
        | (F.col("p_size") > F.col("best_size_cheaper"))
    ).select("p_partkey", "p_name", "p_retailprice", F.col("p_size").cast("long").alias("p_size"))


def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicity-preserving set operations — INTERSECT ALL and
    EXCEPT ALL over per-nation key bags (a customer nation appearing 40
    times meets a supplier nation appearing 7 times: INTERSECT ALL keeps
    7, EXCEPT ALL keeps 33).  The distinct variants hide exactly the
    cardinality information a reconciliation query needs.

    Spark plans both as aggregate + generate (count per key per side,
    min/difference, replicate) — no join explosion; the shuffle carries
    one row per distinct key per side.  Output aggregates the bags back
    to (key, multiplicity) so the result is readable and hash-stable."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    cust = customer.select(F.col("c_nationkey").cast("long").alias("nationkey"))
    supp = supplier.select(F.col("s_nationkey").cast("long").alias("nationkey"))
    inter = cust.intersectAll(supp).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("multiplicity")
    ).withColumn("op", F.lit("intersect_all"))
    diff = cust.exceptAll(supp).groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("multiplicity")
    ).withColumn("op", F.lit("except_all"))
    return inter.unionByName(diff).select("op", "nationkey", "multiplicity")


def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* ANSI companions — under ANSI mode (ON in this engine,
    session.py) a division by zero or an out-of-range cast THROWS, and
    try_divide / try_cast / try_element_at / try_add are the per-
    expression opt-outs that return NULL instead.  A pipeline that runs
    ANSI-strict needs exactly these at its dirty edges (and nowhere
    else).

    One scan, pure projections; every NULL-path is exercised by
    construction (zero divisors, unparseable strings, out-of-bounds
    indices) so the oracle pins the full NULL semantics, not just the
    happy path."""
    orders = load(spark, sf_dir, "orders")
    zero_ish = F.col("o_orderkey") % 3  # 0 for every third row
    return orders.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), zero_ish.cast("double")).alias(
            "div_or_null"
        ),
        F.concat(F.lit("x"), F.col("o_orderstatus"))
        .try_cast("double")
        .alias("bad_cast_null"),
        F.col("o_orderkey").cast("string").try_cast("double").alias(
            "good_cast"
        ),
        F.try_element_at(
            F.array(F.lit(10), F.lit(20)), (F.col("o_orderkey") % 4).cast("int") + 1
        ).alias("elem_or_null"),
    ).select(
        "o_orderkey",
        F.round("div_or_null", 4).alias("div_or_null"),
        "bad_cast_null",
        "good_cast",
        F.col("elem_or_null").cast("long").alias("elem_or_null"),
    )


def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate functions (bit_or / bit_and / bit_xor) building a
    per-event-type user-cohort BITMASK — the poor man's roaring bitmap:
    distributive, mergeable, constant-size state, the same partial/final
    shape as sum().

    Each user sets bit (user_id % 32); bit_or accumulates the cohort mask
    per event type, bit_and finds always-set bits, bit_xor the parity.
    At scale this is how engagement bitmaps are built per segment without
    a distinct-user shuffle: the aggregation state is one long."""
    events = load(spark, sf_dir, "events")
    # shiftleft's pyspark wrapper takes a literal bit count; a per-row
    # shift amount needs the SQL form
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
    return events.select("event_type", bit.alias("user_bit")).groupBy(
        "event_type"
    ).agg(
        F.bit_or("user_bit").alias("cohort_mask"),
        F.bit_and("user_bit").alias("common_bits"),
        F.bit_xor("user_bit").alias("parity_bits"),
    )


def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per event type: clip values at the
    group's own exact p05/p95, then report the clipped mean next to the
    raw mean — the outlier-robust KPI (a handful of fat-finger values
    should not move the metric).

    Two passes over the events scan, both shuffling only the tiny
    per-type aggregate: exact percentiles per type first (engine-parity
    for interpolated percentiles is already proven by agg_percentiles),
    then a broadcast of the 5-row bounds table back onto the scan for the
    conditional clip + aggregate.  Boundary membership is engine-safe:
    when the interpolation lands ON a data value (fraction 0) both
    engines return that value bit-exactly, and strictly-interior
    boundaries never equal a data point."""
    events = load(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.05, 0.95))").alias("p")
    ).select(
        "event_type",
        F.col("p")[0].alias("lo"),
        F.col("p")[1].alias("hi"),
    )
    clipped = events.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "wvalue"
        ),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clipped_high"),
        F.round(F.avg("value"), 4).alias("raw_mean"),
        F.round(F.avg("wvalue"), 4).alias("winsorized_mean"),
    )


def profile_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit over a quasi-identifier tuple: every
    (nation, market-segment) equivalence class with its size and a flag
    for classes smaller than k = 5 — the table a privacy review asks for
    before a dataset leaves the building (small classes re-identify).

    One groupBy on the quasi-identifier; the summary row (min class size,
    number of violating classes) is derivable downstream, while the
    per-class rows keep the audit actionable.  At 100 TB this is a
    single map-side-combined aggregation — the privacy check costs one
    scan, which is the argument for running it on every export."""
    customer = load(spark, sf_dir, "customer")
    classes = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return classes.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "c_mktsegment",
        "class_size",
        (F.col("class_size") < 5).alias("violates_k"),
    )


def sample_shard_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) routing of documents to shards:
    each doc goes to argmax over shards of md5(doc:shard) — the
    consistent-placement scheme where adding or removing a shard moves
    ONLY that shard's keys (1/n of data), unlike mod-n which reshuffles
    everything.

    The argmax is a row-local fold over 8 generated hash strings
    (lexicographic max — any total order works), zero shuffle; the
    output aggregates to per-shard counts plus each shard's min/max doc
    ids as a placement fingerprint.  Balance follows from md5 uniformity;
    the count spread in the output IS the balance audit."""
    docs = load(spark, sf_dir, "documents")
    shard_ids = F.sequence(F.lit(0), F.lit(7))
    best = F.array_max(
        F.transform(
            shard_ids,
            lambda s: F.struct(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), s.cast("string")
                    )
                ).alias("weight"),
                s.cast("long").alias("shard"),
            ),
        )
    )
    return (
        docs.select("doc_id", best["shard"].alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


def profile_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-mechanism count release, mechanism demo: per-segment
    counts plus Laplace(1/ε) noise (ε = 1) drawn by inverse-CDF from a
    DETERMINISTIC md5 uniform — the exact arithmetic of an ε-DP count
    release, reproducible across engines and runs.

    HONESTY NOTE: determinism makes this a mechanism demonstration, NOT
    a privacy guarantee — real DP requires fresh randomness per release
    (swap the md5 uniform for a secure RNG and drop the oracle).  What
    the query pins: sensitivity-1 counting, the inverse-CDF transform
    sign(u-.5)·ln(1-2|u-.5|)/ε, and the plan (one aggregation, noise
    applied to the AGGREGATE rows — noise per input row would be both
    wrong and a full-scan cost)."""
    customer = load(spark, sf_dir, "customer")
    counts = customer.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    h = F.md5(F.concat(F.lit("dp:"), F.col("c_mktsegment")))
    u_int = sum(
        (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1)
        .cast("long")
        * F.lit(16 ** (7 - i)).cast("long")
        for i in range(8)
    )
    u = (u_int.cast("double") + 1.0) / F.lit(4294967296.0 + 2.0)
    centered = u - F.lit(0.5)
    noise = (
        F.when(centered >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * -F.log(1.0 - 2.0 * F.abs(centered))
        / F.lit(1.0)
    )
    return counts.select(
        "c_mktsegment",
        "true_count",
        F.round(noise, 6).alias("laplace_noise"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
    )


def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity matrix with each cell's ratio
    to the uniform expectation — the load-shape profile behind capacity
    planning, anomaly baselines, and bot detection (humans have diurnal
    cycles; scrapers do not).

    One scan to a ≤168-row contingency table (map-side combined); the
    uniform expectation n_total/cells_observed rides in as a 1-row
    broadcast literal.  dayofweek is pinned to ISO (1=Monday) via the
    same weekday() arithmetic both engines define identically."""
    events = load(spark, sf_dir, "events")
    cells = events.groupBy(
        F.weekday("ts").cast("long").alias("iso_weekday"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    totals = cells.groupBy().agg(
        F.sum("n_events").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return (
        cells.crossJoin(F.broadcast(totals))
        .select(
            "iso_weekday",
            "hour_of_day",
            "n_events",
            F.round(
                F.col("n_events") / (F.col("n_total") / F.col("n_cells")), 6
            ).alias("ratio_vs_uniform"),
        )
    )


def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort revenue curves: customers cohorted by first-order month,
    revenue accumulated by months-since-first-order — the LTV ramp per
    acquisition vintage (which cohorts monetize faster), the revenue twin
    of the retention matrix.

    Two shuffles: first-order month per customer (groupBy custkey), then
    the (cohort, offset) rollup after a broadcast-joined month arithmetic
    — the per-customer cohort frame is one row per customer and joins
    back on the orders scan's own key.  The cumulative sum windows over
    the cohort×offset aggregate (hundreds of rows), never the order
    stream."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    enriched = orders.join(firsts, "o_custkey").select(
        F.to_date("cohort_month").alias("cohort_month"),
        (
            (F.year("o_orderdate") - F.year("cohort_month")) * 12
            + (F.month("o_orderdate") - F.month("cohort_month"))
        ).cast("long").alias("month_offset"),
        "o_totalprice",
    )
    per_cell = enriched.groupBy("cohort_month", "month_offset").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_cell.select(
        "cohort_month",
        "month_offset",
        "n_orders",
        "revenue",
        F.round(F.sum("revenue").over(w), 2).alias("cum_revenue"),
    )


def events_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of value over time — closed-form slope /
    intercept / R² from the five sufficient statistics (Σx Σy Σxy Σx²
    Σy²), so regression costs ONE map-side-combined aggregation per
    group, no ML library, no iteration, no second pass.

    x is epoch seconds RE-CENTERED per group (x − min x): raw epochs are
    ~1.7e9 and squaring them burns double precision exactly where the
    covariance subtraction needs it; centering keeps every intermediate
    small.  The min comes from the same single aggregation via two-pass-
    free conditional math — a broadcast join of the per-type min is one
    tiny frame.  4-dp rounds on the derived ratios."""
    events = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("double").alias("x_raw"),
        F.col("value").alias("y"),
    )
    mins = events.groupBy("event_type").agg(F.min("x_raw").alias("x0"))
    centered = events.join(F.broadcast(mins), "event_type").select(
        "event_type", (F.col("x_raw") - F.col("x0")).alias("x"), "y"
    )
    stats = centered.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    # Degenerate-group guards: a group whose events all share
    # one timestamp has sxx_c == 0 (slope undefined), one whose values are
    # constant has syy_c == 0 (r2 undefined).  Unguarded division yields
    # engine-dependent NULL/inf; the oracle mirrors the same CASE guards.
    slope = F.when(sxx_c > 0, sxy_c / sxx_c)
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_events"),
        F.round(slope * 86400, 4).alias("slope_per_day"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
        ).alias("intercept"),
        F.round(
            F.when((sxx_c > 0) & (syy_c > 0), sxy_c * sxy_c / (sxx_c * syy_c)), 4
        ).alias("r2"),
    )


def events_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence statistic for event type × value
    band, per-cell decomposed ((observed − expected)² / expected) — the
    frequentist twin of events_mutual_information, and the standard
    drift/independence screen for categorical features.

    Same plan as MI: one scan to the ≤20-cell contingency table,
    marginals from the table itself, broadcast assembly.  The total χ²
    and degrees of freedom are derivable downstream; per-cell terms keep
    the diagnosis actionable (WHICH cell drives the dependence)."""
    events = load(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") < 5, "lt5")
        .when(F.col("value") < 50, "5to50")
        .when(F.col("value") < 200, "50to200")
        .otherwise("ge200")
    )
    cells = (
        events.select("event_type", band.alias("value_band"))
        .groupBy("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    totals = cells.groupBy().agg(F.sum("observed").alias("n_total"))
    by_type = cells.groupBy("event_type").agg(F.sum("observed").alias("n_type"))
    by_band = cells.groupBy("value_band").agg(F.sum("observed").alias("n_band"))
    expected = F.col("n_type") * F.col("n_band") / F.col("n_total")
    return (
        cells.join(F.broadcast(by_type), "event_type")
        .join(F.broadcast(by_band), "value_band")
        .crossJoin(F.broadcast(totals))
        .select(
            "event_type",
            "value_band",
            "observed",
            F.round(expected, 4).alias("expected"),
            F.round(
                (F.col("observed") - expected) * (F.col("observed") - expected)
                / expected,
                6,
            ).alias("chi2_term"),
        )
    )


def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (hour-of-day × value bin) — the heatmap backing
    every monitoring dashboard, computed as one scan to a bounded cell
    table (24 × value-range/bin cells, map-side combined).

    Bin indices are integer arithmetic on both axes (floor division for
    the value axis, hour extraction for time), so cell membership is
    engine-exact — the same discipline as the fixed-width 1-D histogram
    (agg_histogram_bins) extended to two dimensions."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.hour("ts").cast("long").alias("hour_of_day"),
            F.floor(F.col("value") / 25.0).cast("long").alias("value_bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("bin_min"),
            F.round(F.max("value"), 2).alias("bin_max"),
        )
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the customer and the
    supplier share a nation inside one region and a one-year window —
    the canonical 6-table star join.

    Join-order story Catalyst gets right from the declarative form:
    region (5 rows) → nation (25) → supplier all BROADCAST by explicit
    hint (they stay tiny at every scale); CUSTOMER is deliberately NOT
    hinted — TPC-H customer is a semi-fact (SF·150k rows, ~1.5 M at
    sf10), so a forced broadcast that is free at sf0.1 becomes a
    driver/executor OOM at 100×.  AQE decides at runtime: below the
    64 MiB threshold it still broadcasts, above it the customer join
    shuffles on the order key like the fact join it really is.  The
    date filter pushes into the orders parquet scan, the region filter
    prunes nation before it ever touches a fact table.
    Revenue = Σ price·(1−discount), 2-dp."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asian_nations = nation.join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asian_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            # decimal-sum the revenue: a double sum's order-dependent ulp
            # can land exactly on a half-cent and round differently per
            # engine; decimal addition is exact and order-free
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the top customers by revenue LOST to returned
    items in one quarter — the classic churn-investigation report.

    Facts join on their keys (lineitem filtered to returnflag='R' BEFORE
    the join — the filter prunes ~75% of the fact table at the scan);
    nation broadcasts by hint, while CUSTOMER carries no hint — it is a
    semi-fact (SF·150k rows) and a forced broadcast would OOM at 100×;
    AQE still broadcasts it below the 64 MiB threshold and otherwise
    shuffles the (already k-bounded-ish) per-customer aggregate against
    it on the customer key.  The top-20 is
    TakeOrderedAndProject on the per-customer aggregate, ordered by the
    ROUNDED revenue with the customer key as tiebreak so the cut at
    position 20 is engine-exact."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    revenue = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            # decimal sum: see q5 — exact, order-free, half-cent-safe
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_returned"),
        )
    )
    return (
        revenue.join(
            customer.select("c_custkey", "c_name", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue", "n_returned")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def compliance_erasure_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-cascade accounting (GDPR art. 17 shape): given a tombstone
    set of users, how many rows each table loses and keeps — the
    pre-flight report a deletion pipeline emits before destructive
    execution, and the same anti-join plan the deletion itself runs.

    The tombstone set here is deterministic (user_id % 97 == 0) so the
    report is oracle-checkable; production swaps in the request table.
    Plan: the tombstone frame is tiny by construction and BROADCASTS into
    left-anti (keep) and left-semi (erase) counts — each table pays one
    scan, no shuffle of fact data at all.  Extending the cascade to a new
    table is one more summarize() line, which is the operational point:
    erasure coverage should be declarative and auditable."""
    events = load(spark, sf_dir, "events")
    tombstones = (
        events.select(F.col("user_id").alias("t_user_id"))
        .where(F.col("t_user_id") % 97 == 0)
        .distinct()
    )

    def summarize(df: DataFrame, table: str, key) -> DataFrame:
        erased = df.join(
            F.broadcast(tombstones), key == F.col("t_user_id"), "left_semi"
        )
        kept = df.join(
            F.broadcast(tombstones), key == F.col("t_user_id"), "left_anti"
        )
        e = erased.groupBy().agg(F.count(F.lit(1)).alias("n_erased"))
        k = kept.groupBy().agg(F.count(F.lit(1)).alias("n_kept"))
        return (
            e.crossJoin(k)
            .select(
                F.lit(table).alias("table_name"),
                F.col("n_erased").cast("long").alias("n_erased"),
                F.col("n_kept").cast("long").alias("n_kept"),
            )
        )

    n_subjects = tombstones.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_erased")
    ).select(
        F.lit("erasure_subjects").alias("table_name"),
        "n_erased",
        F.lit(0).cast("long").alias("n_kept"),
    )
    return n_subjects.unionByName(
        summarize(events, "events", F.col("user_id"))
    )


def profile_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant table checksum for cross-system reconciliation:
    per-row md5 over a canonical string encoding, folded with the three
    commutative combiners (xor, sum-mod, count) — equal checksums mean
    equal multisets of rows WITHOUT sorting, shipping, or diffing either
    side.  This is the mechanism behind 'did the migration lose rows',
    and the same idea the driver's own value-hash gate uses.

    Only integer and string columns feed the encoding: float-to-string
    formatting is ENGINE-SPECIFIC (1.0 vs 1; scientific cutoffs), so a
    checksum over rendered doubles would diverge on identical data —
    doubles must be quantized to integers first (the same discipline as
    every rounded oracle column in this registry).  One scan,
    constant-size state per partition, one 1-row result."""
    events = load(spark, sf_dir, "events")
    enc = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
    )
    h = F.conv(F.substring(F.md5(enc), 1, 8), 16, 10).cast("long")
    return events.select(h.alias("h")).groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("h").alias("xor_checksum"),
        F.pmod(F.sum("h"), F.lit(2305843009213693951)).cast("long").alias(
            "sum_checksum"
        ),
    )


def events_recency_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store recency snapshot per user: days since last event,
    activity in the trailing 7 days vs the 30-day window before it, and
    the acceleration ratio — the standard churn-model feature block,
    computed against the corpus max timestamp as the snapshot anchor.

    One scan with conditional aggregation per user (every feature is a
    filtered count/max over the same rows — never one scan per feature),
    plus a 1-row broadcast of the global anchor.  6-dp round on the
    ratio."""
    events = load(spark, sf_dir, "events").select("user_id", "ts")
    anchor = events.groupBy().agg(F.max("ts").alias("now_ts"))
    with_anchor = events.crossJoin(F.broadcast(anchor))
    day_age = F.datediff(F.to_date("now_ts"), F.to_date("ts"))
    return (
        with_anchor.groupBy("user_id")
        .agg(
            F.min(day_age).cast("long").alias("days_since_last"),
            F.sum(F.when(day_age < 7, 1).otherwise(0))
            .cast("long")
            .alias("n_last_7d"),
            F.sum(F.when((day_age >= 7) & (day_age < 37), 1).otherwise(0))
            .cast("long")
            .alias("n_prior_30d"),
        )
        .select(
            "user_id",
            "days_since_last",
            "n_last_7d",
            "n_prior_30d",
            F.round(
                F.col("n_last_7d")
                / (F.lit(7.0) * F.greatest(F.col("n_prior_30d") / 30.0, F.lit(1e-9))),
                6,
            ).alias("acceleration"),
        )
    )


def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: how many orders were placed but not yet
    fully shipped on each day — the interval-concurrency classic
    (concurrent sessions, bed occupancy, WIP inventory all reduce to it).

    The scalable encoding is ±1 DELTAS, never day×interval expansion:
    each order contributes (+1 at placement, −1 the day after its last
    shipment), the deltas aggregate per day, and a running sum over the
    per-day frame reconstructs the concurrent count.  An interval
    spanning a year costs 2 rows instead of 365; the running-sum window
    orders the day-level aggregate (thousands of rows at any corpus
    size), not the order stream.  Days with no delta are absent (sparse
    representation — join a calendar spine for dense output)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    closes = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    spans = orders.join(
        closes, F.col("o_orderkey") == F.col("l_orderkey"), "inner"
    ).select(
        F.to_date("o_orderdate").alias("open_day"),
        F.date_add(F.to_date("last_ship"), 1).alias("close_day"),
    )
    deltas = spans.select(
        F.col("open_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            F.col("close_day").alias("day"), F.lit(-1).alias("delta")
        )
    )
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("net_change"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "day",
        F.col("net_change").cast("long").alias("net_change"),
        F.sum("net_change").over(w).cast("long").alias("open_orders"),
    )


def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral paths of length 3 — the Sankey-diagram feed: every
    consecutive (t₋₂ → t₋₁ → t) event-type triple per user, counted
    corpus-wide.

    Two lags over ONE per-user sorted pass (the same sort run as the
    Markov transitions — first-order chains miss exactly the patterns a
    length-3 path exposes, e.g. view→click→error vs view→click→purchase).
    Output is bounded by |types|³ however large the corpus; a minimum of
    10 paths keeps the long tail out of the report."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    triples = events.select(
        F.lag("event_type", 2).over(w).alias("step_1"),
        F.lag("event_type", 1).over(w).alias("step_2"),
        F.col("event_type").alias("step_3"),
    ).where(F.col("step_1").isNotNull())
    return (
        triples.groupBy("step_1", "step_2", "step_3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .where(F.col("n_paths") >= 10)
    )


def supplier_otif_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time scorecard: per supplier, the share of line items
    shipped within the SLA window of the order date — the
    vendor-performance KPI behind every procurement review.

    One fact-fact join on the order key (lineitem⋈orders — both sides
    pruned to two columns before the shuffle), then a conditional
    aggregate per supplier.  The supplier dim joins AFTER aggregation —
    one row per supplier, broadcast — never onto the fact stream."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lag_days = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    scored = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(F.when(lag_days <= 60, 1).otherwise(0))
            .cast("long")
            .alias("n_on_time"),
            F.round(F.avg(lag_days), 4).alias("avg_ship_days"),
        )
    )
    return (
        scored.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "n_lineitems",
            "n_on_time",
            F.round(F.col("n_on_time") / F.col("n_lineitems"), 6).alias(
                "otif_rate"
            ),
            "avg_ship_days",
        )
    )


def events_regr_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in linear-regression AGGREGATE family (regr_slope /
    regr_intercept / regr_r2 / regr_count) per event type — the
    SQL-standard one-liner that events_linear_trend derives by hand;
    registering both pins that the engine's builtins and the
    sufficient-statistics unroll agree on the same data.

    x is re-centered per group before the aggregate for the same
    precision reason as the manual version (epoch² eats the double
    mantissa); the builtins then do their own partial/final sufficient-
    statistics fold — one shuffle of constant-size state per group."""
    events = load(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp(F.col("ts").cast("timestamp")).cast("double").alias("x_raw"),
        F.col("value").alias("y"),
    )
    mins = events.groupBy("event_type").agg(F.min("x_raw").alias("x0"))
    centered = events.join(F.broadcast(mins), "event_type").select(
        "event_type", (F.col("x_raw") - F.col("x0")).alias("x"), "y"
    )
    # Degenerate-group guards: the builtins' zero-variance
    # behavior is engine-defined (Spark NULLs, other engines may inf/NaN),
    # so both sides compute the regression only when var(x) > 0 (and
    # var(y) > 0 for r2) — identical CASE in the DuckDB oracle.
    return centered.groupBy("event_type").agg(
        F.expr("CAST(regr_count(y, x) AS BIGINT)").alias("n_points"),
        F.round(
            F.expr("CASE WHEN var_pop(x) > 0 THEN regr_slope(y, x) * 86400 END"), 4
        ).alias("slope_per_day"),
        F.round(
            F.expr("CASE WHEN var_pop(x) > 0 THEN regr_intercept(y, x) END"), 4
        ).alias("intercept"),
        F.round(
            F.expr(
                "CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0 THEN regr_r2(y, x) END"
            ),
            4,
        ).alias("r2"),
    )


def cdc_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD an SCD2 (type-2 slowly-changing dimension) history from a raw
    change stream — the producer side of join_scd2_dimension, which
    consumes one.  Per user, consecutive events with the SAME event_type
    collapse into one validity interval; a change of type closes the
    previous interval exactly at the new row's timestamp (half-open
    [valid_from, valid_to)), and the last interval per user stays open
    (valid_to NULL, is_current true) — the standard warehouse pattern
    (Kimball ch. 5) a MERGE-based dimension load maintains incrementally.

    Plan: ONE window partitioned by user ordered by (ts, event_id): lag
    detects run starts, lead over the run-start subset assigns each
    interval its successor's start.  Two narrow window passes over the
    events scan, shuffling only on user_id — at 100 TB this is the same
    single hash exchange as any per-user sessionization; no join, no
    second scan.  The (ts, event_id) tiebreak makes simultaneous events
    deterministic in both engines."""
    events = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = events.withColumn(
        "is_start",
        F.coalesce(F.lag("event_type").over(w) != F.col("event_type"), F.lit(True)),
    ).where(F.col("is_start"))
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return starts.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


def events_adoption_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type user adoption rate with a WILSON 95% score interval
    — uncertainty quantification for funnel/adoption metrics, the
    binomial CI that behaves at small n and extreme p where the naive
    normal interval collapses (Wilson 1927; what A/B dashboards should
    ship instead of p-hat +/- 1.96*se).

    All closed-form: p = k/n, z = 1.96,
    center = p + z^2/2n, half = z*sqrt(p(1-p)/n + z^2/4n^2),
    bounds = (center -/+ half) / (1 + z^2/n) — pure arithmetic over two
    distinct-count aggregates, so both engines produce bit-identical
    doubles and the driver hashes the full interval.  Plan: one
    distinct-count per type plus one global, broadcast joined — two
    map-side-combinable aggregations of the events scan."""
    events = load(spark, sf_dir, "events")
    n_total = events.groupBy().agg(
        F.count_distinct("user_id").cast("double").alias("n")
    )
    per_type = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("double").alias("k")
    )
    z = F.lit(1.96)
    p = F.col("k") / F.col("n")
    denom = F.lit(1.0) + z * z / F.col("n")
    center = p + z * z / (F.lit(2.0) * F.col("n"))
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n")
        + z * z / (F.lit(4.0) * F.col("n") * F.col("n"))
    )
    return per_type.crossJoin(F.broadcast(n_total)).select(
        "event_type",
        F.col("k").cast("long").alias("n_users"),
        F.round(p, 6).alias("adoption_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lower"),
        F.round((center + half) / denom, 6).alias("wilson_upper"),
    )


def sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights that retarget the corpus's SOURCE mix to a
    declared target distribution (the DoReMi/Pile-style domain-mixing
    step): weight(source) = target_share / actual_share, so a weighted
    sample of the corpus draws sources in target proportion without
    moving a single row.

    Output is the per-source audit table a mixing run ships: actual
    share, target share, the weight, and the EFFECTIVE SAMPLE SIZE
    fraction (Kish: (sum w)^2 / (n * sum w^2), computed over docs via
    per-source closed form) that quantifies how much resampling power
    the reweight burns.  Uniform target over the sources present keeps
    the query parameter-free and oracle-stable.

    Plan: one source-count aggregate (20 rows), everything else is
    arithmetic on the tiny frame — the corpus itself is scanned once and
    never shuffled."""
    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).localCheckpoint(eager=False)  # 20 rows, 3 consumers: scan corpus once
    totals = per_source.groupBy().agg(
        F.sum("n_docs").cast("double").alias("n_total"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    joined = per_source.crossJoin(F.broadcast(totals))
    actual = F.col("n_docs") / F.col("n_total")
    target = F.lit(1.0) / F.col("n_sources")
    w = target / actual
    # Kish ESS over docs: sum w = n_total * sum_s(actual_s * w_s) etc.;
    # per-source contribution n_docs * w and n_docs * w^2
    contrib = joined.select(
        "source",
        "n_docs",
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(w, 6).alias("weight"),
        (F.col("n_docs") * w).alias("_sw"),
        (F.col("n_docs") * w * w).alias("_sw2"),
        "n_total",
    )
    ess = contrib.groupBy().agg(
        (
            F.sum("_sw") * F.sum("_sw")
            / (F.max("n_total") * F.sum("_sw2"))
        ).alias("_ess_frac")
    )
    return (
        contrib.crossJoin(F.broadcast(ess))
        .select(
            "source",
            "n_docs",
            "actual_share",
            "target_share",
            "weight",
            F.round(F.col("_ess_frac"), 6).alias("ess_fraction"),
        )
    )


def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic-aggregate MERGEABILITY certification: sum/count/min/max
    computed directly over lineitem must EQUAL the same aggregates merged
    from independent per-month partials — the property that makes
    incremental rollups (daily partitions -> monthly -> total) and
    map-side combine correct, certified the same way agg_hll_mergeable
    certifies the sketch path.  Exact integer/decimal aggregates merge
    losslessly, so unlike the HLL row this one asserts strict equality.

    Output: one row per l_returnflag with the direct aggregates and the
    booleans; a false anywhere means a non-commutative accumulation snuck
    into the rollup path.  Plan: two map-side-combined aggregations over
    one scan lineage; the merge step runs on the month-count-sized frame."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    direct = li.groupBy("l_returnflag").agg(
        F.sum("qty").alias("d_sum_qty"),
        F.count(F.lit(1)).cast("long").alias("d_n"),
        F.min("price").alias("d_min_price"),
        F.max("price").alias("d_max_price"),
    )
    merged = (
        li.groupBy("l_returnflag", "ship_month")
        .agg(
            F.sum("qty").alias("p_sum_qty"),
            F.count(F.lit(1)).cast("long").alias("p_n"),
            F.min("price").alias("p_min_price"),
            F.max("price").alias("p_max_price"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum("p_sum_qty").alias("m_sum_qty"),
            F.sum("p_n").cast("long").alias("m_n"),
            F.min("p_min_price").alias("m_min_price"),
            F.max("p_max_price").alias("m_max_price"),
        )
    )
    return (
        direct.join(merged, "l_returnflag")
        .select(
            "l_returnflag",
            F.col("d_sum_qty").cast("double").alias("sum_qty"),
            F.col("d_n").alias("n_rows"),
            F.col("d_min_price").cast("double").alias("min_price"),
            F.col("d_max_price").cast("double").alias("max_price"),
            (F.col("d_sum_qty") == F.col("m_sum_qty")).alias("sum_merges"),
            (F.col("d_n") == F.col("m_n")).alias("count_merges"),
            (
                (F.col("d_min_price") == F.col("m_min_price"))
                & (F.col("d_max_price") == F.col("m_max_price"))
            ).alias("minmax_merges"),
        )
    )


def events_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily OHLC (open/high/low/close) candles over the event
    value stream — the time-series downsampling shape (financial bars,
    metric rollups) whose interesting parts are the ORDERED aggregates:
    open/close are min_by/max_by(value, (ts, event_id)) — the SQL:2023
    any_value-with-ordering builtins — not window functions, so the whole
    candle is ONE map-side-combinable aggregation, no sort, no window
    shuffle, exactly what a 100 TB rollup wants.

    The ordering key is a zero-padded "%020d-%012d" string of
    (epoch-micros, event_id) — lexicographic equals chronological with a
    deterministic tiebreak, and a plain sortable scalar is the one key
    shape every engine's arg_min/min_by accepts (DuckDB rejects struct
    keys).  high/low/volume are the plain commutative aggregates."""
    events = load(spark, sf_dir, "events")
    ordkey = F.format_string(
        "%020d-%012d",
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.col("event_id"),
    )
    return (
        events.groupBy(
            "event_type", F.to_date(F.col("ts").cast("timestamp")).alias("day")
        )
        .agg(
            F.round(F.min_by("value", ordkey), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", ordkey), 6).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("volume"),
        )
    )


def events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness profile: treating event_id as arrival order (the
    generator assigns ids in arrival sequence), how far behind the
    running event-time high-water mark does each event arrive?  The
    resulting distribution is THE input for choosing a streaming
    watermark delay (`withWatermark("ts", ...)`): the p99-ish bucket
    says what delay keeps 99% of events inside the window, and the tail
    mass is the fraction a given delay would drop — measured on the
    actual corpus instead of guessed.

    Plan: the running event-time max decomposes like the two-phase
    global rank — per-arrival-bucket running max (keyed window) merged
    with the broadcast EXCLUSIVE prefix max of earlier buckets — so the
    global-order semantics cost no single-task pass; then a tiny
    bucketed aggregate.  Lateness buckets in seconds, log-ish edges."""
    events = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    ).withColumn("__b", (F.col("event_id") / 65536).cast("long"))
    bstats = events.groupBy("__b").agg(F.max("ts").alias("bmax"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = bstats.select(
        "__b", F.max("bmax").over(wb).alias("prev_max")
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    events = events.join(F.broadcast(prefix), "__b")
    run_max = F.greatest(
        F.max("ts").over(w),
        F.coalesce(F.col("prev_max"), F.col("ts")),
    )
    late_sec = (
        F.unix_timestamp(run_max) - F.unix_timestamp(F.col("ts"))
    ).cast("long")
    bucket = (
        F.when(late_sec <= 0, "on-time")
        .when(late_sec <= 60, "<=1m")
        .when(late_sec <= 600, "<=10m")
        .when(late_sec <= 3600, "<=1h")
        .when(late_sec <= 86400, "<=1d")
        .otherwise(">1d")
    )
    total = events.groupBy().agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    return (
        events.select(bucket.alias("lateness_bucket"))
        .groupBy("lateness_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .crossJoin(F.broadcast(total))
        .select(
            "lateness_bucket",
            "n_events",
            F.round(F.col("n_events") / F.col("n_total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Financial allocation, variance decomposition, survival analysis,
# robust trend estimation
# ---------------------------------------------------------------------------

def orders_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder pro-rata allocation: distribute each order's total
    across its lineitems in proportion to extended price so the per-line
    cent amounts sum EXACTLY to the order total — the invoice/royalty/
    cost-allocation primitive every financial mart needs, and the classic
    place naive float math loses pennies.

    ENTIRELY integer arithmetic, so both engines agree bit-for-bit with no
    rounding discipline needed: amounts become cents (BIGINT), the floor
    share is the integer division total_cents * w_cents // sum_w, and the
    leftover R = total_cents - sum(floors) cents go one each to the R
    lines with the LARGEST integer remainder (ties by line number —
    deterministic).  Plan: one groupBy(orderkey) for per-order sums, one
    window per order for remainder ranks — both on the same key, ONE
    shuffle total (the window reuses the aggregation's partitioning).
    Scoped to o_orderkey % 10 = 0 to keep the driver compare bounded; the
    plan is scoped-filter-then-allocate and scales in the filter.

    Output: (o_orderkey, l_linenumber, alloc_cents) with
    sum(alloc_cents) per order == round(o_totalprice * 100)."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 == 0)
    li = load(spark, sf_dir, "lineitem")
    w_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    lines = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        w_cents.alias("w_cents"),
    )
    totals = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    per_order = lines.groupBy("o_orderkey").agg(
        F.sum("w_cents").alias("sum_w")
    )
    base = (
        lines.join(per_order, "o_orderkey")
        .join(totals, "o_orderkey")
        .withColumn("num", F.col("total_cents") * F.col("w_cents"))
        .withColumn("floor_share", (F.col("num") - F.col("num") % F.col("sum_w")) / F.col("sum_w"))
        .withColumn("floor_share", F.col("floor_share").cast("long"))
        .withColumn("rem", F.col("num") % F.col("sum_w"))
    )
    # l_linenumber is NOT unique per order in this corpus (generator
    # artifact), so the remainder rank also orders by w_cents: rows that
    # still tie are bit-identical (same floor share, same remainder), and
    # whichever of them takes the +1 cent yields the same output MULTISET
    # — deterministic across engines without a unique line key.
    worder = Window.partitionBy("o_orderkey")
    rank_w = Window.partitionBy("o_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber").asc(), F.col("w_cents").asc()
    )
    return (
        base.withColumn(
            "leftover", F.col("total_cents") - F.sum("floor_share").over(worder)
        )
        .withColumn("rk", F.row_number().over(rank_w))
        .select(
            "o_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            (
                F.col("floor_share")
                + F.when(F.col("rk") <= F.col("leftover"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("alloc_cents"),
        )
    )


def orders_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period RATE/MIX variance decomposition of average order
    value by market segment (1995 vs 1996): the BI bridge that answers
    "did revenue-per-order move because segments got better, or because
    the segment MIX shifted?".

    Closed form: with per-segment share w_ps = n_ps / N_p and rate
    r_ps = revenue_ps / n_ps, the overall delta R2 - R1 decomposes as
    sum_s[w2(r2 - r1)] (rate effect) + sum_s[(w2 - w1) r1] (mix effect)
    — exact, no residual term, because R_p = sum_s w_ps * r_ps.

    Cross-engine float discipline: revenue sums are CENTS (BIGINT, exact
    and order-free); shares and rates are single deterministic divisions
    of those integers; effects are products/differences of 6-dp-rounded
    operands so the final rounding cannot sit on a libm boundary.  Plan:
    orders joined to the customer-segment dim (narrow columns, no hint —
    customer-count-sized semi-fact, AQE decides),
    ONE groupBy (segment, year), then a 10-row self-pivot — the decades-of
    -data version aggregates per (segment, period) first and the
    decomposition never touches the fact table again."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per = (
        orders.where(F.year("o_orderdate").isin(1995, 1996))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
        )
    )
    tot = per.groupBy("yr").agg(F.sum("n").alias("n_tot"))
    shaped = (
        per.join(tot, "yr")
        .withColumn("share", F.round(F.col("n") / F.col("n_tot"), 6))
        .withColumn("rate", F.round(F.col("cents") / F.col("n") / 100.0, 6))
    )
    p1 = shaped.where(F.col("yr") == 1995).select(
        "segment",
        F.col("n").alias("n_1995"),
        F.col("share").alias("share_1995"),
        F.col("rate").alias("rate_1995"),
    )
    p2 = shaped.where(F.col("yr") == 1996).select(
        "segment",
        F.col("n").alias("n_1996"),
        F.col("share").alias("share_1996"),
        F.col("rate").alias("rate_1996"),
    )
    return (
        p1.join(p2, "segment", "full")
        .select(
            "segment",
            "n_1995",
            "n_1996",
            "share_1995",
            "share_1996",
            "rate_1995",
            "rate_1996",
            F.round(
                F.col("share_1996") * (F.col("rate_1996") - F.col("rate_1995")),
                6,
            ).alias("rate_effect"),
            F.round(
                (F.col("share_1996") - F.col("share_1995")) * F.col("rate_1995"),
                6,
            ).alias("mix_effect"),
        )
    )


def users_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve over user activity
    lifetimes — THE churn/retention estimator that handles censoring
    correctly (a user still active at the end of the observation window
    is censored, not churned; naive retention curves conflate the two).

    Per user: lifetime = last-event day - first-event day; censored if
    the last event falls within 3 days of the corpus max day.  At each
    distinct event time d: deaths(d) = uncensored lifetimes == d,
    at_risk(d) = lifetimes >= d (deaths AND censored — censoring removes
    from risk AFTER d), factor = 1 - deaths/at_risk, and
    S(d) = prod_{d' <= d} factor(d').

    The cumulative product is the float hazard: a groupBy product is
    order-free only in exact arithmetic.  Both engines instead fold the
    SAME 6-dp-quantized factors in the SAME ascending-duration order
    (array slice + ordered reduce over the duration-level table, <= ~30
    rows here and bounded by distinct durations everywhere), so the
    whole curve is deterministic IEEE.  The event stream collapses to a
    per-user aggregate, then to a duration-level aggregate; nothing
    quadratic ever touches event rows — the slice-fold is O(D^2) on the
    DURATION table only.

    Output: (duration_days, n_at_risk, n_churned, n_censored, survival)."""
    ev = load(spark, sf_dir, "events")
    corpus_max = ev.agg(F.max(F.to_date("ts")).alias("max_day"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
        .crossJoin(F.broadcast(corpus_max))
        .select(
            F.datediff("last_day", "first_day").cast("long").alias("duration"),
            (F.datediff("max_day", "last_day") < 3).alias("censored"),
        )
    )
    durs = users.groupBy("duration").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("n_churned"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("n_censored"),
    )
    # at_risk(d) = all users with duration >= d: suffix sum over the tiny
    # duration-level frame via a single-partition window (duration-level
    # cardinality is bounded by the observation span, not the corpus)
    w_at_risk = (
        Window.orderBy(F.col("duration").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at_risk = durs.withColumn(
        "n_at_risk", F.sum(F.col("n_churned") + F.col("n_censored")).over(w_at_risk)
    ).withColumn(
        "factor",
        F.round(
            F.lit(1.0) - F.col("n_churned") / F.col("n_at_risk"), 6
        ),
    )
    # ordered fold of the quantized factors: collect the duration-level
    # rows once, then for each duration multiply the factors of all
    # durations <= it in ascending order — identical fold on both engines
    folded = (
        at_risk.groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("duration", "factor"))
            ).alias("fs")
        )
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("fs")),
                    lambda i: F.struct(
                        F.get(F.col("fs"), i - 1)["duration"].alias("duration"),
                        F.aggregate(
                            F.slice("fs", F.lit(1), i),
                            F.lit(1.0),
                            lambda acc, s: acc * s["factor"],
                        ).alias("surv_raw"),
                    ),
                )
            ).alias("s")
        )
        .select(
            F.col("s.duration").alias("duration"),
            F.round(F.col("s.surv_raw"), 6).alias("survival"),
        )
    )
    return (
        at_risk.join(folded, "duration")
        .select(
            F.col("duration").alias("duration_days"),
            "n_at_risk",
            "n_churned",
            "n_censored",
            "survival",
        )
    )


def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes between DAILY aggregates — up to ~29% outlier contamination
    tolerance where OLS (events_linear_trend) breaks on one bad day.

    The pair space is deliberately built on the DAY-level aggregate, so
    the quadratic is bounded by observation days squared per type (~900
    pairs/type here; a year is ~66k) — never event rows.  Day totals are
    exact integer cents; each pairwise slope is one deterministic double
    division; the median of an odd/even set is the standard midpoint,
    identical on both engines.  Output: (event_type, n_days, n_pairs,
    theilsen_slope) — slope in value-cents per day, 6 dp."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
    ).withColumn("epoch_d", F.datediff(F.col("d"), F.lit("2024-01-01")).cast("long"))
    a = daily.select(
        "event_type",
        F.col("epoch_d").alias("d_a"),
        F.col("cents").alias("c_a"),
    )
    b = daily.select(
        "event_type",
        F.col("epoch_d").alias("d_b"),
        F.col("cents").alias("c_b"),
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("d_a") < F.col("d_b"))
        .select(
            "event_type",
            (
                (F.col("c_b") - F.col("c_a")) / (F.col("d_b") - F.col("d_a"))
            ).alias("slope"),
        )
    )
    # median computed EXPLICITLY from the sorted slope array with one
    # shared formula (odd -> middle element, even -> (lo + hi) / 2) —
    # built-in percentile/quantile_cont interpolation formulas are
    # engine-specific at the last ulp, the hand-rolled midpoint is not
    sorted_slopes = F.array_sort(F.collect_list("slope"))
    n = F.size(sorted_slopes)
    lo = F.get(sorted_slopes, F.floor((n - 1) / 2).cast("int"))
    hi = F.get(sorted_slopes, F.floor(n / 2).cast("int"))
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round((lo + hi) / 2.0, 6).alias("theilsen_slope"),
        )
        .join(
            daily.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_days")
            ),
            "event_type",
        )
        .select("event_type", "n_days", "n_pairs", "theilsen_slope")
    )


def parts_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by lineitem revenue,
    classified A while cumulative share <= 80%, B to 95%, C after — the
    classic Pareto stratification every supply-chain mart publishes.

    Revenue sums and the running total are exact integer CENTS, so the
    cumulative share is a single deterministic division and class
    boundaries cannot wobble on float summation order.  The running sum
    over the PART-level aggregate runs through
    :func:`two_phase_prefix_sum`: parts land
    in ~40 log2-magnitude revenue buckets (order-preserving in the
    descending revenue order; equal revenues share a bucket so the
    partkey tiebreak never straddles buckets), per-bucket sums
    prefix-fold over the BUCKET table only, and the row-level window is
    partitioned by bucket — no single-task window over the catalog, and
    the fact table never sees a window at all.

    Output: (l_partkey, revenue_cents, cum_share, abc_class)."""
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("revenue_cents")
    )
    total = per_part.agg(
        F.sum("revenue_cents").alias("total_cents")
    )
    cum = two_phase_prefix_sum(
        per_part,
        F.floor(F.log2(F.col("revenue_cents") + 1)).cast("long"),
        [F.col("revenue_cents").desc(), F.col("l_partkey")],
        "revenue_cents",
        out="cum_cents",
        descending=True,
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "revenue_cents",
            F.round(F.col("cum_cents") / F.col("total_cents"), 6).alias(
                "cum_share"
            ),
            F.when(
                F.col("cum_cents") / F.col("total_cents") <= 0.80, "A"
            )
            .when(F.col("cum_cents") / F.col("total_cents") <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def cdc_incremental_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance certification: a per-user aggregate
    maintained by FOLDING a delta batch into a previously materialized
    base (full outer merge of partial states) must equal the full
    recompute — the algebraic property that lets a 100 TB rollup absorb a
    daily increment without rescanning history, certified per key the
    same way agg_partial_merge certifies map-side combine.

    Base = events before Jan 26; delta = the rest.  count/sum(cents)
    partial states merge by addition; the comparison column is computed
    per user and hashed by the driver, so one broken key flips the row.

    Output: (user_id, n_events, value_cents, maintained_matches)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cut = "2024-01-26"

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").alias("c"),
        )

    base = agg(ev.where(F.col("ts") < cut)).select(
        "user_id", F.col("n").alias("n_base"), F.col("c").alias("c_base")
    )
    delta = agg(ev.where(F.col("ts") >= cut)).select(
        "user_id", F.col("n").alias("n_delta"), F.col("c").alias("c_delta")
    )
    maintained = (
        base.join(delta, "user_id", "full")
        .select(
            "user_id",
            (
                F.coalesce("n_base", F.lit(0)) + F.coalesce("n_delta", F.lit(0))
            ).alias("n_m"),
            (
                F.coalesce("c_base", F.lit(0)) + F.coalesce("c_delta", F.lit(0))
            ).alias("c_m"),
        )
    )
    full = agg(ev).select(
        "user_id", F.col("n").alias("n_events"), F.col("c").alias("value_cents")
    )
    return (
        full.join(maintained, "user_id", "full")
        .select(
            "user_id",
            "n_events",
            "value_cents",
            (
                (F.col("n_events") == F.col("n_m"))
                & (F.col("value_cents") == F.col("c_m"))
            ).alias("maintained_matches"),
        )
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    trading nations per direction and ship year — supplier in one
    nation, customer in the other, 1995-1996 shipments.

    Join-order story: nation (2 rows after the IN filter) broadcasts to
    both supplier and customer; supplier is broadcast-hinted (always
    tiny), customer is NOT (the Q5/Q10 semi-fact lesson — AQE decides);
    lineitem ⋈ orders is the one real shuffle.  The ship-date filter
    pushes into the lineitem scan.  Revenue is the exact decimal sum."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation").where(
        F.col("n_nationkey").isin(1, 2)
    )
    supp_n = supplier.join(
        F.broadcast(nation.select(F.col("n_nationkey"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_n = customer.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            )
        ),
        F.col("c_nationkey") == F.col("cn_key"),
    ).select("c_custkey", "cust_nation")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 SQL PIPE SYNTAX (|>): the Q6-shaped revenue rollup
    written as a linear dataflow — FROM |> WHERE |> EXTEND |> AGGREGATE
    |> ORDER BY — the readability surface SQL:2023-adjacent engines
    (BigQuery pipe syntax, PRQL) converge on.  Catalyst compiles it to
    the IDENTICAL plan as the nested-SELECT form (the oracle is that
    form), so the feature is pure syntax: same pushdown, same partial
    aggregation, decimal-exact revenue."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_pipe_v")
    return spark.sql(
        """
        FROM lineitem_pipe_v
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                 AND l_shipdate < TIMESTAMP '1996-01-01'
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE
               CAST(ROUND(SUM(CAST(disc_price AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
           GROUP BY l_returnflag
        """
    ).select("l_returnflag", "revenue", F.col("n_rows").cast("long").alias("n_rows"))


def scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 COLLATION support: join dirty-cased priority strings to a
    canonical dimension on UTF8_LCASE equality — the real use of
    collations (case-insensitive keys WITHOUT lower() rewrites scattered
    through every predicate; the collation is type-level, so Catalyst
    still hashes/joins natively).  Case is deliberately mangled
    per-row first; the oracle lowers both sides explicitly.
    Output: (priority, n_orders) per canonical priority."""
    orders = load(spark, sf_dir, "orders")
    mangled = orders.select(
        F.when(
            F.col("o_orderkey") % 2 == 0, F.upper("o_orderpriority")
        )
        .otherwise(F.lower("o_orderpriority"))
        .alias("pri")
    )
    dim = (
        orders.select(F.lower("o_orderpriority").alias("priority"))
        .distinct()
    )
    return (
        mangled.join(
            F.broadcast(dim),
            F.expr("pri COLLATE UTF8_LCASE = priority COLLATE UTF8_LCASE"),
        )
        .groupBy("priority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


def agg_listagg_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.0 aggregate-surface corners in one query: listagg WITHIN
    GROUP (ORDER BY ...) — the SQL:2016 ordered string aggregation that
    replaces collect_list+array_join — plus count_if and bool_or over
    the same scan.  Active days are pre-distincted per type so listagg
    aggregates a bounded day-level frame, and the WITHIN GROUP order
    makes the concatenation engine-deterministic.
    Output: (event_type, n_high, any_over_400, active_days)."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("count_if(value > 100)").cast("long").alias("n_high"),
        F.expr("bool_or(value > 400)").alias("any_over_400"),
    )
    days = (
        ev.select("event_type", F.to_date("ts").cast("string").alias("d"))
        .distinct()
        .groupBy("event_type")
        .agg(
            F.expr("listagg(d, ',') WITHIN GROUP (ORDER BY d)").alias(
                "active_days"
            )
        )
    )
    return per_type.join(days, "event_type").select(
        "event_type", "n_high", "any_over_400", "active_days"
    )


def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, seconds from the FIRST view to the first
    purchase at-or-after it — the activation-latency metric growth teams
    watch.  Two keyed aggregations (first view; first qualifying
    purchase) joined on user_id; at 100 TB both are map-side-combined
    single shuffles on the same key and the join is co-partitioned.
    Non-converters drop out (inner semantics).  The delta is exact
    integer microseconds; output seconds at 6 dp."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("fv_us"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("p_us"))
        .join(fv, "user_id")
        .where(F.col("p_us") >= F.col("fv_us"))
        .groupBy("user_id")
        .agg(
            F.min("p_us").alias("fp_us"),
            F.min("fv_us").alias("fv_us"),
        )
    )
    return fp.select(
        "user_id",
        F.round((F.col("fp_us") - F.col("fv_us")) / 1_000_000.0, 6).alias(
            "convert_s"
        ),
    )


def events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: forecast each (event type,
    day-of-week, hour) cell of the final week from the mean of the same
    cell over the training weeks, then score WAPE per type — the
    baseline every demand-forecasting pipeline must beat, plus the
    backtest harness shape (train cutoff, seasonal key join, error
    rollup) that evaluating any better model needs.

    Deterministic throughout: cell loads are integer cents; the
    per-cell forecast is round(train_sum / n_train_days_for_that_dow)
    back to integer cents; absolute errors are integer; WAPE is one
    exact integer division.  Day-of-week is (days since 2024-01-01) % 7
    — portable integer arithmetic, no engine dow() convention.

    Output: (event_type, n_cells, total_actual_cents,
    total_abs_err_cents, wape)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("hr"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).withColumn(
        "dow", (F.datediff(F.col("d"), F.lit("2024-01-01")) % 7).cast("int")
    )
    cut = F.lit("2024-01-24").cast("date")
    train = ev.where(F.col("d") < cut)
    test = ev.where(F.col("d") >= cut)
    n_dow = (
        train.select("d", "dow")
        .distinct()
        .groupBy("dow")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    tr_cell = train.groupBy("event_type", "dow", "hr").agg(
        F.sum("cents").alias("train_cents")
    )
    te_cell = test.groupBy("event_type", "dow", "hr").agg(
        F.sum("cents").alias("actual_cents")
    )
    cells = (
        te_cell.join(tr_cell, ["event_type", "dow", "hr"], "left")
        .join(F.broadcast(n_dow), "dow")
        .select(
            "event_type",
            "actual_cents",
            F.round(
                F.coalesce("train_cents", F.lit(0)) / F.col("n_days")
            )
            .cast("long")
            .alias("forecast_cents"),
        )
    )
    return cells.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("actual_cents").alias("total_actual_cents"),
        F.sum(F.abs(F.col("actual_cents") - F.col("forecast_cents")))
        .alias("total_abs_err_cents"),
        F.round(
            F.sum(F.abs(F.col("actual_cents") - F.col("forecast_cents")))
            / F.sum("actual_cents"),
            6,
        ).alias("wape"),
    )


def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN of the last 5 values per user — robust windowed
    smoothing where a rolling mean chases outliers.  No engine exposes a
    deterministic exact windowed median, so the frame's values are
    collected and sorted per row (ROWS 4 PRECEDING, bounded state) and
    the midpoint is computed with the shared odd/even formula — the same
    engine-exact median discipline as events_theilsen_trend, applied
    inside a window frame.  One shuffle (user key), one sorted pass.

    Output: (event_id, user_id, rolling_median)."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.get(arr, F.floor((n - 1) / 2).cast("int"))
    hi = F.get(arr, F.floor(n / 2).cast("int"))
    return ev.select(
        "event_id",
        "user_id",
        F.round((lo + hi) / 2.0, 6).alias("rolling_median"),
    )


def orders_totals_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way financial reconciliation: the order header total vs the sum
    of its lineitem extended prices, classified EXACT / WITHIN_1PCT /
    MISMATCH / NO_LINES — the audit control every billing mart runs
    between a header feed and a detail feed.  (On THIS corpus the two
    disagree wholesale — found while building the penny allocator — which
    is precisely what a reconciliation report exists to surface.)

    All comparisons in integer cents; the 1% band is integer arithmetic
    (|drift| * 100 <= total) so no float boundary exists.  One fact
    aggregation + one broadcast-size header join per class row.

    Output: (recon_class, n_orders, total_header_cents,
    total_detail_cents, total_abs_drift_cents)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    header = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
    )
    detail = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "detail_cents"
        )
    )
    drift = F.abs(F.col("header_cents") - F.coalesce("detail_cents", F.lit(0)))
    cls = (
        F.when(F.col("detail_cents").isNull(), "NO_LINES")
        .when(drift == 0, "EXACT")
        .when(drift * 100 <= F.col("header_cents"), "WITHIN_1PCT")
        .otherwise("MISMATCH")
    )
    return (
        header.join(detail, "o_orderkey", "left")
        .select(
            cls.alias("recon_class"),
            "header_cents",
            F.coalesce("detail_cents", F.lit(0)).alias("detail_cents"),
            drift.alias("drift"),
        )
        .groupBy("recon_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("header_cents").alias("total_header_cents"),
            F.sum("detail_cents").alias("total_detail_cents"),
            F.sum("drift").alias("total_abs_drift_cents"),
        )
    )


def users_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the retention/
    gamification metric — via the gaps-and-islands date-minus-row_number
    trick over DISTINCT active days: day - rn is constant within a
    consecutive run, so streaks fall out of one groupBy with no self-join
    and no sequence generation.  Events collapse to distinct (user, day)
    first, so the window touches days, never events.

    Output: (user_id, n_active_days, longest_streak, n_streaks)."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


def orders_same_day_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-day repeat-order screen: every (customer, day) that placed
    MORE than one order — the double-submit / split-shipment review
    queue an order-intake audit feeds to ops.  (An exact-amount
    duplicate-invoice screen was evaluated first and dropped: this
    corpus's totals are uniform doubles with ZERO identical-cent
    collisions at any scale, so that query certified nothing.)

    One map-side-combined aggregation on (customer, day) + HAVING —
    integer cents, min/max order keys as the review pointers, and the
    amount spread (max-min) to separate split shipments (similar
    amounts) from unrelated same-day orders.

    Output: (o_custkey, d, n_orders, total_cents, spread_cents,
    first_orderkey, last_orderkey)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        orders.groupBy("o_custkey", "d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
            (F.max("cents") - F.min("cents")).alias("spread_cents"),
            F.min("o_orderkey").alias("first_orderkey"),
            F.max("o_orderkey").alias("last_orderkey"),
        )
        .where(F.col("n_orders") > 1)
    )


def part_prefix_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-as-you-type PREFIX INDEX build: for every 2-6 character
    prefix of every part-name word, the top-3 parts by lineitem revenue —
    the offline artifact an autocomplete service serves from.  Prefix
    explosion is bounded (<= 5 prefixes per word), revenue is the exact
    integer-cent aggregate joined once, and per-prefix top-k is a
    rank-window over the prefix-keyed frame (WindowGroupLimit pushes the
    cut before the shuffle materializes the full lists).

    Output: (prefix, rank, l_partkey, revenue_cents)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    words = part.select(
        F.col("p_partkey").alias("l_partkey"),
        F.explode(F.split(F.lower("p_name"), " ")).alias("w"),
    ).where(F.length("w") >= 2)
    prefixes = words.select(
        "l_partkey",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.least(F.length("w"), F.lit(6))),
                lambda i: F.col("w").substr(F.lit(1), i),
            )
        ).alias("prefix"),
    ).distinct()
    scored = prefixes.join(rev, "l_partkey")
    w_rank = Window.partitionBy("prefix").orderBy(
        F.col("revenue_cents").desc(), F.col("l_partkey")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 3)
        .select(
            "prefix",
            F.col("rank").cast("long").alias("rank"),
            "l_partkey",
            "revenue_cents",
        )
    )


def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot / automation screen from inter-arrival-time REGULARITY: humans
    are bursty (high IAT coefficient of variation), schedulers are
    metronomic (low CV) — the first-line abuse heuristic every event
    pipeline runs.  Per user: IATs from one lag over the keyed sorted
    pass (exact integer microseconds), then population variance from the
    exact sufficient statistics with the sum of squares carried as
    DECIMAL(38,0) (an hour-scale IAT squared overflows BIGINT), so CV is
    two deterministic conversions and a sqrt.  The median IAT comes from
    the same hand-rolled sorted-array midpoint as events_theilsen_trend.

    Times stay in MICROSECONDS on purpose: the midpoint of two integer
    micros is an exact binary half (emitted unrounded), and a /1e6
    seconds conversion put a median exactly on a decimal .5e-6 boundary
    where Spark (shortest-repr HALF_UP) and DuckDB (binary floor+0.5)
    round apart — found by the hash gate.

    Output: (user_id, n_iat, median_iat_us, mean_iat_us, iat_cv,
    is_regular)."""
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    iat = (
        ev.select("user_id", us.alias("t"), "event_id")
        .withColumn("iat", F.col("t") - F.lag("t").over(w))
        .where(F.col("iat").isNotNull())
    )
    sorted_iats = F.array_sort(F.collect_list("iat"))
    n = F.size(sorted_iats)
    lo = F.get(sorted_iats, F.floor((n - 1) / 2).cast("int"))
    hi = F.get(sorted_iats, F.floor(n / 2).cast("int"))
    stats = iat.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_iat"),
        F.sum("iat").alias("s1"),
        F.sum(F.col("iat").cast("decimal(38,0)") * F.col("iat")).alias("s2"),
        ((lo + hi) / 2.0).alias("med_us"),
    )
    mean_us = F.col("s1") / F.col("n_iat")
    var_us = F.col("s2").cast("double") / F.col("n_iat") - mean_us * mean_us
    cv = F.sqrt(F.greatest(var_us, F.lit(0.0))) / mean_us
    return stats.select(
        "user_id",
        "n_iat",
        F.col("med_us").alias("median_iat_us"),
        # no round: s1/n is one correctly-rounded IEEE division, identical
        # on both engines, while ROUND(x, 6) at 1e10 magnitude asks for
        # digits beyond double precision and diverges per engine
        mean_us.alias("mean_iat_us"),
        F.round(cv, 6).alias("iat_cv"),
        (cv < 0.5).alias("is_regular"),
    )


def inventory_fifo_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO cost-layer matching — the classic 'hard problem in SQL'
    (inventory costing, lot tracking, payment application) solved as an
    INTERVAL INTERSECTION of cumulative-quantity ranges: per part,
    receipts (F-status lines in ship order) and issues (O-status lines)
    each carry a [cum_prev, cum) integer interval on the part's quantity
    axis, and FIFO allocation IS exactly the pairwise overlap of those
    intervals — no iteration, no recursion, no per-layer loop.

    Plan: two windows share one part-keyed shuffle; the match join is
    per-part and bounded by lines-per-part (<= ~49 here, catalog-bounded
    in general), with the overlap condition rc0 < ic1 AND ic0 < rc1 as
    the join predicate — a true range join, but within a part's tiny
    group.  Pure integer quantities throughout.

    Output: (l_partkey, receipt_order, receipt_line, issue_order,
    issue_line, qty_allocated)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.to_date("l_shipdate").alias("sd"),
    )

    def cum(df: DataFrame, tag: str) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("sd", "l_orderkey", "l_linenumber", "qty")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.select(
            "l_partkey",
            F.col("l_orderkey").alias(f"{tag}_order"),
            F.col("l_linenumber").cast("long").alias(f"{tag}_line"),
            F.sum("qty").over(w).alias(f"{tag}_c1"),
            (F.sum("qty").over(w) - F.col("qty")).alias(f"{tag}_c0"),
        )

    receipts = cum(li.where(F.col("l_linestatus") == "F"), "receipt")
    issues = cum(li.where(F.col("l_linestatus") == "O"), "issue")
    overlap = F.least("receipt_c1", "issue_c1") - F.greatest(
        "receipt_c0", "issue_c0"
    )
    return (
        receipts.join(issues, "l_partkey")
        .where(
            (F.col("receipt_c0") < F.col("issue_c1"))
            & (F.col("issue_c0") < F.col("receipt_c1"))
        )
        .select(
            "l_partkey",
            "receipt_order",
            "receipt_line",
            "issue_order",
            "issue_line",
            overlap.alias("qty_allocated"),
        )
    )


def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for an A/B readout (Deng et al. 2013):
    users hash-split into arms, week-1 spend is the pre-period covariate,
    and the adjusted post-period means use theta = cov(pre, post)/var(pre)
    estimated POOLED — the standard experiment-analysis step that cuts
    metric variance 30-50% without bias.  (The synthetic split has no
    true effect; the certified artifact is the HARNESS arithmetic.)

    Everything reduces to exact integer sufficient statistics (cent
    sums, cross products — magnitudes bounded well under 2^63), so theta
    and both adjusted means are closed-form doubles computed identically
    on both engines.  One corpus aggregation per user, one tiny rollup.

    Output: (arm, n_users, mean_post, mean_pre, cuped_mean_post)."""
    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("ts") < F.lit("2024-01-08"),
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("pre"),
            F.sum(
                F.when(
                    F.col("ts") >= F.lit("2024-01-08"),
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("post"),
        )
        .withColumn(
            "arm",
            F.when(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "A",
            ).otherwise("B"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(F.col("pre") * F.col("post")).alias("sxy"),
        F.sum(F.col("pre") * F.col("pre")).alias("sxx"),
    )
    theta = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    x_bar = F.col("sx") / F.col("n")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre").alias("gx"),
        F.sum("post").alias("gy"),
    )
    return (
        arms.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            "n_users",
            F.round(F.col("gy") / F.col("n_users") / 100.0, 6).alias(
                "mean_post"
            ),
            F.round(F.col("gx") / F.col("n_users") / 100.0, 6).alias(
                "mean_pre"
            ),
            F.round(
                (
                    F.col("gy") / F.col("n_users")
                    - theta * (F.col("gx") / F.col("n_users") - x_bar)
                )
                / 100.0,
                6,
            ).alias("cuped_mean_post"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders placed in one
    quarter with at least one LATE lineitem, counted per priority.  The
    dataset has no commit/receipt dates, so "late" is shipped more than
    60 days after the order date — same correlated-EXISTS semantics.

    Scale shape: the EXISTS decorrelates to a LEFT SEMI join on
    l_orderkey, so each order is tested once against a key-partitioned
    lineitem stream — never a per-row subquery.  The quarter filter
    prunes the orders scan before the join; the semi join's output is
    at most the filtered orders, so the final groupBy aggregates a
    quarter's orders over 5 priority groups.  Ref semantics: the
    reference computes one ungrouped aggregate over a date column
    (main.py:228-230); this is the grouped, join-qualified extension."""
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the percentage of one month's
    discounted revenue that came from PROMO-type parts — a conditional
    aggregate over a fact-to-dimension join, returning ONE row.

    Scale shape: the month filter pushes into the lineitem scan (the
    fact side shrinks ~1/80 before any join); part joins by partkey with
    NO forced broadcast — part is 1/30 of lineitem but still scales with
    SF (the Q5/Q10 semi-fact lesson), so AQE picks broadcast at test SF
    and shuffle at warehouse SF.  Both sums are exact DECIMAL(18,6)
    (order-free), divided once at the end; only the ratio is rounded."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("pr"),
            F.sum(rev).alias("tr"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .select(
            F.round(
                F.lit(100.0) * F.col("pr").cast("double")
                / F.col("tr").cast("double"),
                6,
            ).alias("promo_revenue_pct"),
            F.round(F.col("tr"), 2).cast("double").alias("total_revenue"),
            "n_lineitems",
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    revenue from lineitem x part pairs matching ANY of three (brand,
    size-range, quantity-range) branches — the canonical OR-of-ANDs
    plan-quality test.  A naive engine evaluates the disjunction after
    a full join; a good plan pushes the per-side conjuncts derivable
    from the OR (quantity <= 36, size <= 15 here) into the SCANS and
    keeps the join on the pure partkey equi-condition.

    Spark's Catalyst extracts exactly those common filters; the
    remaining mixed-side disjunction rides the join condition.  One row
    out: exact decimal revenue + matched-pair count."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#4") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#16") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#19") & s.between(1, 15) & q.between(20, 36))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(part, (F.col("l_partkey") == F.col("p_partkey")) & branch)
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )


def q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balances and NO RECENT orders (none since
    2000-01-01 — every customer in this corpus has ordered at least
    once, so Q22's literal never-ordered predicate is empty), counted
    and summed per country code (derived c_nationkey % 5 — the schema
    has no phone column).

    Scale shape: the scalar AVG subquery is one tiny ungrouped
    aggregate broadcast into the filter; the NOT EXISTS decorrelates to
    a LEFT ANTI join of the (already balance-filtered) customer slice
    against the date-pruned orders scan on custkey.  Nothing quadratic:
    one scan of each table, one key shuffle for the anti join.  The
    average is computed from exact integer cents (sum long / count) so
    the comparison threshold is the identical double on both engines;
    balance cents are summed exactly and divided once for display."""
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    pos_cents = F.round(F.col("c_acctbal") * 100).cast("long")
    avg_bal = (
        customer.where(F.col("c_acctbal") > 0)
        .select(pos_cents.alias("cents"))
        .agg(
            (
                F.sum("cents").cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("avg_bal")
        )
    )
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    never_ordered = rich.join(
        orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        never_ordered.select(
            (F.col("c_nationkey") % 5).cast("long").alias("cntrycode"), cents.alias("cents")
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("cents") / 100.0, 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def customers_woe_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value feature screening — the
    credit-scoring standard for "does this feature separate the
    classes": bin the feature (acctbal quintiles), then per bin
    WOE = ln(share-of-goods / share-of-bads) and the IV contribution
    (share_g - share_b) * WOE.  Label: customer placed >= 1 URGENT
    order (every customer in this corpus has ordered, so plain
    has-ordered is degenerate; urgency splits ~85/15 in every bin).

    Scale shape: labels come from ONE anti-join-free aggregation
    (left join orders pre-aggregated to distinct custkeys); the quintile
    assignment comes from the certified :func:`two_phase_global_rank`
    (not an NTILE(5) global window, which would be a dimension-sized
    single-task sort), so the customer
    table is ranked with full parallelism and only the ~11k-row
    floor(acctbal) bucket table sees an unpartitioned fold.  Tie-broken
    by custkey, so the quintile assignment is deterministic and
    engine-identical.  All shares are exact integer ratios; ln is
    applied once per bin (5 rows) and 6-dp rounded."""
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    buyers = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("is_good", F.lit(1))
    )
    labeled = customer.join(buyers, "c_custkey", "left").select(
        "c_custkey",
        "c_acctbal",
        F.coalesce(F.col("is_good"), F.lit(0)).alias("is_good"),
    )
    # Quintile assignment WITHOUT a single-task global ntile window:
    # the global ordinal comes from the
    # certified two_phase_global_rank (floor(acctbal) range buckets →
    # per-bucket counts → broadcast exclusive offsets → partitioned
    # in-bucket row_number), then bin = ((rank-1)*5) div n + 1 — the
    # even-spread quintile formula, computed identically in the DuckDB
    # oracle from a plain ROW_NUMBER.  (It equals NTILE(5) whenever
    # n % 5 == 0, which holds for every TPC-H customer table; for other
    # n it spreads the remainder evenly instead of front-loading it —
    # same equi-depth contract, deterministic on both engines.)
    n_total = labeled.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = two_phase_global_rank(
        labeled,
        F.floor(F.col("c_acctbal")).cast("long"),
        [F.col("c_acctbal"), F.col("c_custkey")],
    )
    binned = ranked.crossJoin(F.broadcast(n_total)).withColumn(
        "bin", F.expr("((global_rank - 1) * 5) div n_total + 1")
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_good").cast("long").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("is_good")).cast("long").alias("n_bad"),
        F.round(F.min("c_acctbal"), 2).alias("bin_lo"),
        F.round(F.max("c_acctbal"), 2).alias("bin_hi"),
    )
    tot = per_bin.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    woe = F.round(
        F.log(
            (F.col("n_good") * F.col("tb"))
            / (F.col("n_bad") * F.col("tg"))
        ),
        6,
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "bin_lo",
            "bin_hi",
            "n",
            "n_good",
            "n_bad",
            woe.alias("woe"),
            F.round(
                (
                    F.col("n_good") / F.col("tg")
                    - F.col("n_bad") / F.col("tb")
                )
                * woe,
                6,
            ).alias("iv_contrib"),
        )
        .orderBy("bin")
    )


def profile_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot reconciliation: find WHICH key ranges differ
    between two table snapshots by comparing hierarchical order-free
    bucket checksums, drilling into fine buckets ONLY under coarse
    buckets that mismatch — anti-entropy repair's localization step
    (Dynamo/Cassandra), expressed relationally.

    Snapshots are simulated from orders: B flips the status of keys
    ≡ 7 (mod 1000) and drops keys ≡ 13 (mod 1000).  Coarse buckets are
    orderkey div 2048, fine div 256 (8 fine per coarse).  A bucket's
    checksum is the commutative (count, sum-mod) fold of per-row md5
    ints — the profile_table_checksum discipline, so it is scan-order
    free on both engines.

    Scale shape: two scans (one per snapshot) x two grouped aggregates,
    all map-side-combinable; the fine level is computed only for rows
    whose coarse bucket mismatched, via an inner join against the
    (tiny, mismatches-only) coarse diff — the data-proportional cost is
    ~rows-in-damaged-ranges, exactly the Merkle promise.  Output: one
    row per differing FINE range with both sides' counts."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    snap_a = orders
    snap_b = orders.where(F.col("o_orderkey") % 1000 != 13).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 1000 == 7, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    mod = F.lit(2305843009213693951)

    def buckets(df: DataFrame, level_div: int, bucket_col: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_orderstatus"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select(
                (F.col("o_orderkey") / level_div)
                .cast("long")
                .alias(bucket_col),
                h.alias("h"),
            )
            .groupBy(bucket_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.pmod(F.sum("h"), mod).cast("long").alias("chk"),
            )
        )

    coarse_a = buckets(snap_a, 2048, "coarse")
    coarse_b = buckets(snap_b, 2048, "coarse")
    coarse_diff = (
        coarse_a.alias("a")
        .join(coarse_b.alias("b"), "coarse", "full")
        .where(
            ~(F.col("a.chk").eqNullSafe(F.col("b.chk")))
            | ~(F.col("a.n").eqNullSafe(F.col("b.n")))
        )
        .select("coarse")
    )
    damaged = F.broadcast(coarse_diff)
    fine_a = buckets(
        snap_a.join(
            damaged, (F.col("o_orderkey") / 2048).cast("long") == F.col("coarse")
        ),
        256,
        "fine",
    )
    fine_b = buckets(
        snap_b.join(
            damaged, (F.col("o_orderkey") / 2048).cast("long") == F.col("coarse")
        ),
        256,
        "fine",
    )
    return (
        fine_a.alias("a")
        .join(fine_b.alias("b"), "fine", "full")
        .where(
            ~(F.col("a.chk").eqNullSafe(F.col("b.chk")))
            | ~(F.col("a.n").eqNullSafe(F.col("b.n")))
        )
        .select(
            (F.col("fine") * 256).alias("range_start"),
            ((F.col("fine") + 1) * 256 - 1).alias("range_end"),
            F.coalesce(F.col("a.n"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("b.n"), F.lit(0)).cast("long").alias("n_b"),
        )
        .orderBy("range_start")
    )


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling (the multilingual pretraining
    recipe, mC4/XLM-R style): sampling probability q_i ∝ p_i^alpha where
    p_i is a source's natural token share — alpha = 0.3 < 1 flattens the mix,
    upweighting tail sources without drowning the head.  Complements
    sample_token_budget_mix (which CUTS to a budget) by producing the
    closed-form DISTRIBUTION a weighted sampler would draw from.

    Scale shape: one token-count aggregation per source (map-side
    combinable), then everything runs on the sources-sized frame (tiny
    by definition) with the two global scalars riding broadcast 1-row
    joins.  Float discipline: p_i from exact integer token ratios;
    p^alpha is 9-dp quantized to DECIMAL before the normalizing sum
    (exact, order-free — a raw double sum over sources would be
    partition-order-dependent); final shares round 6-dp."""
    from simple_land_registry_data_ingestion_spark.functions.text import token_count_col

    docs = load(spark, sf_dir, "documents").select(
        "source", token_count_col("text").alias("n_tokens")
    )
    per_src = docs.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = per_src.agg(F.sum("tokens").cast("double").alias("tot"))
    weighted = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("p", F.col("tokens") / F.col("tot"))
        .withColumn(
            "q_raw",
            F.round(F.pow(F.col("p"), F.lit(0.3)), 9).cast(
                "decimal(18,9)"
            ),
        )
    )
    z = weighted.agg(F.sum("q_raw").cast("double").alias("z"))
    return (
        weighted.crossJoin(F.broadcast(z))
        .select(
            "source",
            "tokens",
            "n_docs",
            F.round(F.col("p"), 6).alias("natural_share"),
            F.round(F.col("q_raw").cast("double") / F.col("z"), 6).alias(
                "alpha_share"
            ),
            F.round(
                (F.col("q_raw").cast("double") / F.col("z")) / F.col("p"), 6
            ).alias("upsample_factor"),
        )
        .orderBy("source")
    )


def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINNED interval join — the technique that makes point-in-interval
    joins scale when NEITHER side is broadcastable (Databricks' range
    join optimization, implemented manually): intervals are exploded
    into the fixed-width BINS they cover, points carry their single
    bin, and the join becomes an EQUI-join on bin plus a residual exact
    containment filter.  Cost drops from |points| x |intervals| (the
    broadcast-nested-loop join_range_nonequi uses, only sane for a tiny
    side) to |points| + sum of interval spans — data-proportional.

    Here: 90-minute "maintenance windows" anchored at every 17th hour
    observed in the stream, matched against every event timestamp.
    Each window covers exactly 2 one-hour bins, so the expansion factor
    is bounded by ceil(span/bin)+1 — the knob to size bins with.  Exact
    integer microseconds end to end; no floats anywhere."""
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn("bin", F.expr("us div 3600000000"))
    )
    windows = (
        ev.select(F.col("bin").alias("h"))
        .distinct()
        .where(F.col("h") % 17 == 0)
        .select(
            F.col("h"),
            (F.col("h") * 3600000000).alias("start_us"),
            (F.col("h") * 3600000000 + 5400000000).alias("end_us"),
        )
    )
    expanded = windows.select(
        "h",
        "start_us",
        "end_us",
        F.explode(F.sequence(F.col("h"), F.col("h") + 1)).alias("bin"),
    )
    return (
        ev.join(expanded, "bin")
        .where((F.col("us") >= F.col("start_us")) & (F.col("us") < F.col("end_us")))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .select(
            F.timestamp_micros(F.col("h") * 3600000000)
            .cast("timestamp_ntz")
            .alias("window_start"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN session_window aggregate in batch mode — Spark's
    native merging-interval operator (each event opens [ts, ts+gap);
    overlapping intervals merge), complementing the hand-rolled
    lag/cumsum sessionize_events: same session boundaries (a gap of
    exactly 30 minutes starts a NEW session on both paths), but
    expressed as ONE aggregation the engine merges internally — no
    window function, no running sum, and the same operator runs
    unchanged as a streaming query.

    Scale shape: one keyed shuffle on (user_id) with in-partition
    interval merging — the merge is sort-based within each key group,
    never quadratic.  Output: one row per session with its span and
    exact integer-cent value total."""
    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.groupBy(
            F.session_window(
                F.col("ts").cast("timestamp"), "30 minutes"
            ).alias("sw"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def agg_transpose_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): flip a per-type metrics summary so
    METRICS become rows and event types become columns — the
    report-layout pivot that previously needed collect + pandas.  The
    transposed schema derives from the index column's VALUES, so this is
    only sane after an aggregation has reduced the frame to a known,
    bounded key set (5 event types here); the transpose itself is a
    driver-side relayout of an already-tiny frame — the heavy lifting
    (the groupBy) stays distributed.

    Metrics are exact integers (counts / distinct users / integer
    cents), so the transposed LONG columns are engine-identical."""
    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    summary = (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(cents).cast("long").alias("value_cents"),
        )
        .orderBy("event_type")
    )
    return summary.transpose("event_type")


def sql_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL through the SQL frontend (Spark 3.4 /
    4.0 surface): every non-aggregate select item becomes a grouping
    key, then the full select list orders the result — the exploratory
    shorthand that removes the classic copy-the-select-list failure
    mode.  Resolves to the identical Aggregate + Sort plan as the
    explicit form (same one keyed shuffle), which the DuckDB twin
    certifies with explicit GROUP BY."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_ga")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_ga")
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders_ga o JOIN customer_ga c ON o.o_custkey = c.c_custkey
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources
# ---------------------------------------------------------------------------

def events_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of ``value`` across event types — the
    cross-source score-calibration step (microarray normalization,
    genomics; equally the recipe for making heterogeneous quality scores
    comparable across crawl sources before a global quality cut): each
    value is replaced by the GLOBAL value at the same within-type rank
    position, so every type ends up with an identical distribution.

    Exact-rank formulation: within-type rank r of n_t (deterministic
    (value, event_id) order) maps to global index 1 + (r-1)(N-1) div
    (n_t-1) — the product runs in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) because (r-1)*(N-1) exceeds BIGINT once N passes ~3e9 rows
    and Spark would WRAP silently; ``div`` on the wide type returns the
    exact BIGINT quotient (quotient <= N always fits).  min/max per
    cell are parquet doubles PICKED, not computed, so both engines hash
    identically.

    Scale: the within-type window and the grouped rollup are one keyed
    shuffle each.  The global value order comes from the TWO-PHASE global
    rank (per-bucket counts → broadcast prefix offsets → partitioned
    window; the events_global_rank_two_phase machinery, certified against
    a plain ROW_NUMBER and measured at 10x-slope 1.40 vs 3.31 for the
    single-task window) — no single-partition step anywhere.

    Output: (event_type, decile, n_rows, min_norm, max_norm), 5x10 rows.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    n_total = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        F.row_number().over(wt).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .cast("long").alias("nt"),
    ).crossJoin(F.broadcast(n_total))
    gv = two_phase_global_rank(
        ev.select("value", "event_id"),
        F.floor(F.col("value")).cast("long"),
        ["value", "event_id"],
        out="g",
    ).select("value", "g")
    mapped = ranked.where(F.col("nt") > 1).select(
        "event_type",
        "n",
        F.expr(
            "1 + (CAST(r - 1 AS DECIMAL(38,0)) * (n - 1)) div (nt - 1)"
        ).alias("tgt"),
    )
    norm = mapped.join(gv, mapped.tgt == gv.g)
    return (
        norm.select(
            "event_type",
            F.least(F.lit(9), F.expr("((tgt - 1) * 10) div n"))
            .cast("long").alias("decile"),
            F.col("value").alias("nv"),
        )
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("nv").alias("min_norm"),
            F.max("nv").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Grid-binned spatial join
# ---------------------------------------------------------------------------

def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid binning — the 2-D extension of
    join_range_binned and the standard distributed-geospatial technique
    (Sedona/GeoMesa grid partitioning): points land in radius-sized square
    cells, each probe point expands to its 3x3 cell neighborhood, candidates
    form by CELL EQUI-JOIN, and an exact distance predicate keeps true
    neighbors.  |A| x |B| becomes |A| + 9|B| + output — neither side is
    broadcast or sorted, so the shape survives two 100 TB point sets.

    Coordinates are synthesized deterministically from the keys into an
    integer micro-degree plane (same multiply-mod expressions on both
    engines), and the radius predicate is SQUARED EUCLIDEAN in BIGINT —
    no doubles anywhere, so the hash gate certifies candidate completeness
    against the oracle's direct theta join (3x3 neighborhood covers every
    pair within the radius by construction: axis offsets beyond one cell
    exceed the cell width).

    Output: (s_suppkey, n_within, min_dist2) for suppliers with >= 1
    customer inside the radius.
    """
    radius = 25_000
    r2 = radius * radius
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 1000003) * 2654435761 % 1000000).alias("cx"),
        ((F.col("c_custkey") * 40503 + 77) % 1000000).alias("cy"),
    ).select(
        "c_custkey", "cx", "cy",
        F.expr("cx div " + str(radius)).alias("gx"),
        F.expr("cy div " + str(radius)).alias("gy"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 97911 + 123) % 1000000).alias("sx"),
        ((F.col("s_suppkey") * 31337 + 456) % 1000000).alias("sy"),
    )
    probe = supp.select(
        "s_suppkey", "sx", "sy",
        F.explode(F.array([F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
    ).select(
        "s_suppkey", "sx", "sy", "dx",
        F.explode(F.array([F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
    ).select(
        "s_suppkey", "sx", "sy",
        (F.expr("sx div " + str(radius)) + F.col("dx")).alias("gx"),
        (F.expr("sy div " + str(radius)) + F.col("dy")).alias("gy"),
    )
    dist2 = (
        (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
        + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
    )
    pairs = probe.join(cust, ["gx", "gy"]).where(dist2 <= F.lit(r2))
    return pairs.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_within"),
        F.min(dist2.cast("long")).alias("min_dist2"),
    )


# ---------------------------------------------------------------------------
# TPC-H shapes wave 3: Q8 / Q13 / Q15 / Q17 / Q18 / Q21
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): of the revenue from PROMO
    parts sold to ASIA-region customers in 1995-1996, the share supplied
    by NATION_3, per order year — the deepest star join in the registry
    (lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈ supplier
    ⋈ nation).

    Scale shape: the date filter prunes orders BEFORE the fact join;
    the p_type filter prunes part; region⋈nation collapses to a 5-row
    broadcast filter on the customer side; supplier⋈nation broadcasts
    (supplier is always the smallest dim — the q7 rule); customer and
    part carry NO hint (the Q5/Q10 semi-fact lesson — they scale with
    SF, AQE decides).  Numerator and denominator are exact DECIMAL sums
    conditioned on the same rows, divided once as doubles.

    Ref semantics: grouped share-of-total extension of the reference's
    single ungrouped aggregate (main.py:228-230)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("an_key"))
    cust_asia = customer.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("an_key")
    ).select("c_custkey")
    supp_n = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(vol), 2).cast("double").alias("total_volume"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed 0, 1, 2, … qualifying orders — THE left-outer-join
    + double-aggregation shape (customers with zero orders must appear,
    so an inner join is wrong by construction).  The original excludes
    comment-matched orders; this dataset has no o_comment, so the stand-in
    predicate excludes '4-NOT SPECIFIED' priorities — same decorrelation.

    Scale shape: the orders filter prunes before the join; the LEFT join
    shuffles on custkey once; the first aggregate rides that same
    partitioning (no second exchange — groupBy key == join key); the
    second aggregate reduces |customers| rows to ~40 count groups, a
    trivial shuffle.  COUNT(o_orderkey) (not COUNT(*)) keeps the
    zero-order customers at 0."""
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with maximum
    quarterly revenue — a scalar MAX subquery over a derived aggregate,
    answered WITHOUT ranking the whole table.

    Scale shape: one shuffle builds the per-supplier revenue aggregate
    from the date-pruned lineitem scan; the ungrouped MAX of that
    aggregate is a 1-row frame that broadcasts back as an equality
    filter (never a sort); the supplier name join is a broadcast.  The
    equality compares the EXACT decimal sums — no epsilon, no rounding,
    so ties (multiple max suppliers) are handled exactly as the SQL
    subquery form does.  Rounding to 2dp happens only on output."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).alias("total_rev")
        )
    )
    max_rev = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(max_rev), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("s_suppkey"),
            "s_name",
            F.round(F.col("total_rev"), 2).cast("double").alias("total_revenue"),
        )
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): yearly revenue
    lost if orders below 20% of a part's average quantity were not
    filled, for one brand's small parts — THE correlated-aggregate
    decorrelation: avg(l_quantity) per part becomes a groupBy + re-join
    instead of a per-row subquery.

    Scale shape: the part filter (brand + size) prunes FIRST and
    semi-joins the fact scan, so the per-part average aggregates only
    the qualifying parts' lineitems (never all parts); the average
    re-joins on the same partkey partitioning.  l_quantity is integral
    (1..50 stored as double), so SUM/COUNT — and therefore AVG and the
    0.2x threshold — are float-EXACT and engine-identical; revenue is
    an exact DECIMAL sum divided by 7.0 once at the end."""
    part_f = load(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").join(
        F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("small_qty")
    )
    return (
        li.join(per_part, F.col("l_partkey") == F.col("a_partkey"))
        .where(F.col("l_quantity") < F.col("small_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.lit(7.0),
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 200, with their customer — the group-by-HAVING-IN
    shape, decorrelated to aggregate-then-join.

    Scale shape: the qualifying-order aggregate is ONE shuffle on
    l_orderkey with the HAVING applied at the aggregate (874 of 15k
    orders survive at sf0.01 — the join input shrinks ~17x before
    touching orders/customer); orders joins the survivors on orderkey,
    customer joins with no hint (semi-fact).  SUM(l_quantity) over
    integral doubles is exact, so the >200 cut and the output value are
    engine-identical.  Top-100 by (o_totalprice DESC, o_orderkey) plans
    TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bok"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("bok") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for finalized
    multi-supplier orders, the ASIA-region suppliers whose line was the
    ONLY one returned — the EXISTS + NOT-EXISTS double correlation.  The
    dataset has no receipt/commit dates, so "kept waiting" is
    l_returnflag = 'R' (same two correlated predicates: another supplier
    participated; no other supplier's line was returned).

    Scale shape: both correlated subqueries decorrelate to LEFT SEMI /
    LEFT ANTI joins on l_orderkey — the SAME shuffle key three times, so
    AQE coalesces into one exchange lineage; orders' status filter
    semi-joins the fact scan first; the region-filtered supplier side is
    a broadcast.  Per-row counting (not DISTINCT) matches the SQL
    semantics exactly."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    fin = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    nation = load(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(fin, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    other = li.select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_returnflag").alias("x_returnflag"),
    )
    waited = l1.join(
        other,
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_semi",
    ).join(
        other.where(F.col("x_returnflag") == "R"),
        (F.col("l_orderkey") == F.col("x_orderkey"))
        & (F.col("l_suppkey") != F.col("x_suppkey")),
        "left_anti",
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at lags
    1/2/3/6/12/24 — the first thing a forecaster computes (is there
    daily seasonality? how fast does correlation decay?), feeding
    directly into the seasonal-naive backtest (events_forecast_snaive).

    The series is CALENDAR-COMPLETE: a generated hour spine between the
    observed min and max left-joins the counts with 0-fill, so silent
    gaps do not splice non-adjacent hours together.  Pearson r comes
    from the textbook integer-sum identity — n, Σx, Σy, Σxy, Σx², Σy²
    are all BIGINT (counts of events, exact on any engine); the ONE
    double expression (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²)·√(n·Σy²−Σy²)) is
    written identically on both engines and rounded 6dp.

    Scale shape: the hourly aggregate reduces the raw stream to
    |hours| rows — after that everything (spine, 6-lag self-join,
    per-lag sums) is tiny regardless of corpus size; the only full-data
    shuffle is the first count-by-hour."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    cnt = ev.groupBy("hr").agg(F.count(F.lit(1)).alias("c"))
    bounds = cnt.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    ser = spine.join(cnt, "hr", "left_outer").select(
        "hr", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    lags = spark.createDataFrame(
        [(lag,) for lag in (1, 2, 3, 6, 12, 24)], "lag long"
    )
    lagged = ser.select(
        F.col("hr").alias("hr_y"), F.col("c").alias("y")
    )
    pairs = (
        ser.crossJoin(F.broadcast(lags))
        .withColumn("hr_y", F.col("hr") + F.col("lag") * F.expr("INTERVAL 1 HOUR"))
        .join(lagged, ["hr_y"])
        .select("lag", F.col("c").alias("x"), "y")
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select("lag", "n_pairs", F.round(num / den, 6).alias("acf"))


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value per
    event type — THE distributed bootstrap (each replicate reweights
    every row by an independent Poisson(1) draw, so resampling needs no
    global row index and runs in ONE pass; the classic resample-by-index
    bootstrap is undistributable at 100 TB because it needs n draws WITH
    replacement from a global address space).

    Determinism: the Poisson(1) draw for (row, replicate b) comes from a
    hash of (event_id, b) reduced mod 1000 and inverted through the
    integer-threshold CDF (368/736/920/981/996 ~ cumulative Poisson(1)
    pmf) — the same arithmetic on both engines, no RNG.  Replicate means
    are exact-decimal sums over 2dp values divided once; the CI bounds
    are ORDER STATISTICS of the 32 replicate means (2nd and 31st — the
    2.5/97.5 percentile ranks for B=32), picked by a window over the
    replicate key, so no float interpolation enters the hash.

    Scale shape: explode x32 happens AT THE SCAN (map-side), the only
    shuffle is the (event_type, rep) groupBy — map-side combined to
    5 x 32 partial rows; the order-statistic window runs on 160 rows."""
    n_reps = 32
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
    )
    u = (
        ((F.col("event_id") % 1000003) * 2654435761 + F.col("b") * 97911 + 13) % 1000
    )
    # integer-threshold inverse CDF of Poisson(1) on the 0..999 hash
    w = (
        F.when(u < 368, 0)
        .when(u < 736, 1)
        .when(u < 920, 2)
        .when(u < 981, 3)
        .when(u < 996, 4)
        .otherwise(5)
        .cast("long")
    )
    exploded = ev.select(
        "event_type", "v",
        F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("b"),
        F.col("event_id"),
    ).select("event_type", "v", "b", w.alias("w"))
    reps = exploded.groupBy("event_type", "b").agg(
        (F.sum(F.col("w") * F.col("v")).cast("double")
         / F.sum("w").cast("double")).alias("mean_b")
    )
    w_ord = Window.partitionBy("event_type").orderBy("mean_b")
    stats = (
        reps.withColumn("rk", F.row_number().over(w_ord))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk") == 2, F.col("mean_b"))).alias("lo"),
            F.max(
                F.when(F.col("rk") == n_reps - 1, F.col("mean_b"))
            ).alias("hi"),
        )
    )
    point = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("pm"),
    )
    return point.join(stats, "event_type").select(
        "event_type",
        "n",
        F.round(F.col("pm"), 6).alias("point_mean"),
        F.round(F.col("lo"), 6).alias("ci_lo"),
        F.round(F.col("hi"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling for contrastive pairs
# ---------------------------------------------------------------------------

def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for contrastive training pairs — the step that
    turns an interaction log into (anchor, positive, negative) triples:
    for every observed (customer, part) purchase pair, generate 2
    deterministic candidate parts by hash, then ANTI-JOIN the positives
    so no accidental positive survives (rejection step).  The same
    recipe samples hard negatives for embedding training at corpus
    scale.

    Plan at scale: candidate generation is SCAN-STAGE
    arithmetic (hash mod |catalog| — no sampling state, no RNG service)
    applied to the RAW interaction rows, not to a pre-deduped positives
    frame: the generated value depends only on (custkey, j, partkey), so
    duplicate interactions emit duplicate candidates that the single
    (custkey, part) aggregate collapses anyway.  Positives and candidates
    flow as ONE tagged stream from a single generate (j = -1 emits the
    positive, j in [0, 2) the candidates — the interaction join scans
    once, not once per stream), and the whole rejection logic is
    TWO stacked aggregations on ONE custkey hash partitioning:
    groupBy(custkey, part) folds duplicates and marks each cell
    has_pos / has_cand, and groupBy(custkey) counts n_pos, n_cand, and
    n_neg = cells with has_cand and not has_pos — the anti-join is a
    boolean on the grouped cell, not a join.  Hash partitioning by
    custkey satisfies the (custkey, part) clustering, so the second
    aggregate and the final projection run exchange-free: the query is
    ONE order-join shuffle plus ONE custkey repartition of the tagged
    union, instead of distinct + eager checkpoint + candidate distinct +
    rejection join + two aggregate exchanges + final join (driver floor
    3.31 s that way; the checkpoint alone rewrote the positives frame to
    cache every run).  The traded-away map-side partial
    aggregation is cheap here: an interaction repeats per (customer,
    part) only a handful of times.  The part-count scalar rides a 1-row
    broadcast.  No step touches |customers| x |catalog|.

    Output per customer: n_pos, n_cand (distinct generated), n_neg
    (survivors) — the collision rate n_cand - n_neg certifies the
    rejection step numerically."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n_parts = load(spark, sf_dir, "part").agg(
        (F.max("p_partkey") + 1).cast("long").alias("np")
    )
    raw = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_partkey").alias("partkey"),
    )
    # one generate per interaction row covers BOTH streams: j = -1 is the
    # positive itself, j in [0, 2) the hash candidates — the join output
    # scans once instead of once per stream
    tagged = (
        raw.crossJoin(F.broadcast(n_parts))
        .select(
            "custkey",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("j"),
            "partkey",
            "np",
        )
        .select(
            "custkey",
            F.when(
                F.col("j") < 0, F.col("partkey")
            ).otherwise(
                (
                    ((F.col("custkey") % 1000003) * 2654435761
                     + F.col("j") * 40503
                     + F.col("partkey") * 97911
                     + 7) % F.col("np")
                )
            ).cast("long").alias("part"),
            (F.col("j") < 0).alias("is_pos"),
        )
    )
    cells = (
        tagged.repartition(F.col("custkey"))
        .groupBy("custkey", "part")
        .agg(
            F.max("is_pos").alias("has_pos"),
            F.max(~F.col("is_pos")).alias("has_cand"),
        )
    )
    return cells.groupBy("custkey").agg(
        F.sum(F.col("has_pos").cast("int")).cast("long").alias("n_pos"),
        F.sum(F.col("has_cand").cast("int")).cast("long").alias("n_cand"),
        F.sum((F.col("has_cand") & ~F.col("has_pos")).cast("int"))
        .cast("long")
        .alias("n_neg"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit
# ---------------------------------------------------------------------------

def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across every FK edge of the schema — the
    data-contract check an ingestion pipeline runs before publishing a
    snapshot (the relational counterpart of the expectations suite): for
    each edge, count child rows whose key has no parent.

    Plan at scale: each edge is ONE left-outer probe join (parent keys
    are primary keys, so the join never fans out) counting rows and
    null-parent rows in the SAME aggregate — the child scans once, and
    the small dimensions broadcast under AQE's threshold with no forced
    hint (the Q5/Q10 lesson: orders is a parent here and must stay
    shuffle-joinable).  The per-edge results are 1-row aggregates
    unioned at the end (8 rows total).

    Output: (fk_name, n_rows, n_orphans, orphan_ppm) with exact
    parts-per-million as BIGINT (no float ratio in the hash)."""
    def edge(name, child, ckey, parent, pkey):
        c = load(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = load(spark, sf_dir, parent).select(
            F.col(pkey).alias("k"), F.lit(1).alias("hit")
        )
        return c.join(p, "k", "left").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            F.lit(name).alias("fk_name"),
            "n_rows",
            "n_orphans",
            F.expr("(n_orphans * 1000000) div n_rows").alias("orphan_ppm"),
        )

    edges = [
        edge("lineitem.orderkey->orders", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
        edge("lineitem.partkey->part", "lineitem", "l_partkey",
             "part", "p_partkey"),
        edge("lineitem.suppkey->supplier", "lineitem", "l_suppkey",
             "supplier", "s_suppkey"),
        edge("orders.custkey->customer", "orders", "o_custkey",
             "customer", "c_custkey"),
        edge("customer.nationkey->nation", "customer", "c_nationkey",
             "nation", "n_nationkey"),
        edge("supplier.nationkey->nation", "supplier", "s_nationkey",
             "nation", "n_nationkey"),
        edge("nation.regionkey->region", "nation", "n_regionkey",
             "region", "r_regionkey"),
        edge("events.user_id->customer", "events", "user_id",
             "customer", "c_custkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out


# ---------------------------------------------------------------------------
# Two-phase distributed global rank
# ---------------------------------------------------------------------------

def two_phase_global_rank(
    df: DataFrame,
    bucket,
    order: list,
    *,
    mode: str = "row_number",
    out: str = "global_rank",
    descending: bool = False,
) -> DataFrame:
    """Attach an exact GLOBAL rank column without the single-task global
    window — the reusable two-phase machinery certified by
    events_global_rank_two_phase and wired into every global-rank consumer
    (quantile normalize, rank-sum AUC, Qini deciles).

    ``bucket`` must be an order-preserving function of the FIRST order
    column (e.g. ``F.floor(value)``; at 100 TB the bucket bounds come from
    approx_quantile range sampling — same contract).  Phase 1 aggregates
    per-bucket counts (tiny) and prefix-sums them into exclusive offsets
    over the BUCKET TABLE only; phase 2 ranks within each bucket by a
    PARTITIONED window and adds the broadcast offset.  ``mode='rank'``
    yields the global min-rank for ties (ties cannot straddle buckets
    because the bucket is a function of the ordering value).
    ``descending=True`` ranks highest-first (bucket offsets accumulate in
    descending bucket order; ``order`` must already be the descending
    expressions).

    NULL order keys are supported: the bucket join is
    null-safe (``<=>`` is a legal hash-join key, so the broadcast plan is
    unchanged), and a NULL bucket sorts the same way NULLs sort in the
    in-bucket window (asc = nulls first, desc = nulls last — Spark's
    defaults for both windows and ``<=>`` grouping), so ranks stay exact
    when the bucket expression maps NULL order values to a NULL bucket."""
    if mode not in ("row_number", "rank"):
        raise ValueError(f"two_phase_global_rank: unknown mode {mode!r}")
    b = df.withColumn("__b", bucket)
    counts = b.groupBy("__b").agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    border = F.col("__b").desc() if descending else F.col("__b").asc()
    offsets = counts.select(
        F.col("__b").alias("__ob"),
        (
            F.sum("__cnt").over(
                Window.orderBy(border).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("__cnt")
        ).cast("long").alias("__off"),
    )
    w = Window.partitionBy("__b").orderBy(*order)
    fn = F.row_number() if mode == "row_number" else F.rank()
    return (
        b.join(F.broadcast(offsets), F.col("__b").eqNullSafe(F.col("__ob")))
        .withColumn(out, fn.over(w).cast("long") + F.col("__off"))
        .drop("__b", "__ob", "__off")
    )


def two_phase_prefix_sum(
    df: DataFrame,
    bucket,
    order: list,
    value: str,
    *,
    out: str = "cum_sum",
    descending: bool = False,
) -> DataFrame:
    """Attach an exact GLOBAL running sum of ``value`` (inclusive, in the
    order given) without a single-task global window — the prefix-sum
    sibling of :func:`two_phase_global_rank`, generalizing the two-level
    scan ``packing.global_token_offsets`` uses for sequence packing.

    ``bucket`` must be an order-preserving function of the FIRST order
    column (for ``descending=True``: non-increasing as the order column
    decreases, e.g. ``F.floor(F.log2(v + 1))`` over a positive value — at
    100 TB the bucket bounds come from approx_quantile range sampling,
    same contract as the rank helper).  Phase 1 sums ``value`` per bucket
    (tiny aggregate) and prefix-sums those into exclusive offsets over
    the BUCKET TABLE only; phase 2 runs the running sum within each
    bucket by a PARTITIONED window and adds the broadcast offset.  Ties
    in the order columns cannot straddle buckets because the bucket is a
    function of the leading order value."""
    b = df.withColumn("__b", bucket)
    shard = b.groupBy("__b").agg(F.sum(value).cast("long").alias("__s"))
    border = F.col("__b").desc() if descending else F.col("__b").asc()
    offsets = shard.select(
        F.col("__b").alias("__ob"),
        (
            F.sum("__s").over(
                Window.orderBy(border).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("__s")
        ).cast("long").alias("__off"),
    )
    w = Window.partitionBy("__b").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        b.join(F.broadcast(offsets), F.col("__b").eqNullSafe(F.col("__ob")))
        .withColumn(out, F.sum(value).over(w).cast("long") + F.col("__off"))
        .drop("__b", "__ob", "__off")
    )


def events_global_rank_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-PHASE GLOBAL RANK — the upgrade path this repo's global
    window queries (quantile normalize, rank-sum AUC, range-sorted
    export) name for 100 TB, now implemented and certified: a global
    ``row_number() OVER (ORDER BY ...)`` forces one task; the two-phase
    form never does.

    Phase 1: each row lands in an ORDER-PRESERVING range bucket (here
    ``floor(value)`` — at scale the bucket bounds come from
    ``approx_quantile`` range sampling, same contract); per-bucket
    counts (a tiny aggregate) turn into exclusive prefix offsets with a
    window over the BUCKET TABLE (hundreds of rows, not the corpus).
    Phase 2: rank within each bucket by a PARTITIONED window, add the
    broadcast offset — global_rank == the single-task row_number, with
    full cluster parallelism; this is exactly how Spark's own
    SparkRangePartitioner + zipWithIndex pipelines derive global order.

    Certification: the oracle computes the SAME ranks with a plain
    global ROW_NUMBER and rolls both up per rank-decile — sum of ranks,
    min/max value per decile: any off-by-one anywhere shifts sum_rank
    and breaks the hash.

    Output contract: min_v/max_v leave the engine as DOUBLE —
    DECIMAL output columns proved environment-fragile on the driver
    (red with locally bit-exact values: a harness may render
    Decimal('5.20') vs float 5.2 differently), and decimal(18,2)→double
    is correctly rounded and engine-identical while the scaled integer
    stays under 2^53.  The decimal discipline stays INTERNAL.

    Output: (decile, n_rows, sum_rank, min_v, max_v), 10 rows."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
    )
    ranked = two_phase_global_rank(
        ev, F.floor(F.col("v")).cast("long"), ["v", "event_id"]
    ).select("v", "global_rank")
    n_total = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            F.expr("((global_rank - 1) * 10) div n").alias("decile"),
            "global_rank",
            "v",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("global_rank").cast("long").alias("sum_rank"),
            F.min("v").cast("double").alias("min_v"),
            F.max("v").cast("double").alias("max_v"),
        )
    )


# ---------------------------------------------------------------------------
# Exact weighted median
# ---------------------------------------------------------------------------

def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median unit price per return flag — the
    robust aggregate percentile_approx can't give exactly and plain
    median gets wrong whenever rows carry different weights (a 50-unit
    line should pull the median 50x harder than a 1-unit line).

    Definition (lower weighted median): the first value, in price
    order, whose INCLUSIVE cumulative weight reaches half the total —
    all-integer comparisons (2*cumw >= W, quantities are integral), so
    the pick is engine-exact with no interpolation.

    Plan at scale: one keyed window (partition by flag, order by price)
    for the running weight — the same shuffle the groupBy needs anyway
    — then the crossing row per group via a min-filter.  No global
    sort, no collect; at 100 TB this is the standard weighted-quantile
    shape (partition by group key, single pass).

    Output: (l_returnflag, total_qty, median_price, n_lines)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    cum = li.select(
        "l_returnflag",
        "q",
        "price",
        F.sum("q").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long").alias("cumw"),
        F.sum("q").over(Window.partitionBy("l_returnflag"))
        .cast("long")
        .alias("total_qty"),
        F.count(F.lit(1)).over(Window.partitionBy("l_returnflag"))
        .cast("long")
        .alias("n_lines"),
    )
    crossing = cum.where(2 * F.col("cumw") >= F.col("total_qty"))
    return (
        crossing.groupBy("l_returnflag")
        .agg(
            F.max("total_qty").alias("total_qty"),
            F.min("price").alias("median_price"),
            F.max("n_lines").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified allocation
# ---------------------------------------------------------------------------

def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a 1000-row sampling budget across strata —
    the survey-sampling answer to "how many rows should each stratum
    contribute": n_h ∝ N_h·S_h, so high-variance strata get
    proportionally more than their row share (versus the proportional
    allocation a naive stratified sampler uses).  This is the sizing
    step BEFORE the stratified/priority samplers this repo already has.

    Exactness: per-stratum moments Σv and Σv² are exact DECIMAL sums
    (v is 2dp, v² is 4dp); the sample variance, sigma, and the
    allocation ratio are single double expressions; the final floor()
    lands on identical doubles on both engines.

    Scale: one map-side-combined aggregate over the stratum key, then
    arithmetic on the 5-row stratum table against a broadcast 1-row
    total."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
    )
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    s_h = F.sqrt(
        (
            F.col("svv").cast("double")
            - F.col("sv").cast("double") * F.col("sv").cast("double")
            / F.col("n_h").cast("double")
        )
        / (F.col("n_h") - F.lit(1)).cast("double")
    )
    # quantize N_h*S_h to 6dp DECIMAL before totalling: the stratum total
    # is a sum of doubles otherwise, and float addition order differs
    # between engines
    weighted = per.select(
        "event_type", "n_h", "sv", "svv",
        F.round(F.col("n_h").cast("double") * s_h, 6)
        .cast("decimal(28,6)")
        .alias("nhsh"),
        F.round(s_h, 6).alias("s_h"),
    )
    tot = weighted.agg(F.sum("nhsh").alias("sum_nhsh"))
    return weighted.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        F.round(F.col("sv").cast("double") / F.col("n_h"), 6).alias("mean_v"),
        "s_h",
        F.floor(
            F.lit(1000.0)
            * F.col("nhsh").cast("double")
            / F.col("sum_nhsh").cast("double")
        ).cast("long").alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Binary-segmentation changepoint
# ---------------------------------------------------------------------------

def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection by binary segmentation (first
    split) on the hourly volume series per event type — the batch
    counterpart of the streaming CUSUM (X110): choose the split that
    minimizes total within-segment SSE, computed for EVERY candidate
    split from prefix sums (the O(n) scheme that makes binseg viable on
    long series; the naive per-split re-aggregation is O(n²)).

    SSE decomposes as (Σc² − (Σc)²/m) per segment; prefix sums Σc, Σc²
    are exact BIGINTs from one ordered window over the CALENDAR-BOUNDED
    hourly rollup, so every candidate's score is the same double on
    both engines; argmin tie-breaks on the earlier hour.

    Output per event_type: (n_hours, split_hr, sse_total, sse_split,
    gain) — gain = variance explained by the single break."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy("event_type")
    pref = hourly.select(
        "event_type",
        "hr",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("c").over(wcum).cast("long").alias("ps"),
        F.sum(F.col("c") * F.col("c")).over(wcum).cast("long").alias("pss"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("c").over(wall).cast("long").alias("ts_"),
        F.sum(F.col("c") * F.col("c")).over(wall).cast("long").alias("tss"),
    )
    cand = pref.where(F.col("t") < F.col("n"))
    sse_left = (
        F.col("pss").cast("double")
        - F.col("ps").cast("double") * F.col("ps").cast("double")
        / F.col("t").cast("double")
    )
    sse_right = (
        (F.col("tss") - F.col("pss")).cast("double")
        - (F.col("ts_") - F.col("ps")).cast("double")
        * (F.col("ts_") - F.col("ps")).cast("double")
        / (F.col("n") - F.col("t")).cast("double")
    )
    sse_total = (
        F.col("tss").cast("double")
        - F.col("ts_").cast("double") * F.col("ts_").cast("double")
        / F.col("n").cast("double")
    )
    scored = cand.select(
        "event_type", "hr", "n",
        sse_total.alias("sse_all"),
        (sse_left + sse_right).alias("sse_split"),
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("sse_split", "hr")
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("hr").alias("split_hr"),
        F.round(F.col("sse_all"), 6).alias("sse_total"),
        F.round(F.col("sse_split"), 6).alias("sse_split"),
        F.round(F.col("sse_all") - F.col("sse_split"), 6).alias("gain"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------

def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator — the workhorse quasi-
    experimental design when a feature launches for a cohort mid-period:
    DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre) nets out
    both the cohort's level difference and the common time trend.

    Treatment is a deterministic user-hash cohort, the launch boundary
    a fixed date literal (2024-01-16); the four cell means come from
    exact 2dp-decimal sums in ONE conditional aggregate (no per-cell
    scans), and the estimate is a single double expression over the
    eight exact inputs, rounded 6dp.

    Scale: one scan, one ungrouped map-side-combined aggregate — the
    2x2 design needs no shuffle wider than 8 numbers."""
    ev = load(spark, sf_dir, "events").select(
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
        (((F.col("user_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("treat"),
        (
            F.col("ts").cast("timestamp")
            >= F.lit("2024-01-16 00:00:00").cast("timestamp")
        ).alias("post"),
    )

    def cell(t: bool, p: bool, what: str):
        cond = (F.col("treat") == t) & (F.col("post") == p)
        if what == "n":
            return F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        return F.sum(F.when(cond, F.col("v")).otherwise(F.lit(0).cast("decimal(18,2)")))

    agg = ev.agg(
        cell(True, False, "n").alias("n_t_pre"),
        cell(True, True, "n").alias("n_t_post"),
        cell(False, False, "n").alias("n_c_pre"),
        cell(False, True, "n").alias("n_c_post"),
        cell(True, False, "s").alias("s_t_pre"),
        cell(True, True, "s").alias("s_t_post"),
        cell(False, False, "s").alias("s_c_pre"),
        cell(False, True, "s").alias("s_c_post"),
    )
    m = {
        k: F.col(f"s_{k}").cast("double") / F.col(f"n_{k}").cast("double")
        for k in ["t_pre", "t_post", "c_pre", "c_post"]
    }
    return agg.select(
        "n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        F.round(m["t_pre"], 6).alias("mean_t_pre"),
        F.round(m["t_post"], 6).alias("mean_t_post"),
        F.round(m["c_pre"], 6).alias("mean_c_pre"),
        F.round(m["c_post"], 6).alias("mean_c_post"),
        F.round(
            (m["t_post"] - m["t_pre"]) - (m["c_post"] - m["c_pre"]), 6
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent
# ---------------------------------------------------------------------------

def sales_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent across the region -> nation hierarchy — the
    analytic layer on top of ROLLUP that every OLAP drill-down shows
    (each node's % of its parent, not just its absolute value): nation
    rows divide by their region, region rows by the grand total.

    One ROLLUP aggregate produces all three levels in a single shuffle
    (exact 2dp-decimal revenue sums); the parent lookup is a WINDOW over
    the rollup result itself — parent revenue = the level-up row's value
    within the same region partition (grouping_id distinguishes levels),
    so no self-join re-aggregates anything.

    Output: (lvl, region, nation, revenue, pct_of_parent) — lvl 0 =
    grand total (pct 1.0), 1 = region, 2 = nation."""
    rev = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name", "n_regionkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                load(spark, sf_dir, "region").select("r_regionkey", "r_name")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.round(F.col("o_totalprice"), 2)
            .cast("decimal(18,2)")
            .alias("price"),
        )
    )
    rolled = rev.rollup("region", "nation").agg(
        F.sum("price").alias("revenue"),
        F.grouping_id().cast("long").alias("gid"),
    )
    # gid: 0 = (region, nation), 1 = (region, total), 3 = grand total
    total = Window.partitionBy(F.lit(1))
    region_w = Window.partitionBy("region")
    parent = (
        F.when(
            F.col("gid") == 0,
            F.max(F.when(F.col("gid") == 1, F.col("revenue"))).over(region_w),
        )
        .when(
            F.col("gid") == 1,
            F.max(F.when(F.col("gid") == 3, F.col("revenue"))).over(total),
        )
        .otherwise(F.col("revenue"))
    )
    return rolled.select(
        F.when(F.col("gid") == 3, 0)
        .when(F.col("gid") == 1, 1)
        .otherwise(2)
        .cast("long")
        .alias("lvl"),
        F.coalesce(F.col("region"), F.lit("ALL")).alias("region"),
        F.coalesce(F.col("nation"), F.lit("ALL")).alias("nation"),
        F.col("revenue").cast("double").alias("revenue"),
        F.round(
            F.col("revenue").cast("double") / parent.cast("double"), 6
        ).alias("pct_of_parent"),
    )


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth
# ---------------------------------------------------------------------------

def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — the corpus statistic that
    tells a tokenizer/vocab team how vocabulary scales with data
    (V ~ k·N^b): cumulative distinct terms vs cumulative tokens at each
    corpus-prefix decile, computed WITHOUT re-scanning per prefix.

    The trick is first-occurrence attribution: a term enters the
    vocabulary at its MINIMUM doc_id, so per-decile new-term counts are
    one groupBy(term) -> min(doc) -> groupBy(decile), and the cumulative
    curve is a 10-row running sum — versus the naive per-prefix distinct
    count, which scans the corpus 10 times and shuffles the full token
    table each pass.

    Output: (decile, n_tokens, cum_tokens, new_terms, cum_vocab) — all
    BIGINT, one corpus scan."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    )
    n_docs = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    tok_dec = (
        toks.crossJoin(F.broadcast(n_docs))
        .select(F.expr("(doc_id * 10) div nd").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_terms = (
        first.crossJoin(F.broadcast(n_docs))
        .select(F.expr("(first_doc * 10) div nd").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_terms"))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        tok_dec.join(new_terms, "decile", "left_outer")
        .select(
            "decile",
            "n_tokens",
            F.coalesce(F.col("new_terms"), F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "decile",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
        )
    )


# ---------------------------------------------------------------------------
# A/B test power analysis
# ---------------------------------------------------------------------------

def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-size calculation from observed variance — the planning
    step before every A/B test (and the missing sibling of the CUPED /
    DiD / A-ES analyzers already here): per event type, the n per arm
    needed to detect a 2% relative lift at alpha=0.05 / power=0.80 is

        n = 2 sigma^2 (z_{a/2} + z_b)^2 / delta^2

    with (z_{a/2}+z_b)^2 as the PINNED literal 7.848878512225001 (both
    engines read the same decimal text — computing the square at runtime
    could differ in the last ulp between pow implementations) and
    delta = 0.02 * mean.  Variance comes from exact decimal moments
    (Σv, Σv² over 2dp/4dp decimals), so the one double expression is
    engine-identical; n rounds UP (ceil on an identical double).

    Scale: one map-side-combined aggregate per type — the entire query
    moves 5 rows."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value"), 2).cast("decimal(18,2)").alias("v"),
    )
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    mean = F.col("sv").cast("double") / F.col("n_obs").cast("double")
    var = (
        F.col("svv").cast("double")
        - F.col("sv").cast("double") * F.col("sv").cast("double")
        / F.col("n_obs").cast("double")
    ) / (F.col("n_obs") - F.lit(1)).cast("double")
    z_sum_sq = F.lit(7.848878512225001)
    delta = F.lit(0.02) * mean
    n_required = F.ceil(F.lit(2.0) * var * z_sum_sq / (delta * delta))
    return per.select(
        "event_type",
        "n_obs",
        F.round(mean, 6).alias("mean_v"),
        F.round(var, 6).alias("var_v"),
        n_required.cast("long").alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# Fourier seasonal strength
# ---------------------------------------------------------------------------

#: Python-precomputed daily-phase trig table (phase = hour-of-day):
#: the SAME doubles are injected into the Spark plan and the DuckDB
#: oracle, so no engine-native trig enters the hash gate.
import math as _math

_FOURIER_COS = [_math.cos(2.0 * _math.pi * p / 24.0) for p in range(24)]
_FOURIER_SIN = [_math.sin(2.0 * _math.pi * p / 24.0) for p in range(24)]


def events_fourier_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral seasonality check — DFT power at the daily harmonic and
    its first two multiples over the hourly volume series, per event
    type: the frequency-domain complement to the lag-domain ACF (X153);
    dominant daily-period power is the signature of diurnal seasonality.

    The angle set is CALENDAR-based (phase = hour-of-day, period 24 h),
    so there are exactly 24 distinct angles per harmonic — and their
    cos/sin values come from a PYTHON-precomputed 24-row table that is
    injected verbatim into BOTH engines (a broadcast literal frame here,
    a VALUES list in the oracle).  Engine-native trig never runs:
    JVM Math.cos and libm cos can disagree in the last ulp, and with
    ~10k quantized product terms even 12dp rounding would flip
    boundaries; sharing the literal table removes the risk entirely.

    Per (type, harmonic): a = Σ c·cos_p, b = Σ c·sin_p with per-row
    products rounded 12dp into DECIMAL(28,12) (exact order-free sums),
    power = (a² + b²)/n as one double expression.

    Scale: hourly rollup (calendar-bounded) -> 3x explode -> broadcast
    phase-table join -> one (type, harmonic) aggregate."""
    phase_rows = [
        (p, _FOURIER_COS[p], _FOURIER_SIN[p]) for p in range(24)
    ]
    phases = F.broadcast(
        spark.createDataFrame(phase_rows, "phase long, cosv double, sinv double")
    )
    hourly = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fanned = hourly.select(
        "event_type",
        "c",
        F.hour(F.col("hr")).cast("long").alias("hod"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("m"),
    ).select(
        "event_type", "c", "m",
        ((F.col("hod") * F.col("m")) % 24).alias("phase"),
    )
    terms = fanned.join(phases, "phase").select(
        "event_type",
        "m",
        "c",
        F.round(F.col("c").cast("double") * F.col("cosv"), 12)
        .cast("decimal(28,12)")
        .alias("ac"),
        F.round(F.col("c").cast("double") * F.col("sinv"), 12)
        .cast("decimal(28,12)")
        .alias("bs"),
    )
    return (
        terms.groupBy("event_type", "m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("ac").alias("a_k"),
            F.sum("bs").alias("b_k"),
            F.sum("c").cast("long").alias("total_events"),
        )
        .select(
            "event_type",
            F.col("m").cast("long").alias("harmonic"),
            "n_hours",
            "total_events",
            F.round(
                (
                    F.col("a_k").cast("double") * F.col("a_k").cast("double")
                    + F.col("b_k").cast("double") * F.col("b_k").cast("double")
                )
                / F.col("n_hours").cast("double"),
                6,
            ).alias("power"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample distribution tests: KS, Mann-Whitney U, PSI drift
# ---------------------------------------------------------------------------

def events_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per event type between two
    deterministic user-hash cohorts — the distribution-level A/B check
    that catches shape changes mean-based tests miss (variance shifts,
    bimodality), and the standard drift gate between a reference and a
    candidate sample.

    Exact arithmetic end to end: with cohort sizes n_a, n_b, the KS
    statistic is max over distinct values v of
    |n_b*CumA(v) - n_a*CumB(v)| / (n_a*n_b) — the numerator is computed
    entirely in DECIMAL(38,0) (at 100 TB n ~ 1e12 and the cross product
    ~ 1e24 overflows BIGINT), so the argmax is over exact integers and
    both engines pick the identical maximizing value (ties broken by
    the smallest value).  Only the final single division is double.

    Scale: one scan with the cohort flag and 2-dp cents computed at the
    scan stage, one (type, cents) groupBy whose cardinality is bounded
    by the price grid (~50k cells/type regardless of row count), then
    windows over that SMALL distinct-value table partitioned per type —
    the raw corpus is never windowed.  Output: (event_type, n_a, n_b,
    ks_d 12dp, ks_at_value)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (((F.col("user_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("in_a"),
    )
    g = ev.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    d = (
        g.withColumn("cuma", F.sum("ca").over(w).cast("decimal(38,0)"))
        .withColumn("cumb", F.sum("cb").over(w).cast("decimal(38,0)"))
        .withColumn("n_a", F.sum("ca").over(wp).cast("decimal(38,0)"))
        .withColumn("n_b", F.sum("cb").over(wp).cast("decimal(38,0)"))
        .withColumn(
            "diff",
            F.abs(F.col("n_b") * F.col("cuma") - F.col("n_a") * F.col("cumb")),
        )
        .withColumn("max_diff", F.max("diff").over(wp))
    )
    return (
        d.where(F.col("diff") == F.col("max_diff"))
        .groupBy("event_type")
        .agg(
            F.first(F.col("n_a").cast("long")).alias("n_a"),
            F.first(F.col("n_b").cast("long")).alias("n_b"),
            F.round(
                F.first("max_diff").cast("double")
                / (F.first("n_a") * F.first("n_b")).cast("double"),
                12,
            ).alias("ks_d"),
            F.round(F.min("cents").cast("double") / 100.0, 2).alias("ks_at_value"),
        )
    )


def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per event type between the same
    hash cohorts as events_ks_test — the nonparametric location test
    (and its effect size U/(n_a*n_b), the probability a random A value
    exceeds a random B value, i.e. the AUC of the cohort label).

    Tie-exact integer construction: values collapse to 2-dp cents
    groups; for a group with ca+cb = t members whose preceding
    cumulative count is c, the DOUBLED midrank 2c + t + 1 is an
    integer, so the doubled rank-sum R2 = sum(ca * (2c + t + 1)) and
    the doubled U statistic u2 = R2 - n_a*(n_a+1) are exact
    DECIMAL(38,0) on both engines.  The tie-corrected normal z uses
    sum(t^3 - t) (exact) in the variance; only z itself is double
    (rounded 6dp) via the identical formula in both engines.

    Scale: identical shape to the KS plan — grouped distinct-value
    table, per-type windows over it, map-side-combined moments.  The
    midrank trick means NO global rank over raw rows is ever needed."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (((F.col("user_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("in_a"),
    )
    g = ev.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("ca"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = F.col("ca") + F.col("cb")
    d = g.withColumn("cum_prev", F.coalesce(F.sum(t).over(w), F.lit(0)).cast("long"))
    m = d.groupBy("event_type").agg(
        F.sum("ca").cast("decimal(38,0)").alias("n_a"),
        F.sum("cb").cast("decimal(38,0)").alias("n_b"),
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("cum_prev") + t + 1).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("r2"),
        F.sum(
            t.cast("decimal(38,0)") * t.cast("decimal(38,0)") * t.cast("decimal(38,0)")
            - t.cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("tie3"),
    )
    n_tot = (F.col("n_a") + F.col("n_b")).cast("double")
    u2 = (F.col("r2") - F.col("n_a") * (F.col("n_a") + 1)).cast("double")
    var4 = (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        / F.lit(3.0)
        * (
            (n_tot + 1)
            - F.col("tie3").cast("double") / (n_tot * (n_tot - 1))
        )
    )
    return m.select(
        "event_type",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        # BIGINT at the output boundary (integer-valued DECIMAL(38,0)
        # proved driver-fragile: a harness rendering it as float
        # hashes '1031924.0' vs the Decimal's '1031924')
        (F.col("r2") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("u1_x2"),
        F.round(
            (u2 - F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            / F.sqrt(var4),
            6,
        ).alias("z_score"),
        F.round(
            u2
            / (2.0 * F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            12,
        ).alias("auc_effect"),
    )


def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between a reference
    period (before 2024-01-16) and the current period — the standard
    model-monitoring drift score (PSI < 0.1 stable, 0.1-0.25 watch,
    > 0.25 shifted), here over value-decile bins whose edges are PICKED
    order statistics of the reference sample (rank ceil(i*n/10), no
    interpolation — both engines select the same parquet cents value).

    Bucketing joins the (type, cents) grouped table against a 9-edge
    ARRAY per type (collected from a vocabulary-sized frame, broadcast):
    bucket = 1 + #edges strictly below v.  A (type x bucket 1..10)
    skeleton left-join guarantees current-period zero buckets
    contribute, and +1 Laplace smoothing keeps ln finite there.  Each
    bin term (p-q)*ln(p/q) is quantized 6dp into DECIMAL(28,6) so the
    per-type sum is order-free and engine-identical — 6dp, not 12:
    the oracle's LN is the driver box's libm, which may differ from the
    local one in the last ulp; a 1e-12 quantum sits ~2e-4 per term from
    a ulp flip while a 1e-6 quantum is ~4e-10 from one (PSI error bound
    5e-7 x 10 buckets, far below any monitoring threshold).

    Scale: two scans collapse to one (type, cents, period) groupBy
    bounded by the price grid; edges, skeleton, and the 9-element edge
    arrays are all vocabulary-sized broadcasts — raw rows shuffle
    exactly once."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.col("ts").cast("timestamp")
            < F.lit("2024-01-16 00:00:00").cast("timestamp")
        ).alias("is_ref"),
    )
    g = ev.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).cast("long").alias("nr"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).cast("long").alias("nc"),
    ).localCheckpoint(eager=False)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    cum = (
        g.where(F.col("nr") > 0)
        .withColumn("cum", F.sum("nr").over(wcum))
        .withColumn("n_ref", F.sum("nr").over(wp))
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("i"))
    edges = (
        cum.crossJoin(F.broadcast(deciles))
        .where(F.col("cum") >= F.ceil(F.col("i") * F.col("n_ref") / 10))
        .groupBy("event_type", "i")
        .agg(F.min("cents").alias("edge"))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("edge")).alias("edges"))
    )
    bucketed = (
        g.join(F.broadcast(edges), "event_type")
        .withColumn(
            "bucket",
            (
                F.size(F.filter("edges", lambda e: e < F.col("cents"))) + 1
            ).cast("long"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("nr").alias("c_ref"), F.sum("nc").alias("c_cur"))
    )
    skeleton = (
        bucketed.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(spark.range(1, 11).select(F.col("id").alias("bucket"))))
    )
    full = (
        skeleton.join(bucketed, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("c_ref", F.lit(0)).alias("c_ref"),
            F.coalesce("c_cur", F.lit(0)).alias("c_cur"),
        )
        .withColumn("t_ref", F.sum("c_ref").over(wp))
        .withColumn("t_cur", F.sum("c_cur").over(wp))
    )
    p = (F.col("c_ref") + 1).cast("double") / (F.col("t_ref") + 10).cast("double")
    q = (F.col("c_cur") + 1).cast("double") / (F.col("t_cur") + 10).cast("double")
    return (
        full.withColumn(
            "term",
            F.round((p - q) * F.log(p / q), 6).cast("decimal(28,6)"),
        )
        .groupBy("event_type")
        .agg(
            F.first(F.col("t_ref").cast("long")).alias("n_ref"),
            F.first(F.col("t_cur").cast("long")).alias("n_cur"),
            # exact order-free decimal sum INTERNALLY, double at the
            # output boundary (DECIMAL outputs driver-fragile)
            F.sum("term").cast("decimal(38,6)").cast("double").alias("psi"),
        )
    )


def orders_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the OLS slope of order total vs order
    date computed POOLED and WITHIN each order-priority stratum — when
    the within-stratum slopes disagree in sign with the pooled slope,
    the pooled trend is a mix-shift artifact, not a real effect (the
    classic aggregation trap any metrics review must rule out).

    Every moment (n, Sx, Sy, Sxy, Sxx over epoch-day x and integer-cent
    y) is an exact DECIMAL(38,0) sum of BIGINT products (day*cents ~
    1e11/row, 1e12 rows -> ~1e23, well inside 38 digits); the pooled
    moments are the SUM of the stratum moments (5 rows), so pooled and
    stratum slopes come from one scan + one tiny re-aggregation.  The
    two slope divisions are the only doubles, rounded 6dp.

    Scale: one map-side-combined groupBy on a 5-value key, a 5-row
    re-agg, a 1-row broadcast back — nothing scales with row count."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    strata = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
    )
    slope = lambda: F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        6,
    )
    pooled = (
        strata.groupBy()
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxy").alias("sxy"),
            F.sum("sxx").alias("sxx"),
        )
        .select(slope().alias("pooled_slope"))
    )
    return (
        strata.select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n_orders"),
            slope().alias("stratum_slope"),
        )
        .crossJoin(F.broadcast(pooled))
        .select(
            "o_orderpriority",
            "n_orders",
            "stratum_slope",
            "pooled_slope",
            (
                (F.col("stratum_slope") > 0) != (F.col("pooled_slope") > 0)
            ).alias("sign_reversed"),
        )
    )


def profile_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit — the companion to profile_k_anonymity: a
    k-anonymous class is still unsafe if everyone in it shares the same
    SENSITIVE value (homogeneity attack), so each (nation, account-band)
    quasi-identifier class must contain >= l = 3 distinct market segments.
    Also reports entropy l-diversity's integer core: the modal-segment
    count, since a class dominated by one segment leaks probabilistically
    even when distinct-l passes.

    One groupBy on (QI, segment) then a re-agg to classes — both
    map-side combined, cardinality bounded by |nations| x |bands| x
    |segments|, so the audit costs one scan at any corpus size."""
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("acct_band"),
        "c_mktsegment",
    )
    cells = customer.groupBy("nationkey", "acct_band", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        cells.groupBy("nationkey", "acct_band")
        .agg(
            F.sum("n").cast("long").alias("class_size"),
            F.count(F.lit(1)).cast("long").alias("l_distinct"),
            F.max("n").cast("long").alias("modal_count"),
        )
        .select(
            "nationkey",
            "acct_band",
            "class_size",
            "l_distinct",
            "modal_count",
            (F.col("l_distinct") < 3).alias("violates_l"),
        )
    )


def events_sprt_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test per event type — the
    optimal early-stopping monitor (fewest expected observations for
    given alpha/beta): H0 p=0.5 vs H1 p=0.55 on a Bernoulli derived from
    the value parity, alpha = beta = 0.05, decide at the first CROSSING
    of ln(beta/(1-alpha)) / ln((1-beta)/alpha).

    Determinism by construction: the two per-observation log-likelihood
    increments and both thresholds are PINNED 12-dp literals (runtime ln
    could differ in the last ulp between engines), so the running LLR
    after any prefix is n_pos*L1 + n_neg*L0 — an exact DECIMAL(28,12) —
    and the crossing hour is an exact comparison, not a float race.

    Scale: the test consumes the HOURLY rollup (calendar-bounded, ~8.8k
    rows/type/year), not raw rows — the cumulative window runs over that
    small frame, and decision granularity is the hour, which is what a
    production monitor does anyway.  Output: one row per type with the
    decision, the crossing hour, and the exact LLR there."""
    # DECIMAL(13,12) literals keep the cpos*l product inside precision 38
    # so Spark does NOT shrink the scale (long x DECIMAL(28,12) would hit
    # the 38-cap and silently truncate to 6 dp)
    l1 = F.lit("0.095310179804").cast("decimal(13,12)")   # ln(0.55/0.5)
    l0 = F.lit("-0.105360515658").cast("decimal(13,12)")  # ln(0.45/0.5)
    upper = F.lit("2.944438979166").cast("decimal(13,12)")   # ln(0.95/0.05)
    lower = F.lit("-2.944438979166").cast("decimal(13,12)")  # ln(0.05/0.95)
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
        (F.round(F.col("value") * 100).cast("long") % 2 == 0)
        .cast("long")
        .alias("x"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.sum("x").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("x")).cast("long").alias("neg"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("pos").over(w).alias("cpos"),
        F.sum("neg").over(w).alias("cneg"),
    ).withColumn(
        "llr",
        (
            F.col("cpos").cast("decimal(18,0)") * l1
            + F.col("cneg").cast("decimal(18,0)") * l0
        ).cast("decimal(28,12)"),
    )
    crossed = cum.where((F.col("llr") >= upper) | (F.col("llr") <= lower))
    first = crossed.groupBy("event_type").agg(F.min("h").alias("decision_hour"))
    decided = (
        crossed.join(first, "event_type")
        .where(F.col("h") == F.col("decision_hour"))
        .select(
            "event_type",
            "decision_hour",
            (F.col("cpos") + F.col("cneg")).cast("long").alias("n_at_decision"),
            # decimal(28,12) -> double at the output boundary (driver-
            # fragile DECIMAL lesson); comparisons above stay
            # decimal-exact
            F.col("llr").cast("double").alias("llr_at_decision"),
            F.when(F.col("llr") >= upper, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
        )
    )
    all_types = cum.groupBy("event_type").agg(
        (F.max("cpos") + F.max("cneg")).cast("long").alias("n_total")
    )
    return (
        all_types.join(decided, "event_type", "left")
        .select(
            "event_type",
            F.col("decision_hour"),
            F.coalesce("n_at_decision", "n_total").alias("n_at_decision"),
            F.coalesce(
                "llr_at_decision", F.lit(None).cast("double")
            ).alias("llr_at_decision"),
            F.coalesce("decision", F.lit("continue")).alias("decision"),
        )
    )


def events_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the hourly click and purchase
    volumes — the lead/lag diagnostic behind "clicks precede purchases
    by how long?": Pearson r between click(h) and purchase(h + lag) for
    lag in -3..3, the cross-series companion to events_hourly_acf.

    Both series are calendar-bounded BIGINT hourly counts; each lag's
    moments (n, Sx, Sy, Sxy, Sxx, Syy) are exact integer sums over the
    ~720-row joined frame, and r is one double expression rounded 6dp —
    identical on both engines.  The 7 lags come from a broadcast 7-row
    literal frame crossed onto the TINY hourly rollup, never raw rows;
    at 100 TB the only corpus-sized work is the one groupBy building the
    rollup."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h")
    )
    hourly = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    clicks = hourly.where(F.col("event_type") == "click").select(
        F.col("h").alias("ch"), F.col("n").alias("x")
    )
    purch = hourly.where(F.col("event_type") == "purchase").select(
        F.col("h").alias("ph"), F.col("n").alias("y")
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    j = (
        clicks.crossJoin(F.broadcast(lags))
        .join(
            purch,
            F.col("ph")
            == F.col("ch") + F.make_interval(hours=F.col("lag")),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "lag",
        F.col("n").cast("long").alias("n_hours"),
        F.round(num / den, 6).alias("xcorr"),
    )


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the behavioral Markov chain — the
    sequence-predictability score on top of events_markov_transitions:
    per current state, the conditional next-state entropy
    H_i = -sum_j (c_ij/c_i) ln(c_ij/c_i), plus the state's weight in the
    chain; the weighted sum over the 5 output rows IS the chain's
    entropy rate (low = deterministic funnels/bots, high ~ ln(5) =
    uniform wandering).

    Same per-user lag window as the transition matrix (the one corpus
    shuffle), then all arithmetic happens on the 25-cell count table:
    each ln term is one double expression over two exact integers,
    quantized 6dp into DECIMAL(28,6) before the 5-term sums, so the
    fold is order-free on both engines — 6dp, not 12: the
    oracle's LN is the driver box's libm, and a 1e-6 quantum is
    ulp-flip-proof where a 1e-12 quantum flips ~2e-4 per term
    (entropy error bound 5e-7 x 5 terms)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = counts.groupBy("from_type").agg(F.sum("c").cast("long").alias("c_from"))
    grand = totals.groupBy().agg(F.sum("c_from").cast("long").alias("c_all"))
    p = F.col("c").cast("double") / F.col("c_from").cast("double")
    return (
        counts.join(F.broadcast(totals), "from_type")
        .withColumn(
            "term",
            F.round(-p * F.log(p), 6).cast("decimal(28,6)"),
        )
        .groupBy("from_type")
        .agg(
            F.first("c_from").alias("n_from"),
            # exact order-free decimal sum internally, double at the
            # output boundary (DECIMAL outputs driver-fragile)
            F.sum("term")
            .cast("decimal(38,6)")
            .cast("double")
            .alias("cond_entropy"),
        )
        .crossJoin(F.broadcast(grand))
        .select(
            "from_type",
            "n_from",
            "cond_entropy",
            F.round(
                F.col("n_from").cast("double") / F.col("c_all").cast("double"), 6
            ).alias("weight"),
        )
    )


def orders_hill_tail_index(
    spark: SparkSession, sf_dir: str, k: int = 100
) -> DataFrame:
    """Hill estimator of the Pareto tail index of order totals — the
    heavy-tail gauge that decides whether revenue concentration (and by
    extension partition skew on amount-keyed aggregations) follows a
    power law: alpha_hat = k / sum_{i<=k} ln(x_i / x_ref) over the top-k
    order statistics with x_ref the (k+1)-th.

    Only the top k+1 rows ever leave the executors — Spark plans
    TakeOrderedAndProject (per-task k+1-row heaps, driver merge), the
    same shape as sort_topk, so the estimator costs one scan at any
    corpus size.  The k+1 values are exact parquet cents; each ln ratio
    is quantized 12dp into DECIMAL(28,12) before the k-term sum, and
    alpha is one double division rounded 6dp."""
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
        .orderBy(F.col("cents").desc(), F.col("o_orderkey"))
        .limit(k + 1)
    )
    ref = top.groupBy().agg(F.min("cents").alias("ref_cents"))
    return (
        top.crossJoin(F.broadcast(ref))
        .where(F.col("cents") > F.col("ref_cents"))
        .select(
            "ref_cents",
            F.round(
                F.log(F.col("cents").cast("double") / F.col("ref_cents").cast("double")),
                12,
            ).cast("decimal(28,12)").alias("term"),
        )
        .groupBy("ref_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / F.sum("term").cast("double"),
                6,
            ).alias("hill_alpha"),
        )
    )


def events_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: the k-sample extension of events_mann_whitney —
    do the five event types draw their values from one distribution?
    The nonparametric ANOVA a metrics review runs before trusting
    per-type means.

    Same doubled-midrank machinery as the two-sample test, now over the
    GLOBAL distinct-value table: per value, total count t and per-type
    counts; doubled midrank 2c+t+1 (exact), per-type doubled rank sums
    R2_g in DECIMAL(38,0), tie term sum(t^3-t) exact.  H and its
    tie-corrected form are single double expressions over those exact
    moments (identical formula both engines, 6dp).

    Scale: the global cumulative window runs over the distinct-cents
    table (bounded by the price grid, NOT row count); per-type moments
    are one more groupBy over the same small frame.  Output: one row
    per type (n_g, mean_rank) with the shared H so the hash certifies
    the per-group decomposition too."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    per_tv = ev.groupBy("cents", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_v = per_tv.groupBy("cents").agg(F.sum("c").cast("long").alias("t"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.withColumn(
        "cum_prev", F.coalesce(F.sum("t").over(w), F.lit(0)).cast("long")
    ).withColumn("dr", (2 * F.col("cum_prev") + F.col("t") + 1).cast("long"))
    j = per_tv.join(ranked, "cents")
    groups = j.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_g"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("dr").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("r2_g"),
    )
    ties = ranked.groupBy().agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("t").cast("decimal(38,0)")
            * F.col("t").cast("decimal(38,0)")
            * F.col("t").cast("decimal(38,0)")
            - F.col("t").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("tie3"),
    )
    # H = 12/(N(N+1)) * sum_g (R2_g/2)^2 / n_g - 3(N+1); correction
    # divides by 1 - tie3/(N^3 - N)
    gm = groups.crossJoin(F.broadcast(ties))
    term = (
        F.col("r2_g").cast("double")
        * F.col("r2_g").cast("double")
        / (4.0 * F.col("n_g").cast("double"))
    )
    hsum = gm.groupBy().agg(
        F.first("n").alias("n"),
        F.first("tie3").alias("tie3"),
        F.sum(F.round(term, 6).cast("decimal(38,6)")).alias("sum_term"),
    )
    nd = F.col("n").cast("double")
    h = (
        12.0 / (nd * (nd + 1)) * F.col("sum_term").cast("double")
        - 3.0 * (nd + 1)
    )
    hc = h / (1.0 - F.col("tie3").cast("double") / (nd * nd * nd - nd))
    hrow = hsum.select(
        F.col("n").cast("long").alias("n"),
        F.round(h, 6).alias("h_stat"),
        F.round(hc, 6).alias("h_corrected"),
    )
    return (
        groups.crossJoin(F.broadcast(hrow))
        .select(
            "event_type",
            "n_g",
            F.round(
                F.col("r2_g").cast("double") / (2.0 * F.col("n_g").cast("double")),
                6,
            ).alias("mean_rank"),
            "n",
            "h_stat",
            "h_corrected",
        )
    )


def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type over the hourly volume
    series — is traffic RANDOM around its median, or does it cluster
    (campaign waves, incident plateaus, bot bursts)?  The randomness
    screen behind events_bot_regularity, now at series level.

    The median is the PICKED lower-median order statistic of the hourly
    counts (integer, no interpolation); hours equal to it are excluded
    (the standard convention), signs are integer comparisons, runs are
    counted with one lag over the calendar-bounded series, and mu/sigma
    /z use the identical closed form both engines (6dp).  Everything
    before the final z is exact integer arithmetic.

    Scale: one corpus groupBy to the hourly rollup; both windows
    (median pick, lag) run over ~8.8k rows/type/year."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wp = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("n", "h")
    med = (
        hourly.withColumn("rn", F.row_number().over(wo))
        .withColumn("cnt", F.count(F.lit(1)).over(wp))
        .where(F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
        .select("event_type", F.col("n").alias("median_n"))
    )
    signed = (
        hourly.join(F.broadcast(med), "event_type")
        .where(F.col("n") != F.col("median_n"))
        .withColumn("s", (F.col("n") > F.col("median_n")).cast("int"))
    )
    wlag = Window.partitionBy("event_type").orderBy("h")
    runs = signed.withColumn("prev", F.lag("s").over(wlag)).groupBy(
        "event_type"
    ).agg(
        F.sum(F.col("s")).cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("s") != F.col("prev")), 1
                ).otherwise(0)
            )
        ).cast("long").alias("n_runs"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    mu = 2.0 * n1d * n2d / (n1d + n2d) + 1.0
    # try_divide: a one-hour series (n1 + n2 == 1) or a one-sided one
    # (n1 == 0 or n2 == 0, sigma == 0) has no z-score — NULL, as in the
    # oracle, instead of an ANSI DIVIDE_BY_ZERO.
    var = F.try_divide(
        2.0 * n1d * n2d * (2.0 * n1d * n2d - n1d - n2d),
        (n1d + n2d) * (n1d + n2d) * (n1d + n2d - 1.0),
    )
    return runs.select(
        "event_type",
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        "n_runs",
        F.round(
            F.try_divide(F.col("n_runs").cast("double") - mu, F.sqrt(var)), 6
        ).alias("z_score"),
    )


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard — the FIRST check any A/B readout must
    pass: if the observed assignment split deviates from the designed
    50/50 beyond chance, the experiment is corrupted (bot filtering,
    logging loss, redirect bugs) and every downstream metric is invalid.

    Per event type: observed user-level assignment counts (each USER
    counted once — events would double-count heavy users), the 1-df
    chi-square statistic against the designed ratio in exact integer
    arithmetic ((a-b)^2 / (a+b) needs one double division), and the
    decision against the pinned 3.841459 critical value (alpha = 0.05)
    — no p-value machinery, so both engines agree exactly.

    Scale: one distinct on (type, user, cohort) — the same shuffle any
    per-user metric pays — then a 5-row aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        (((F.col("user_id") % 1000003) * 2654435761 + 13) % 1000 < 500).alias("in_a"),
    ).distinct()
    g = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("n_b"),
    )
    diff = (F.col("n_a") - F.col("n_b")).cast("double")
    tot = (F.col("n_a") + F.col("n_b")).cast("double")
    chi2 = diff * diff / tot
    return g.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (F.round(chi2, 6) > 3.841459).alias("srm_detected"),
    )


def parts_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the orthogonal axis to
    parts_abc_classification (together they make the ABC-XYZ planning
    matrix): X = steady demand (CV <= 0.5, forecastable), Y = variable
    (CV <= 1.0), Z = erratic (CV > 1.0, safety-stock only).  CV is the
    coefficient of variation of the part's WEEKLY demand over the
    observation range, zero-filled for weeks without orders — skipping
    empty weeks understates variability, the classic XYZ mistake.

    Exactness: weekly quantities are integer sums; with W weeks and
    moments S1/S2 (BIGINT, zero-weeks contribute nothing to either), the
    comparison CV^2 <= t^2 multiplies out to the ALL-INTEGER predicate
    W*S2 - S1^2 <= t^2 * S1^2 — evaluated in DECIMAL(38,0) with t^2 in
    fourths (0.25, 1.0), so class boundaries cannot wobble on a double
    sqrt.  The reported cv itself is one double sqrt, 6dp, display-only.

    Scale: one fact-table groupBy to (part, week) — catalog x 52-sized —
    then a part-level re-agg; the week count is a broadcast scalar."""
    li = load(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.weekofyear(F.to_date("l_shipdate")).alias("wk"),
        F.year(F.to_date("l_shipdate")).alias("yr"),
    ).agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("qty"))
    n_weeks = weekly.select("yr", "wk").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    moments = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("active_weeks"),
        F.sum(dec(F.col("qty"))).alias("s1"),
        F.sum(dec(F.col("qty") * F.col("qty"))).alias("s2"),
    )
    j = moments.crossJoin(F.broadcast(n_weeks))
    w = dec(F.col("n_weeks"))
    # var * W^2 = W*S2 - S1^2 (zero weeks included); CV^2 = that / S1^2
    num = w * F.col("s2") - F.col("s1") * F.col("s1")
    den = F.col("s1") * F.col("s1")
    return j.select(
        "l_partkey",
        "active_weeks",
        F.col("s1").cast("long").alias("total_qty"),
        F.round(
            F.sqrt(num.cast("double")) / F.col("s1").cast("double"), 6
        ).alias("cv"),
        F.when(4 * num <= den, "X")
        .when(num <= den, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )


def customers_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segment MIGRATION matrix — the customer-base health report on
    top of customers_rfm_segments: how many customers moved between
    frequency/monetary bands from the first half of the order history to
    the second, plus 'new' (absent before) and 'churned' (absent after)
    rows.  Marketing reads the diagonal as stability, below-diagonal as
    decay, the churned column as the save-campaign audience.

    Bands use FIXED integer thresholds on exact integer inputs (order
    count; spend in cents) rather than per-period quantiles — migration
    needs band definitions that mean the SAME thing in both periods
    (quantile bands would relabel everyone when the distribution moves,
    hiding real migration), and integer thresholds are engine-exact.

    Scale: two conditional aggregations in ONE customer-keyed groupBy
    (no per-period scans), a full-outer-free CASE on presence, one
    25+2-cell rollup."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.to_date("o_orderdate") < F.lit("1995-01-01")).alias("p1"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("p1"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("m1"),
        F.sum(F.when(F.col("p1"), 0).otherwise(1)).cast("long").alias("f2"),
        F.sum(F.when(F.col("p1"), 0).otherwise(F.col("cents")))
        .cast("long")
        .alias("m2"),
    )

    def seg(f, m):
        fb = (
            F.when(f <= 0, None)
            .when(f <= 2, 1)
            .when(f <= 5, 2)
            .otherwise(3)
        )
        mb = (
            F.when(m <= 30_000_00, 1)
            .when(m <= 90_000_00, 2)
            .otherwise(3)
        )
        return F.when(
            fb.isNull(), F.lit(None).cast("string")
        ).otherwise(F.concat(F.lit("F"), fb.cast("string"), F.lit("M"), mb.cast("string")))

    labeled = per_cust.select(
        seg(F.col("f1"), F.col("m1")).alias("seg_from_raw"),
        seg(F.col("f2"), F.col("m2")).alias("seg_to_raw"),
    )
    return (
        labeled.select(
            F.coalesce("seg_from_raw", F.lit("new")).alias("seg_from"),
            F.coalesce("seg_to_raw", F.lit("churned")).alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


#: Hub table for geo_nearest_hub: (id, lat, lon, cos(lat) PINNED 6dp —
#: the Fourier trig-table discipline: runtime cos could differ in the
#: last ulp between engines, a Python-precomputed literal cannot).
_GEO_HUBS = [
    (1, 40.7, -74.0, 0.758134),
    (2, 51.5, -0.1, 0.622515),
    (3, 35.7, 139.7, 0.812084),
    (4, -33.9, 151.2, 0.830012),
    (5, 19.4, -99.1, 0.943223),
    (6, 52.5, 13.4, 0.608761),
    (7, 1.35, 103.8, 0.999722),
    (8, -23.55, -46.63, 0.916712),
]


def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-facility assignment — the geo primitive behind shard
    placement, CDN routing, and territory design: every customer gets a
    deterministic PLANTED coordinate (the corpus carries no geo columns;
    hash-planting is the established pattern from the propensity ops),
    and is assigned to the closest of 8 fixed hubs under the
    equirectangular metric d^2 = dlat^2 + (dlon * cos(hub_lat))^2 —
    deliberately trig-free at runtime: the cos factors are PYTHON-
    precomputed 6dp literals injected into both engines, so the
    distance is pure shared-literal double arithmetic and the argmin
    (min over a 8-element struct array, hub id tiebreak) is engine-
    exact.

    Scale: the hub table is a broadcast literal; assignment is a
    scan-stage expression (a transform over an 8-element array — no
    join at all), then one 8-key map-side-combined rollup."""
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (
            -60.0
            + (((F.col("c_custkey") % 1000003) * 2654435761 + 97) % 12000).cast("double")
            / 100.0
        ).alias("lat"),
        (
            -180.0
            + ((F.col("c_custkey") * 40503 + 11) % 36000).cast("double")
            / 100.0
        ).alias("lon"),
    )
    hubs = F.array(
        *[
            F.struct(
                F.lit(i).alias("hub_id"),
                F.lit(la).alias("hlat"),
                F.lit(lo).alias("hlon"),
                F.lit(cl).alias("hcos"),
            )
            for i, la, lo, cl in _GEO_HUBS
        ]
    )
    best = F.array_min(
        F.transform(
            hubs,
            lambda h: F.struct(
                (
                    (F.col("lat") - h["hlat"]) * (F.col("lat") - h["hlat"])
                    + ((F.col("lon") - h["hlon"]) * h["hcos"])
                    * ((F.col("lon") - h["hlon"]) * h["hcos"])
                ).alias("d2"),
                h["hub_id"].alias("hub_id"),
            ),
        )
    )
    assigned = customer.select(
        "k",
        best["hub_id"].alias("hub_id"),
        # 6dp, NOT 12: d2 reaches ~1e5 where ulp ~ 1.5e-11 — a 12dp
        # quantum would sit AT the ulp and round as a coin flip per engine
        F.round(best["d2"], 6).cast("decimal(28,6)").alias("d2q"),
    )
    return assigned.groupBy("hub_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        # decimal(·,6) -> double at the output boundary (driver-fragile
        # DECIMAL lesson); the 6dp quantization stays internal so
        # the sum is still order-free and exact
        F.min("d2q").cast("double").alias("min_d2"),
        F.sum("d2q").cast("decimal(38,6)").cast("double").alias("sum_d2"),
    )


def sample_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) — the survey-statistics /
    training-mix reweighting primitive: scale the (event_type x day-part)
    count table so BOTH margins match target shares (uniform here, the
    pinned literals any real target list would replace), preserving the
    table's interaction structure.  This is how a corpus mix is nudged
    to a target domain x length distribution without per-cell quotas.

    Three unrolled row/column scaling rounds over the 5x4 contingency
    table; every weight is re-quantized 9dp into DECIMAL(28,9) after
    each scaling (the pagerank discipline: the fold must be order-free
    and engine-identical), margins re-derived from the quantized cells.

    Scale: ONE corpus aggregation builds the table; everything after is
    arithmetic on 20 rows — raking a billion-row corpus costs the same
    as raking this one.  Output: per cell, the raw count, final weight,
    and weighted share (the certification that margins converged)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.hour(F.col("ts").cast("timestamp")) / 6).cast("int").alias("day_part"),
    )
    cells = ev.groupBy("event_type", "day_part").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).localCheckpoint(eager=False)
    total = cells.groupBy().agg(F.sum("n").cast("double").alias("grand"))
    w = cells.crossJoin(F.broadcast(total)).select(
        "event_type",
        "day_part",
        "n",
        F.round(F.col("n") / F.col("grand"), 9).cast("decimal(28,9)").alias("w"),
    )
    # uniform targets: 1/5 per type row, 1/4 per day-part column
    row_t, col_t = 0.2, 0.25
    for _ in range(3):
        rm = w.groupBy("event_type").agg(F.sum("w").alias("row_sum"))
        w = (
            w.join(F.broadcast(rm), "event_type")
            .select(
                "event_type",
                "day_part",
                "n",
                F.round(
                    F.col("w").cast("double")
                    * (F.lit(row_t) / F.col("row_sum").cast("double")),
                    9,
                ).cast("decimal(28,9)").alias("w"),
            )
            .localCheckpoint(eager=False)
        )
        cm = w.groupBy("day_part").agg(F.sum("w").alias("col_sum"))
        w = (
            w.join(F.broadcast(cm), "day_part")
            .select(
                "event_type",
                "day_part",
                "n",
                F.round(
                    F.col("w").cast("double")
                    * (F.lit(col_t) / F.col("col_sum").cast("double")),
                    9,
                ).cast("decimal(28,9)").alias("w"),
            )
            # per-scaling lineage truncation (the pagerank loop
            # discipline): without it each margin join re-derives w and
            # the plan doubles per step (measured 1467 operators)
            .localCheckpoint(eager=False)
        )
    return w.select(
        "event_type",
        F.col("day_part").cast("long").alias("day_part"),
        "n",
        # output boundary: decimal(28,9) -> double (scaled int << 2^53, so
        # the conversion is correctly rounded and engine-identical); raw
        # DECIMAL output columns proved driver-fragile
        F.col("w").cast("double").alias("weight"),
    )


# ---------------------------------------------------------------------------
# Inequality / concentration analytics (two-phase-rank consumers)
# ---------------------------------------------------------------------------

def customers_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — the standard inequality /
    concentration gauge (how skewed is spend across the customer base),
    computed EXACTLY from the rank identity

        G = (2*SUM(i*x_i) - (n+1)*SUM(x_i)) / (n*SUM(x_i)),  x asc

    Per-segment coefficients rank inside a KEYED window (parallel across
    segments — the honest grouped shape); the ALL row's global rank goes
    through the TWO-PHASE global rank (events_global_rank_two_phase
    machinery), so no single-task window exists anywhere in the plan.

    Everything before the final division is DECIMAL-exact: revenue is
    2-dp DECIMAL(18,2), the weighted sum (2i-n-1)*x_i runs in
    DECIMAL(38,2) (rank weight cast DECIMAL(16,0) — exact to n ~ 1e15).

    Output: (segment, n_customers, sum_rev, gini), 5 + 1 rows.

    Reference absent-side extension (reference main.py is a one-table
    ETL with no analytics); the operator family a revenue pipeline runs.
    """
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    seg = rev.join(cust, "o_custkey")

    def _gini(df: DataFrame, key) -> DataFrame:
        w = Window.partitionBy("seg").orderBy("rev", "o_custkey")
        ranked = df.select(
            key.alias("seg"), "rev", "o_custkey"
        ).withColumn("i", F.row_number().over(w).cast("long"))
        return _gini_rollup(ranked)

    def _gini_rollup(ranked: DataFrame) -> DataFrame:
        term = (
            (F.lit(2) * F.col("i")).cast("decimal(16,0)") * F.col("rev")
        ).cast("decimal(38,2)")
        agg = ranked.groupBy("seg").agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").cast("decimal(38,2)").alias("sum_rev"),
            F.sum(term).cast("decimal(38,2)").alias("sum_2ix"),
        )
        gini = (
            F.col("sum_2ix").cast("double")
            - (F.col("n_customers") + F.lit(1)).cast("double")
            * F.col("sum_rev").cast("double")
        ) / (F.col("n_customers").cast("double") * F.col("sum_rev").cast("double"))
        return agg.select(
            F.col("seg").alias("segment"),
            "n_customers",
            # cents-exact decimal internally, double at the output
            # boundary (DECIMAL outputs driver-fragile)
            F.col("sum_rev").cast("decimal(18,2)").cast("double").alias("sum_rev"),
            F.round(gini, 6).alias("gini"),
        )

    per_seg = _gini(seg, F.col("c_mktsegment"))
    glob = _gini_rollup(
        two_phase_global_rank(
            rev.select(F.lit("ALL").alias("seg"), "rev", "o_custkey"),
            F.floor(F.col("rev")).cast("long"),
            ["rev", "o_custkey"],
            out="i",
        )
    )
    return per_seg.unionByName(glob)


def orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration curve of customer revenue — "what share of
    revenue do the top 10%/20%/... of customers carry" plus the 80%
    crossing flag, the standard whale-accounting readout.

    Customers rank by revenue DESCENDING through the two-phase global
    rank (no single-task window); ranks map to customer deciles, the
    10-row decile table prefix-sums (tiny window), and the crossing test
    5*cum_rev >= 4*total runs in DECIMAL — exact, no float compare.

    Output: (decile, n_cust, cum_rev, cum_share, crossed_80), 10 rows."""
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
    )
    ranked = two_phase_global_rank(
        rev,
        (-F.floor(F.col("rev"))).cast("long"),
        [F.col("rev").desc(), "o_custkey"],
        out="rk",
    )
    n_total = rev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_dec = (
        ranked.crossJoin(F.broadcast(n_total))
        .select(F.expr("((rk - 1) * 10) div n").alias("decile"), "rev")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("rev").cast("decimal(38,2)").alias("dec_rev"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    total = per_dec.agg(F.sum("dec_rev").cast("decimal(38,2)").alias("tot"))
    return (
        per_dec.withColumn("cum_rev", F.sum("dec_rev").over(w).cast("decimal(38,2)"))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_cust",
            # cents-exact decimal internally, double at the output
            # boundary (DECIMAL outputs driver-fragile)
            F.col("cum_rev").cast("decimal(18,2)").cast("double").alias("cum_rev"),
            F.round(
                F.col("cum_rev").cast("double") / F.col("tot").cast("double"), 6
            ).alias("cum_share"),
            (
                F.col("cum_rev").cast("decimal(38,2)") * F.lit(5)
                >= F.col("tot").cast("decimal(38,2)") * F.lit(4)
            ).alias("crossed_80"),
        )
    )


def orders_cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: customers grouped by FIRST
    order month; cell (cohort, m) = the fraction of the cohort that
    ordered again m months later — the growth-analytics readout every
    subscription/marketplace warehouse computes.

    Shape at scale: first-order month is one customer-keyed aggregate;
    activity joins back on the customer key (same shuffle key — AQE
    co-locates); the (cohort, months_since) cell rollup is
    calendar-bounded (|months| x horizon rows).  No windows, no global
    steps.

    Output: (cohort_month, months_since, n_active, cohort_size,
    retention) for months_since 0..horizon."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("om"),
    )
    first = o.groupBy("o_custkey").agg(F.min("om").alias("cohort_month"))
    size = first.groupBy("cohort_month").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        o.join(first, "o_custkey")
        .select(
            "o_custkey",
            "cohort_month",
            F.months_between(F.col("om"), F.col("cohort_month"))
            .cast("long")
            .alias("months_since"),
        )
        .where(F.col("months_since") <= 12)
        .distinct()
        .groupBy("cohort_month", "months_since")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return cells.join(F.broadcast(size), "cohort_month").select(
        "cohort_month",
        "months_since",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double"),
            6,
        ).alias("retention"),
    )


def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal front) of parts under (MIN price, MAX
    size) — the multi-criteria shortlist query: a part survives iff no
    other part is at least as cheap AND at least as large with one
    strict.  The classic database operator Spark has no primitive for.

    DISTRIBUTED shape (the partition-prune-merge skyline): distinct
    (price, size) pairs land in price buckets; each bucket computes its
    LOCAL skyline with a KEYED window (running max size over strictly
    better rows inside the bucket); cross-bucket domination reduces to
    the per-bucket MAX size prefix over STRICTLY CHEAPER buckets — a
    tiny bucket-table window broadcast back (the two-phase-rank offset
    pattern).  No global sort, no all-pairs join.

    The oracle certifies against DIRECT dominance semantics (a NOT
    EXISTS anti-join), not the same windowed formula — any pruning bug
    on either level breaks the hash.

    Output: (p_retailprice, p_size, n_parts) skyline points."""
    parts = load(spark, sf_dir, "part").select(
        F.round(F.col("p_retailprice"), 2).cast("decimal(12,2)").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    pairs = parts.groupBy("price", "size").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    b = pairs.withColumn("bkt", F.floor(F.col("price") / 100).cast("long"))
    # local skyline: inside a bucket, a pair is dominated iff an earlier
    # row in (price asc, size desc) order has size >= mine (distinct
    # pairs make the >= test exact: equal price+size cannot recur)
    wloc = (
        Window.partitionBy("bkt")
        .orderBy(F.col("price").asc(), F.col("size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("max_prev", F.max("size").over(wloc)).where(
        F.col("max_prev").isNull() | (F.col("max_prev") < F.col("size"))
    )
    # cross-bucket prune: max size of any strictly cheaper bucket
    bstats = b.groupBy("bkt").agg(F.max("size").alias("bmax"))
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    cheaper = bstats.select(
        "bkt", F.max("bmax").over(wb).alias("best_cheaper")
    )
    return (
        local.join(F.broadcast(cheaper), "bkt")
        .where(
            F.col("best_cheaper").isNull()
            | (F.col("best_cheaper") < F.col("size"))
        )
        .select(
            # decimal(12,2) -> double at the output boundary (DECIMAL
            # outputs driver-fragile); dominance tests above ran
            # on the exact decimal
            F.col("price").cast("double").alias("p_retailprice"),
            F.col("size").alias("p_size"),
            "n_parts",
        )
    )


def orders_backlog_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-backlog burndown: orders open at each month end, from the
    +1/-1 delta trick (the interval-unnesting pattern) — never a
    per-month interval scan.  Ship month is planted deterministically
    from the order priority (URGENT ships in 2 days ... LOW in 20), so
    both engines see identical intervals.

    Shape at scale: one scan emits (month, +1) and (ship_month, -1)
    deltas; the month rollup is calendar-bounded; the running sum is a
    window over the TINY month table.  Output: (month, n_opened,
    n_shipped, open_eom)."""
    days = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 2)
        .when(F.col("o_orderpriority") == "2-HIGH", 5)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 9)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 14)
        .otherwise(20)
    )
    o = load(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("open_m"),
        F.date_trunc(
            "month", F.col("o_orderdate") + days * F.expr("INTERVAL 1 DAY")
        ).cast("date").alias("ship_m"),
    )
    opened = o.groupBy(F.col("open_m").alias("m")).agg(
        F.count(F.lit(1)).cast("long").alias("n_opened")
    )
    shipped = o.groupBy(F.col("ship_m").alias("m")).agg(
        F.count(F.lit(1)).cast("long").alias("n_shipped")
    )
    months = opened.join(shipped, "m", "full_outer").select(
        "m",
        F.coalesce("n_opened", F.lit(0)).cast("long").alias("n_opened"),
        F.coalesce("n_shipped", F.lit(0)).cast("long").alias("n_shipped"),
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return months.select(
        F.col("m").alias("month"),
        "n_opened",
        "n_shipped",
        (F.sum("n_opened").over(w) - F.sum("n_shipped").over(w))
        .cast("long")
        .alias("open_eom"),
    )


# ---------------------------------------------------------------------------
# Robust / classical statistics (X224-X228)
# ---------------------------------------------------------------------------

def events_winsorized_order_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized (5%/95%) per-type value statistics — the robust mean a
    metrics pipeline reports when heavy tails would let a few whales move
    the plain average.

    Sibling of the interpolated-percentile events_winsorized_stats
   : this variant is ALL-INTEGER — the order-statistic
    formulation whose thresholds are PICKED, never interpolated.

    Everything is INTEGER until the final division: values become cents
    (BIGINT), the clip thresholds are PICKED ceil(q*n)-th order
    statistics (keyed window, never interpolation — the repo's
    order-statistic discipline), clamping and the winsorized sum stay
    BIGINT, and the mean is one double division rounded 6dp.

    Scale: one keyed rank window + one keyed aggregate."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    ranked = ev.select(
        "event_type",
        "c",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    lo_k = F.expr("(n * 5 + 99) div 100")
    hi_k = F.expr("(n * 95 + 99) div 100")
    bounds = (
        ranked.where((F.col("rk") == lo_k) | (F.col("rk") == hi_k))
        .groupBy("event_type")
        .agg(
            F.min("c").cast("long").alias("p5_cents"),
            F.max("c").cast("long").alias("p95_cents"),
        )
    )
    clipped = ranked.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        F.greatest(
            F.col("p5_cents"), F.least(F.col("p95_cents"), F.col("c"))
        ).alias("wc"),
        (F.col("c") < F.col("p5_cents")).cast("long").alias("lo"),
        (F.col("c") > F.col("p95_cents")).cast("long").alias("hi"),
        "p5_cents",
        "p95_cents",
    )
    return clipped.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("p5_cents").alias("p5_cents"),
        F.max("p95_cents").alias("p95_cents"),
        F.sum("lo").cast("long").alias("n_clipped_low"),
        F.sum("hi").cast("long").alias("n_clipped_high"),
        F.round(
            F.sum("wc").cast("double") / F.max("n").cast("double") / F.lit(100.0),
            6,
        ).alias("winsorized_mean"),
    )


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen per event type — the
    robust z-score every data-quality monitor prefers over mean/stddev
    (one bad batch cannot move the fence it is judged by).

    All-integer: cents median and MAD are PICKED lower medians (rank
    floor((n+1)/2), the F.floor discipline — (n+1)/2 is true division on
    longs); the fence test |c - med| > 3*MAD compares BIGINTs.

    Scale: two keyed rank windows (values, then absolute deviations) and
    one keyed aggregate — parallel across types throughout."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    ranked = ev.select(
        "event_type",
        "c",
        "event_id",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    med = (
        ranked.where(F.col("rk") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("c").alias("med"))
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("d"),
    )
    wd = Window.partitionBy("event_type").orderBy("d", "event_id")
    dranked = dev.select(
        "event_type",
        "d",
        F.row_number().over(wd).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n"),
    )
    mad = (
        dranked.where(F.col("rk") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("d").alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("med").alias("median_cents"),
            F.max("mad").alias("mad_cents"),
            F.sum((F.col("d") > F.lit(3) * F.col("mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
    )


#: log10(1 + 1/d) for d=1..9, pinned as shared literals (the ln/trig
#: constant discipline): both engines consume the same decimal text, so
#: the Benford expectation is engine-exact before the one rounded chi2
#: term per digit.
BENFORD_P = {
    1: "0.301029995663981",
    2: "0.176091259055681",
    3: "0.124938736608300",
    4: "0.096910013008056",
    5: "0.079181246047625",
    6: "0.066946789630613",
    7: "0.057991946977687",
    8: "0.051152522447381",
    9: "0.045757490560675",
}


def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of event values — the classic
    fraud / synthetic-data screen: natural multi-scale magnitudes follow
    P(d) = log10(1+1/d); a planted or clipped value column does not, and
    the per-digit chi-square terms localize WHERE it breaks.

    First digit extraction is string-exact on integer cents (no
    log/pow on data, so no cross-engine float risk); expectations use
    the pinned log10 literals above; each chi2 term is one double
    expression rounded 6dp on a 9-row table.

    Scale: scan-stage digit arithmetic + ONE 9-key aggregate."""
    ev = load(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100, 0).cast("long").alias("c")
    ).where(F.col("c") > 0)
    digit = F.substring(F.col("c").cast("string"), 1, 1).cast("long")
    obs = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    n_total = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    p = F.when(F.col("digit") == 1, F.lit(float(BENFORD_P[1])))
    for d in range(2, 10):
        p = p.when(F.col("digit") == d, F.lit(float(BENFORD_P[d])))
    expected = F.col("n").cast("double") * p
    chi2 = (F.col("n_obs").cast("double") - expected) * (
        F.col("n_obs").cast("double") - expected
    ) / expected
    return obs.crossJoin(F.broadcast(n_total)).select(
        "digit",
        "n_obs",
        F.round(expected, 6).alias("expected"),
        F.round(chi2, 6).alias("chi2_term"),
    )


def customers_nps_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-nation conversion
    rates — the small-sample correction every per-segment scorecard
    needs: a 3-customer nation's 100% rate should NOT outrank a
    3000-customer nation's 62%; shrinking toward the method-of-moments
    prior fixes the ranking.

    Determinism: raw rates quantize to DECIMAL(9,6) at creation; the
    prior mean is a DECIMAL-sum division rounded 6dp; the variance sums
    12-dp DECIMAL(28,12) squared deviations (order-free); prior strength
    K and the shrunk rate are single double expressions from those
    rounded scalars, written identically on both engines.

    Scale: one customer-keyed aggregate, one 25-row nation rollup, a
    1-row prior broadcast back onto 25 rows."""
    conv = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max((F.col("o_orderstatus") == "F").cast("long")).alias("is_conv")
        )
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = (
        cust.join(conv, "o_custkey", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum(F.coalesce(F.col("is_conv"), F.lit(0)))
            .cast("long")
            .alias("k_conv"),
        )
        .withColumn(
            "rate",
            F.round(F.col("k_conv").cast("double") / F.col("n_cust"), 6).cast(
                "decimal(9,6)"
            ),
        )
    )
    prior_m = nation.agg(
        F.round(
            F.sum("rate").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("m")
    )
    with_m = nation.crossJoin(F.broadcast(prior_m))
    var = with_m.agg(
        F.max("m").alias("m"),
        F.round(
            F.sum(
                F.round(
                    (F.col("rate").cast("double") - F.col("m"))
                    * (F.col("rate").cast("double") - F.col("m")),
                    12,
                ).cast("decimal(28,12)")
            ).cast("double")
            / (F.count(F.lit(1)).cast("double") - F.lit(1.0)),
            12,
        ).alias("v"),
    )
    k_expr = F.round(
        F.col("m") * (F.lit(1.0) - F.col("m")) / F.col("v") - F.lit(1.0), 6
    )
    shrunk = F.round(
        (F.col("k_conv").cast("double") + F.col("m") * k_expr)
        / (F.col("n_cust").cast("double") + k_expr),
        6,
    )
    return nation.crossJoin(F.broadcast(var)).select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        "n_cust",
        "k_conv",
        # decimal(9,6) -> double at the output boundary (DECIMAL outputs
        # driver-fragile); the 6dp quantization stays internal
        F.col("rate").cast("double").alias("raw_rate"),
        shrunk.alias("shrunk_rate"),
    )


def lineitem_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log price elasticity — closed-form OLS slope of
    ln(quantity) on ln(price) over order lines, the demand-curve
    estimate a pricing pipeline fits in one aggregate pass (never an
    iterative solver):

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    Float discipline: ln runs on the 2-dp-rounded price and the integral
    quantity; each per-row term (x, y, xy, xx) rounds 12dp into
    DECIMAL(28,12) so the four sums are exact and order-free; slope and
    intercept are single double expressions rounded 6dp.

    Scale: one broadcast join (part dimension) + one brand-keyed
    aggregate — the whole regression is map-side partial-aggregatable.

    ``fan_out`` before the projection — the byte-small lineitem file
    yields only 3 input splits, so the per-row ln + 12-dp round +
    DECIMAL(28,12) work (the exactness contract, unchanged) ran on 3 of
    32 cores.  One cheap shuffle of the narrow projected rows buys full
    parallelism for the expensive stage; conditional, so a 100 TB scan
    (thousands of splits) skips it.  ABBA interleaved A/B at sf0.1:
    2.44/2.82 -> 1.21/1.31 s (min/med of 6), values identical at 2 SFs.
    Also examined and refuted: decimal(18,12) per-row terms
    (compact-long decimals; same values, same sum type) — a wash, the
    cost was never the decimal width."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_extendedprice"), 2).alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    x = F.log(F.col("price"))
    y = F.log(F.col("qty").cast("double"))
    rows = fan_out(li).join(F.broadcast(part), "l_partkey").select(
        "p_brand",
        F.round(x, 12).cast("decimal(28,12)").alias("x"),
        F.round(y, 12).cast("decimal(28,12)").alias("y"),
        F.round(x * y, 12).cast("decimal(28,12)").alias("xy"),
        F.round(x * x, 12).cast("decimal(28,12)").alias("xx"),
    )
    agg = rows.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    nn = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    slope = (nn * F.col("sxy").cast("double") - sx * sy) / (
        nn * F.col("sxx").cast("double") - sx * sx
    )
    return agg.select(
        "p_brand",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / nn, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Timeseries repair / decomposition (X229-X230)
# ---------------------------------------------------------------------------

def events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill + linear interpolation of the per-type hourly
    count series — the timeseries-repair primitive (timescaledb's
    time_bucket_gapfill + interpolate) Spark has no built-in for: the
    hour spine comes from sequence(), missing interior hours interpolate
    between the bracketing observations, and edge gaps carry the nearest
    observation (ffill/bfill).

    Exactness: gap positions and widths are INTEGER hour differences
    (epoch-seconds div 3600); the interpolation is one double expression
    from integer inputs, rounded 6dp identically on both engines.

    Scale: the spine is calendar-bounded (|hours| x |types| rows — it
    NEVER grows with event volume); the prev/next windows are keyed by
    type.  Output: (event_type, hr, was_gap, filled)."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bounds = hourly.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine_hours = bounds.select(
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    spine = spine_hours.crossJoin(F.broadcast(types))
    j = spine.join(hourly, ["event_type", "hr"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("c").isNotNull(), F.col("hr"))
    marked = j.select(
        "event_type",
        "hr",
        "c",
        F.last("c", ignorenulls=True).over(wp).alias("prev_c"),
        F.last(obs_hr, ignorenulls=True).over(wp).alias("prev_hr"),
        F.first("c", ignorenulls=True).over(wn).alias("next_c"),
        F.first(obs_hr, ignorenulls=True).over(wn).alias("next_hr"),
    )
    pos = (
        (F.unix_timestamp("hr") - F.unix_timestamp("prev_hr")) / 3600
    ).cast("long")
    width = (
        (F.unix_timestamp("next_hr") - F.unix_timestamp("prev_hr")) / 3600
    ).cast("long")
    interp = F.col("prev_c").cast("double") + (
        F.col("next_c").cast("double") - F.col("prev_c").cast("double")
    ) * (pos.cast("double") / width.cast("double"))
    filled = (
        F.when(F.col("c").isNotNull(), F.col("c").cast("double"))
        .when(F.col("prev_c").isNull(), F.col("next_c").cast("double"))
        .when(F.col("next_c").isNull(), F.col("prev_c").cast("double"))
        .otherwise(interp)
    )
    return marked.select(
        "event_type",
        "hr",
        F.col("c").isNull().alias("was_gap"),
        F.round(filled, 6).alias("filled"),
    )


def events_haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet detail energy of the per-type hourly
    count series, levels 1-3 — the multi-resolution burstiness readout
    (level 1 = hour-to-hour jitter, level 3 = 8-hour-block structure)
    signal pipelines compute before choosing a smoothing scale.

    ALL-INTEGER: the series zero-fills the calendar spine (720 hours —
    even through three halvings); level-k details are differences of
    unnormalized pair sums (true Haar energy = energy / 2^level, a
    documented constant factor); energies are BIGINT sums of squared
    BIGINTs.

    Scale: each level is one keyed groupBy on (type, idx div 2) over a
    calendar-bounded table — the full cascade touches event data once.

    Output: (event_type, level, n_pairs, energy), |types| x 3 rows."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bounds = hourly.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    spine = (
        bounds.select(
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
            F.col("mn"),
        )
        .crossJoin(F.broadcast(hourly.select("event_type").distinct()))
    )
    series = (
        spine.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            ((F.unix_timestamp("hr") - F.unix_timestamp("mn")) / 3600)
            .cast("long")
            .alias("idx"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("v"),
        )
    )
    out = None
    cur = series
    for level in (1, 2, 3):
        paired = cur.groupBy(
            "event_type", (F.col("idx") / 2).cast("long").alias("pi")
        ).agg(
            F.sum(
                F.when(F.col("idx") % 2 == 0, F.col("v")).otherwise(-F.col("v"))
            )
            .cast("long")
            .alias("d"),
            F.sum("v").cast("long").alias("a"),
        )
        energy = paired.groupBy("event_type").agg(
            F.lit(level).cast("long").alias("level"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("energy"),
        )
        out = energy if out is None else out.unionByName(energy)
        cur = paired.select(
            "event_type", F.col("pi").alias("idx"), F.col("a").alias("v")
        )
    return out


# ---------------------------------------------------------------------------
# Market-basket association + tariff-band interval overlap
# (X236-X237)
# ---------------------------------------------------------------------------

def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (brand level):
    support / confidence / lift for every brand pair bought together in
    at least 5 orders — the one-pass co-occurrence core of
    apriori when the itemset depth is 2 (which is what retail dashboards
    actually ship).

    All counts are BIGINT; lift = (pair_n * N) / (supp_a * supp_b) and
    the two confidences are single double expressions rounded 6dp.

    Scale: baskets = one broadcast (part dim) join + (order, brand)
    distinct; the pair table forms by ORDER-KEY EQUI-JOIN (never a
    cartesian — pair cardinality is basket-size-bounded per order);
    brand supports broadcast back (brand dimension is small).  The
    basket frame feeds FOUR consumers (order count, supports, both pair
    sides), so it is hash-partitioned by the order key once and
    checkpointed: the distinct dedup becomes partition-local
    (orderkey partitioning satisfies the (orderkey, brand) clustering),
    the pair self-join co-partitions with zero further shuffles, and
    the countDistinct partial runs in place.  1x 1.8 -> 1.4 s,
    10x 3.0 -> 2.6 s, slope 3.23 -> ~1.9, rows identical.

    Checkpoint trade-off (same note as dedup._truncate_lineage):
    the eager localCheckpoint executes the basket build at CONSTRUCTION
    time and its blocks are executor-lifetime-bound — on a real cluster a
    lost executor kills the frame and the job must restart.  eager=True is
    kept deliberately: a lazy checkpoint materializes under the first
    action, where the four consumers' tasks can race the un-checkpointed
    subtree and replay the lineitem shuffle per consumer (the exact cost
    the checkpoint removes).  The part-level basket queries avoid the
    whole question via the at-rest substrate (mining.shared_basket_items);
    this brand-level basket stays in-query because it is already
    dimension-bounded after the brand projection."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    basket = (
        li.join(F.broadcast(part), "l_partkey")
        .select("l_orderkey", F.col("p_brand").alias("brand"))
        .repartition(F.col("l_orderkey"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_orders = basket.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    supp = basket.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("supp")
    )
    a = basket.select("l_orderkey", F.col("brand").alias("brand_a"))
    b = basket.select("l_orderkey", F.col("brand").alias("brand_b"))
    pair = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
        .where(F.col("pair_n") >= 5)
    )
    sa = supp.select(F.col("brand").alias("brand_a"), F.col("supp").alias("supp_a"))
    sb = supp.select(F.col("brand").alias("brand_b"), F.col("supp").alias("supp_b"))
    out = (
        pair.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
    )
    return out.select(
        "brand_a",
        "brand_b",
        "pair_n",
        "supp_a",
        "supp_b",
        F.round(
            F.col("pair_n").cast("double")
            * F.col("n_orders").cast("double")
            / (F.col("supp_a").cast("double") * F.col("supp_b").cast("double")),
            6,
        ).alias("lift"),
        F.round(
            F.col("pair_n").cast("double") / F.col("supp_a").cast("double"), 6
        ).alias("conf_a_to_b"),
    )


def join_interval_overlap_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted tariff-band attribution: each event opens a 5-minute
    activity interval; the interval's seconds apportion EXACTLY across
    the four fixed day-part bands (night 0-6, morning 6-12, afternoon
    12-18, evening 18-24) — the billing-proration / capacity-accounting
    join (interval x recurring calendar bands) with no interval-join
    primitive needed.

    Exactness: all boundary arithmetic is BIGINT epoch seconds (UTC
    midnight = epoch mod 86400); a 5-minute interval crosses at most one
    band boundary, so its two candidate (day, band) cells come from its
    endpoints (array_distinct + explode, 1-2 rows per event) and the
    clamped overlap GREATEST/LEAST stays integral.  The total attributed
    seconds equal exactly 300 * n_events — reconciliation built in.

    Scale: scan-stage arithmetic + ONE 4-key aggregate.  Output:
    (band, n_events_touching, total_overlap_seconds)."""
    ev = load(spark, sf_dir, "events").select(
        F.unix_timestamp(F.col("ts").cast("timestamp")).alias("s")
    ).withColumn("e", F.col("s") + 300)
    cell = lambda t: F.struct(
        (t - t % 86400).alias("d"), ((t % 86400) / 21600).cast("long").alias("i")
    )
    cand = ev.select(
        "s",
        "e",
        F.explode(
            F.array_distinct(F.array(cell(F.col("s")), cell(F.col("e") - 1)))
        ).alias("c"),
    )
    bs = F.col("c.d") + F.col("c.i") * 21600
    overlap = F.least(F.col("e"), bs + 21600) - F.greatest(F.col("s"), bs)
    label = (
        F.when(F.col("c.i") == 0, "night")
        .when(F.col("c.i") == 1, "morning")
        .when(F.col("c.i") == 2, "afternoon")
        .otherwise("evening")
    )
    return (
        cand.select(label.alias("band"), overlap.alias("ov"))
        .where(F.col("ov") > 0)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events_touching"),
            F.sum("ov").cast("long").alias("total_overlap_seconds"),
        )
    )


# ---------------------------------------------------------------------------
# Parametric test battery (ANOVA F, Welch t), Nelson-Aalen hazard
# ---------------------------------------------------------------------------

def events_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types — the parametric
    counterpart of events_kruskal_wallis: do per-type mean values differ
    more BETWEEN types than the within-type spread explains?  The
    standard first gate of a metrics review when normality is assumed.

    Float discipline (the kruskal/mann-whitney pattern): values quantize
    to integer cents, and all three moments per group — n, sum, sum of
    squares — are EXACT (long / DECIMAL(38,0)); SSB and SSW reduce to
    rational expressions of those moments evaluated in one double
    expression each (identical formula in the oracle), rounded 6 dp.
    Using SS_total = sum2 - sum^2/n per group avoids any per-row float.

    Scale: one map-side-combined groupBy over the corpus (5 groups),
    then a 5-row broadcast reduce — nothing else touches row count.

    Output: one row per event_type (n_g, mean_g) + the shared
    (f_stat, df_between, df_within) so the hash pins the decomposition."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s_g"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("q_g"),
    )
    # within-group SS per group: q_g - s_g^2 / n_g (double; exact inputs)
    ssw_g = F.col("q_g").cast("double") - (
        F.col("s_g").cast("double") * F.col("s_g").cast("double")
        / F.col("n_g").cast("double")
    )
    tot = g.groupBy().agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("decimal(38,0)").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.round(ssw_g, 6).cast("decimal(38,6)")).alias("ssw"),
        F.sum(
            F.round(
                F.col("s_g").cast("double") * F.col("s_g").cast("double")
                / F.col("n_g").cast("double"),
                6,
            ).cast("decimal(38,6)")
        ).alias("sum_sq_over_n"),
    )
    ssb = F.col("sum_sq_over_n").cast("double") - (
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    fstat = (ssb / (F.col("k").cast("double") - 1.0)) / (
        F.col("ssw").cast("double") / (F.col("n").cast("double") - F.col("k").cast("double"))
    )
    frow = tot.select(
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n") - F.col("k")).cast("long").alias("df_within"),
        F.round(fstat, 6).alias("f_stat"),
    )
    return g.crossJoin(F.broadcast(frow)).select(
        "event_type",
        "n_g",
        F.round(F.col("s_g").cast("double") / F.col("n_g").cast("double") / 100.0, 6)
        .alias("mean_g"),
        "df_between",
        "df_within",
        "f_stat",
    )


def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t between 'click' and
    'purchase' values — the AB-test workhorse when variances differ,
    completing the battery next to CUPED (variance reduction), SRM
    (allocation), and Mann-Whitney (rank form).

    Same exact-moment discipline as events_anova_f: per-arm n / sum /
    sum-of-squares in cents (exact), then t and the Welch-Satterthwaite
    degrees of freedom as single double expressions over the exact
    moments, 6 dp.  One corpus groupBy, one 2-row reduce.

    Output: one row (n_a, n_b, mean_a, mean_b, t_stat, welch_df)."""
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("decimal(38,0)").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("q"),
    )
    a = g.where(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("q").alias("q_a")
    )
    b = g.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("q").alias("q_b")
    )
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("s_a").cast("double") / na
    mb = F.col("s_b").cast("double") / nb
    # unbiased variance from exact moments: (q - s^2/n) / (n - 1)
    va = (F.col("q_a").cast("double") - F.col("s_a").cast("double") * F.col("s_a").cast("double") / na) / (na - 1.0)
    vb = (F.col("q_b").cast("double") - F.col("s_b").cast("double") * F.col("s_b").cast("double") / nb) / (nb - 1.0)
    sea, seb = va / na, vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    wdf = (sea + seb) * (sea + seb) / (
        sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(ma / 100.0, 6).alias("mean_a"),
        F.round(mb / 100.0, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(wdf, 6).alias("welch_df"),
    )


def orders_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard table for the customer
    repeat-purchase process — the additive complement of
    users_kaplan_meier (whose product-limit survival needs float-product
    care; the N-A estimator is a plain running SUM of per-interval
    hazards, so the cumulative curve is exact under the 12 dp-quantized
    decimal-sum discipline).

    Cohort: every customer's FIRST order opens an episode; the event is
    the SECOND order; episodes with no second order censor at the
    dataset's last order date.  Durations bucket into 30-day intervals.
    For interval t: n_event(t) = episodes ending in t by an event,
    n_risk(t) = episodes with duration >= t's start (exact longs via a
    suffix sum over the ~20-row interval table); hazard = n_event /
    n_risk (6 dp) and cum_hazard = running sum of 12 dp-quantized
    hazards.

    Scale: one groupBy per customer (first/second order date), one
    interval groupBy, windows only over the interval table (bounded by
    observation span / 30 days, never row count).

    Output: one row per 30-day interval
    (interval_idx, n_risk, n_event, hazard, cum_hazard)."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d")
    )
    horizon = orders.agg(F.max("d").alias("end_d"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("d").alias("first_d"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    # second order date: min date strictly after first_d (episode event)
    second = (
        orders.join(per_cust.select("o_custkey", "first_d"), "o_custkey")
        .where(F.col("d") > F.col("first_d"))
        .groupBy("o_custkey")
        .agg(F.min("d").alias("second_d"))
    )
    episodes = (
        per_cust.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            (F.col("second_d").isNotNull()).alias("is_event"),
            F.floor(
                F.datediff(
                    F.coalesce("second_d", "end_d"), F.col("first_d")
                ) / 30
            ).cast("long").alias("interval_idx"),
        )
    )
    per_int = episodes.groupBy("interval_idx").agg(
        F.sum(F.col("is_event").cast("long")).cast("long").alias("n_event"),
        F.count(F.lit(1)).cast("long").alias("n_end"),
    )
    # n_risk(t) = suffix sum of episode ends at interval >= t
    w = Window.orderBy(F.col("interval_idx").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risky = per_int.withColumn("n_risk", F.sum("n_end").over(w).cast("long"))
    hz = F.col("n_event").cast("double") / F.col("n_risk").cast("double")
    wc = Window.orderBy("interval_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risky.withColumn("hq", F.round(hz, 12).cast("decimal(28,12)"))
        .select(
            "interval_idx",
            "n_risk",
            "n_event",
            F.round(hz, 6).alias("hazard"),
            F.round(F.sum("hq").over(wc).cast("double"), 6).alias("cum_hazard"),
        )
    )


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition (STL-style, single pass) of
    the hourly event-volume series: trend = centered 25-hour moving
    average, seasonal = hour-of-day mean of the detrended series,
    residual = what's left — the decomposition a capacity model or
    anomaly detector consumes before alerting on raw volume.

    Float discipline: hourly counts are exact longs; the trend at each
    hour is an exact 25-long SUM (ROWS +-12, only hours with the full
    window) divided once into a double; detrended values quantize to
    12 dp decimals so the per-hour-of-day seasonal mean is a decimal
    sum / long count; residual moments re-quantize the same way.  Every
    reduction is over exact or quantized terms — engine-portable.

    Scale: the raw corpus collapses to the hourly rollup (one
    map-side-combined groupBy); every window after that runs on the
    CALENDAR-BOUNDED hourly table (720 rows/month — grows with time
    span, never event count), so the global ordered window is a bounded
    single task by design, exactly like events_hourly_acf.

    Output: 24 rows (hour_of_day, n_hours, seasonal, mean_abs_resid)."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("h").rowsBetween(-12, 12)
    t = hourly.select(
        "h",
        "y",
        F.sum("y").over(w).cast("long").alias("win_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
    ).where(F.col("win_n") == 25)
    det = t.select(
        F.hour("h").cast("long").alias("hour_of_day"),
        F.round(
            F.col("y").cast("double") - F.col("win_sum").cast("double") / 25.0,
            12,
        ).cast("decimal(28,12)").alias("dq"),
    )
    seas = det.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("dq").alias("dsum"),
    ).select(
        "hour_of_day",
        "n_hours",
        F.round(
            F.col("dsum").cast("double") / F.col("n_hours").cast("double"), 12
        ).cast("decimal(28,12)").alias("seasonal_q"),
    )
    resid = (
        det.join(F.broadcast(seas), "hour_of_day")
        .select(
            "hour_of_day",
            "n_hours",
            "seasonal_q",
            F.round(
                F.abs(
                    F.col("dq").cast("double")
                    - F.col("seasonal_q").cast("double")
                ),
                12,
            ).cast("decimal(28,12)").alias("aq"),
        )
        .groupBy("hour_of_day", "n_hours", "seasonal_q")
        .agg(F.sum("aq").alias("asum"))
    )
    return resid.select(
        "hour_of_day",
        "n_hours",
        F.round(F.col("seasonal_q").cast("double"), 6).alias("seasonal"),
        F.round(
            F.col("asum").cast("double") / F.col("n_hours").cast("double"), 6
        ).alias("mean_abs_resid"),
    )


def events_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization + motif mining of the hourly volume series:
    each hour's count maps to a quartile symbol a-d, consecutive
    symbols form 3-grams, and the most frequent motifs are
    the series' recurring shapes (Lin et al.'s SAX, the standard
    discretization for time-series pattern mining at scale).

    Exactness: breakpoints are PICKED order statistics (the repo's
    order-statistic discipline — value at row floor((n+1)*q/4) of the
    (count, hour) total order, never interpolated), symbols are integer
    comparisons against those picked values, and motif counting is
    string aggregation — no float appears anywhere.

    Scale: corpus -> hourly rollup (one groupBy); ranks, picks, lead
    windows, and motif counts all run on the calendar-bounded hourly
    table, like events_stl_decompose.

    Output: top 10 (motif, n_occurrences) by (count desc, motif)."""
    motif_len = 3
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    n_total = hourly.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = hourly.withColumn(
        "rnk", F.row_number().over(Window.orderBy("y", "h")).cast("long")
    )
    # the pick positions depend on n, so express them as a filter on the
    # broadcast-joined total rather than a literal
    picks = (
        ranked.crossJoin(F.broadcast(n_total))
        .where(
            (F.col("rnk") == F.floor((F.col("n") + 1) / 4).cast("long"))
            | (F.col("rnk") == F.floor((F.col("n") + 1) * 2 / 4).cast("long"))
            | (F.col("rnk") == F.floor((F.col("n") + 1) * 3 / 4).cast("long"))
        )
        .select(
            F.when(
                F.col("rnk") == F.floor((F.col("n") + 1) / 4).cast("long"), "q1"
            )
            .when(
                F.col("rnk") == F.floor((F.col("n") + 1) * 2 / 4).cast("long"),
                "q2",
            )
            .otherwise("q3")
            .alias("which"),
            "y",
        )
        .groupBy()
        .pivot("which", ["q1", "q2", "q3"])
        .agg(F.first("y"))
    )
    sym = (
        hourly.crossJoin(F.broadcast(picks))
        .select(
            "h",
            F.when(F.col("y") <= F.col("q1"), "a")
            .when(F.col("y") <= F.col("q2"), "b")
            .when(F.col("y") <= F.col("q3"), "c")
            .otherwise("d")
            .alias("s"),
        )
    )
    wl = Window.orderBy("h")
    grams = sym.select(
        F.concat(
            *[F.lead("s", i).over(wl) if i else F.col("s") for i in range(motif_len)]
        ).alias("motif")
    ).where(F.length("motif") == motif_len)
    return (
        grams.groupBy("motif")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "motif")
        .limit(10)
    )


def profile_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profiler for the three hot join/agg keys (orders.custkey,
    lineitem.partkey, lineitem.suppkey): rows, distinct keys, share of
    the top-1 and top-10 keys, and the Gini coefficient of the key-count
    distribution — the report that decides WHICH keys need the salting /
    distribute_threshold guards (operators/skew.py, bucket_pairs) before
    a 100 TB run, turning this repo's skew defenses from folklore into a
    measured gate.

    Exactness: per-key counts are longs; ranks come from
    two_phase_global_rank over (count, key) — picked total order, no
    interpolation; Gini = (2*sum(i*c_i))/(K*N) - (K+1)/K with sum(i*c_i)
    an exact DECIMAL(38,0); shares are single int/int doubles, 6 dp.

    Scale: one map-side-combined groupBy per family builds the key-count
    table (distinct-key-bounded); the rank is the two-phase form, so no
    single-task window even when a family has billions of keys.

    Output: one row per family
    (family, n_rows, n_keys, top1_share, top10_share, gini)."""
    fams = [
        ("orders.o_custkey", load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))),
        ("lineitem.l_partkey", load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))),
        ("lineitem.l_suppkey", load(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))),
    ]
    outs = []
    for fam, df in fams:
        counts = df.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("c"))
        # the ranked frame feeds BOTH the totals and the top-10 slice, and
        # the two-phase rank itself joins the frame with an aggregate OF
        # the frame — truncate once per family (the IPF/pagerank
        # discipline) so neither consumer re-executes the rank subtree
        ranked = two_phase_global_rank(
            counts, F.col("c"), [F.col("c"), F.col("k")], out="i"
        ).localCheckpoint(eager=False)
        tot = ranked.groupBy().agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("top1"),
            F.sum(
                F.col("i").cast("decimal(38,0)") * F.col("c").cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("ic"),
        )
        top10 = (
            ranked.crossJoin(F.broadcast(tot.select("n_keys")))
            .where(F.col("i") > F.col("n_keys") - 10)
            .groupBy()
            .agg(F.sum("c").cast("long").alias("top10"))
        )
        kd = F.col("n_keys").cast("double")
        nd = F.col("n_rows").cast("double")
        outs.append(
            tot.crossJoin(F.broadcast(top10)).select(
                F.lit(fam).alias("family"),
                "n_rows",
                "n_keys",
                F.round(F.col("top1").cast("double") / nd, 6).alias("top1_share"),
                F.round(F.col("top10").cast("double") / nd, 6).alias("top10_share"),
                F.round(
                    2.0 * F.col("ic").cast("double") / (kd * nd)
                    - (kd + 1.0) / kd,
                    6,
                ).alias("gini"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def join_semi_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit broadcast hash-bucket prune — the
    manual form of runtime row-level filtering: orders qualify when ANY
    of their lineitems shipped in 1995H2+; before the exact LEFT SEMI
    shuffle, the probe side drops every order whose key hashes to a
    bucket no build-side key occupies.

    The prune is a SUPERSET filter (hash buckets admit false positives,
    never false negatives), so composing it with the exact semi join is
    LOSSLESS — the oracle is the plain EXISTS.  At 100 TB this is the
    difference between shuffling the full probe table and shuffling the
    ~selectivity fraction that can possibly match: the 2^20-bucket
    distinct table broadcasts in single-digit MBs, and Spark's own
    InSubquery runtime filter (spark.sql.optimizer.runtimeFilter.*) is
    the automatic twin of exactly this rewrite.  The bucket space must
    TRACK the build side (~8x its distinct keys, here 2^20 for ~150k
    keys at sf0.1): a 10x scaling run against a fixed 2^16 measured the
    prune saturating — every bucket occupied, filter pass-through —
    which is the classic under-sized-bloom failure, so size m with the
    build cardinality exactly as a real bloom filter would.

    Output: per o_orderpriority (n_orders, total_price 2 dp exact sum)."""
    lit_filtered = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        .select("l_orderkey")
    )
    buckets = (
        lit_filtered.select(
            F.pmod(F.xxhash64("l_orderkey"), F.lit(1048576)).alias("b")
        ).distinct()
    )
    orders = load(spark, sf_dir, "orders").withColumn(
        "b", F.pmod(F.xxhash64("o_orderkey"), F.lit(1048576))
    )
    pruned = orders.join(F.broadcast(buckets), "b", "left_semi")
    hits = pruned.join(
        lit_filtered,
        pruned.o_orderkey == lit_filtered.l_orderkey,
        "left_semi",
    )
    return hits.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        # cents-exact decimal sum internally, double at the output
        # boundary (DECIMAL outputs driver-fragile)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total_price"),
    )


def orders_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy duplicate-invoice detection — the finance-ops ER rule: two
    orders of the SAME customer whose totals differ by <= 1% and whose
    dates are <= 3 days apart are candidate double-bookings.

    Plan: candidates form via the BINNED range-join pattern
    (join_range_binned): both sides key on (custkey, floor(epoch_day/4))
    and the probe side explodes into its bin and the two adjacent bins,
    so a <= 3-day date predicate becomes a pure equi-join (never a
    non-equi nested loop); the exact verify then applies both fuzzy
    predicates in integer arithmetic — dates as epoch days, totals as
    cents with 100*|c1-c2| <= max(c1,c2) (exactly 'within 1%', no float
    tolerance anywhere).  At 100 TB the shuffle key is (custkey, bin):
    per-customer-per-week work, unsalted because invoice counts per
    customer are business-bounded.

    Output: per days_apart 0..3 (n_pairs, n_customers)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderkey").alias("k"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("ed"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    binned = o.withColumn("b", F.floor(F.col("ed") / 4).cast("long"))
    probe = binned.withColumn(
        "b", F.explode(F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1))
    )
    build = binned.select(
        "o_custkey",
        "b",
        F.col("k").alias("k2"),
        F.col("ed").alias("ed2"),
        F.col("cents").alias("cents2"),
    )
    pairs = (
        probe.join(build, ["o_custkey", "b"])
        .where(
            (F.col("k") < F.col("k2"))
            & (F.abs(F.col("ed") - F.col("ed2")) <= 3)
            & (
                100 * F.abs(F.col("cents") - F.col("cents2"))
                <= F.greatest("cents", "cents2")
            )
        )
        # no dedup needed: the build side keeps each order in exactly ONE
        # bin and the three exploded probe bins are distinct, so every
        # (k, k2) pair joins exactly once (a .distinct() here would
        # re-shuffle the full verified-pair set for nothing)
        .select("o_custkey", "k", "k2", "ed", "ed2")
    )
    return (
        pairs.select(
            "o_custkey", F.abs(F.col("ed") - F.col("ed2")).cast("long").alias("days_apart")
        )
        .groupBy("days_apart")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )


def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling of the embedding table to the MINORITY
    class count — the standard rebalancing step before contrastive /
    classifier training when labels are skewed.  Kept rows per class are
    the first n_min in deterministic md5(vec_id) order (a seedless
    uniform draw, reproducible across engines and partitionings — the
    sample_hash_deterministic discipline).

    Plan: one label groupBy for class counts, a 1-row broadcast of the
    min, a per-class rank window (partitioned by label — parallel across
    classes; a single pathological mega-class would route through
    two_phase_global_rank with label in the bucket), and one verifying
    groupBy.  The kept-id SUM certifies the exact selection, not just
    its size.

    Output: per label (n_total, n_kept, kept_id_sum)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    n_min = counts.groupBy().agg(F.min("n").cast("long").alias("n_min"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = emb.withColumn("rnk", F.row_number().over(w).cast("long"))
    kept = F.col("rnk") <= F.col("n_min")
    return (
        ranked.crossJoin(F.broadcast(n_min))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
            F.sum(F.when(kept, F.col("vec_id")).otherwise(0))
            .cast("long")
            .alias("kept_id_sum"),
        )
    )


def profile_functional_dependency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiler — does X determine Y?  The
    data-quality check behind schema normalization, join-key validation,
    and silent-corruption alarms (a violated FD that held yesterday is a
    pipeline bug).  Four candidate FDs spanning a true key dependency, a
    business rule, and two expected-to-fail controls:
    orders: o_orderkey -> o_orderstatus (key: must hold),
            o_custkey -> o_orderpriority (control: fails);
    lineitem: l_orderkey -> l_linestatus (does one order mix statuses?),
              l_partkey -> l_suppkey (is supply single-sourced?).

    Per candidate: determinant groups, groups with >1 distinct dependent
    (violations), the violation rate (6 dp), and the worst group's
    distinct-dependent count.  Each candidate is ONE map-side-combined
    groupBy + a 1-row reduce — corpus-linear, no joins.

    Output: one row per candidate
    (fd, n_groups, n_violating, violation_rate, max_distinct_dep)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    cands = [
        ("orders.o_orderkey->o_orderstatus", orders, "o_orderkey", "o_orderstatus"),
        ("orders.o_custkey->o_orderpriority", orders, "o_custkey", "o_orderpriority"),
        ("lineitem.l_orderkey->l_linestatus", lineitem, "l_orderkey", "l_linestatus"),
        ("lineitem.l_partkey->l_suppkey", lineitem, "l_partkey", "l_suppkey"),
    ]
    outs = []
    for fd, df, det, dep in cands:
        g = df.groupBy(det).agg(
            F.countDistinct(dep).cast("long").alias("nd")
        )
        outs.append(
            g.groupBy().agg(
                F.lit(fd).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("nd") > 1).cast("long")).cast("long").alias(
                    "n_violating"
                ),
                F.round(
                    F.sum((F.col("nd") > 1).cast("long")).cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("violation_rate"),
                F.max("nd").cast("long").alias("max_distinct_dep"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Every output column below is BIGINT / STRING / double-from-exact-moments:
# DECIMAL output columns proved driver-fragile, so none are emitted.
# ---------------------------------------------------------------------------

# 24 hour-angle unit vectors, PYTHON-precomputed 12dp literals (the geo-hub
# discipline: runtime trig could differ in the last ulp between engines, a
# shared literal table cannot).  Generated by
#   [(h, round(cos(2*pi*h/24), 12), round(sin(2*pi*h/24), 12))
#    for h in range(24)]
_HOUR_ANGLES = [
    (0, "1.000000000000", "0.000000000000"),
    (1, "0.965925826289", "0.258819045103"),
    (2, "0.866025403784", "0.500000000000"),
    (3, "0.707106781187", "0.707106781187"),
    (4, "0.500000000000", "0.866025403784"),
    (5, "0.258819045103", "0.965925826289"),
    (6, "0.000000000000", "1.000000000000"),
    (7, "-0.258819045103", "0.965925826289"),
    (8, "-0.500000000000", "0.866025403784"),
    (9, "-0.707106781187", "0.707106781187"),
    (10, "-0.866025403784", "0.500000000000"),
    (11, "-0.965925826289", "0.258819045103"),
    (12, "-1.000000000000", "0.000000000000"),
    (13, "-0.965925826289", "-0.258819045103"),
    (14, "-0.866025403784", "-0.500000000000"),
    (15, "-0.707106781187", "-0.707106781187"),
    (16, "-0.500000000000", "-0.866025403784"),
    (17, "-0.258819045103", "-0.965925826289"),
    (18, "0.000000000000", "-1.000000000000"),
    (19, "0.258819045103", "-0.965925826289"),
    (20, "0.500000000000", "-0.866025403784"),
    (21, "0.707106781187", "-0.707106781187"),
    (22, "0.866025403784", "-0.500000000000"),
    (23, "0.965925826289", "-0.258819045103"),
]


def events_circular_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular (directional) statistics of event timing per type — the
    correct way to ask "when during the day does this event concentrate":
    hour-of-day is an angle, so the mean resultant length
    r = |sum_h n_h * e^{i*2*pi*h/24}| / n measures concentration (0 =
    uniform around the clock, 1 = a single hour) without the midnight
    wrap-around artifact a linear mean has.  The standard seasonality /
    bot-cadence screen next to events_fourier_strength (which certifies
    the same harmonic idea on the time axis, not the clock face).

    Determinism: the 24 unit vectors are PYTHON-precomputed 12dp string
    literals (runtime cos/sin could differ in the last ulp between
    engines); each component sum is count x DECIMAL(13,12), exact and
    order-free in DECIMAL(38,12); only the final r = sqrt(c^2+s^2)/n is
    a double expression (6dp) over those exact sums.  peak_hour /
    peak_share report the modal hour exactly (BIGINT + one division).

    Scale: ONE map-side-combined (type, hour) groupBy (bounded at
    |types| x 24 rows); everything after is arithmetic on that grid.

    Output: (event_type, n_events, peak_hour, peak_share, resultant_r).
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).cast("long").alias("h"),
    )
    # Drop unparseable timestamps (NULL hour) BEFORE the grid aggregate
    #: the DuckDB oracle's angle lookup is an INNER join
    # that silently drops such rows, while a when-chain would keep them
    # with NULL c/s terms — filtering here makes both engines treat bad
    # ts data identically instead of diverging the day it appears.
    grid = (
        ev.where(F.col("h").isNotNull())
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_h"))
    )
    # build the literal lookup as chained whens (24 branches, scan-stage)
    cos_expr = F.lit(None).cast("decimal(13,12)")
    sin_expr = F.lit(None).cast("decimal(13,12)")
    for hh, c, s in reversed(_HOUR_ANGLES):
        cos_expr = F.when(
            F.col("h") == hh, F.lit(c).cast("decimal(13,12)")
        ).otherwise(cos_expr)
        sin_expr = F.when(
            F.col("h") == hh, F.lit(s).cast("decimal(13,12)")
        ).otherwise(sin_expr)
    comp = grid.select(
        "event_type",
        "h",
        "n_h",
        (F.col("n_h").cast("decimal(18,0)") * cos_expr)
        .cast("decimal(38,12)")
        .alias("cterm"),
        (F.col("n_h").cast("decimal(18,0)") * sin_expr)
        .cast("decimal(38,12)")
        .alias("sterm"),
    )
    wmax = Window.partitionBy("event_type").orderBy(
        F.col("n_h").desc(), F.col("h").asc()
    )
    agg = (
        comp.withColumn("rk", F.row_number().over(wmax))
        .groupBy("event_type")
        .agg(
            F.sum("n_h").cast("long").alias("n_events"),
            F.max(F.when(F.col("rk") == 1, F.col("h"))).cast("long").alias(
                "peak_hour"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("n_h"))).cast("long").alias(
                "peak_n"
            ),
            F.sum("cterm").cast("decimal(38,12)").alias("csum"),
            F.sum("sterm").cast("decimal(38,12)").alias("ssum"),
        )
    )
    c_d = F.col("csum").cast("double")
    s_d = F.col("ssum").cast("double")
    return agg.select(
        "event_type",
        "n_events",
        "peak_hour",
        F.round(
            F.col("peak_n").cast("double") / F.col("n_events").cast("double"), 6
        ).alias("peak_share"),
        F.round(
            F.sqrt(c_d * c_d + s_d * s_d) / F.col("n_events").cast("double"), 6
        ).alias("resultant_r"),
    )


def orders_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-asymmetry coefficient of customer revenue per market segment
    — the inequality SHAPE gauge that gini (a single area number) cannot
    see: S = F(mu) + L(mu), where F(mu) is the fraction of customers
    earning BELOW the mean and L(mu) their share of revenue.  S < 1
    means inequality is driven by many small customers, S > 1 by a few
    whales — the classic Damgaard-Weiner decomposition every
    concentration review pairs with the Gini.

    Exactness: the below-mean test is the integer CROSS-MULTIPLY
    rev_cents * n < total_cents (never a mean division), so the
    classification is engine-exact; all moments are BIGINT cents sums
    and the two output ratios are single int/int doubles, 6dp.
    Customers EXACTLY at the mean (cents * n == total_cents — plausible
    with integer cents) take the Damgaard-Weiner HALF-WEIGHT in both
    F(mu) and L(mu) (each such customer's revenue share IS 1/n, so the
    half-weight adds e/2n to both terms), making perfectly equal
    revenues yield the conventional S = 1 instead of 0;
    n_below_mean still reports the strict-below count.

    Scale: one customer-keyed revenue aggregate, one broadcast of the
    5-row segment totals back, one segment rollup — no windows at all.

    Output: (segment, n_cust, n_below_mean, share_below, lorenz_s)."""
    rev = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    seg = rev.join(cust, "o_custkey")
    totals = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("decimal(38,0)").alias("total_cents"),
    )
    j = seg.join(F.broadcast(totals), "segment")
    below = (
        F.col("cents").cast("decimal(38,0)") * F.col("n_cust")
        < F.col("total_cents")
    ).cast("long")
    at_mean = (
        F.col("cents").cast("decimal(38,0)") * F.col("n_cust")
        == F.col("total_cents")
    ).cast("long")
    agg = j.groupBy("segment").agg(
        F.max("n_cust").alias("n_cust"),
        F.sum(below).cast("long").alias("n_below_mean"),
        F.sum(at_mean).cast("long").alias("n_at_mean"),
        F.sum(F.when(below == 1, F.col("cents")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("below_cents"),
        F.max("total_cents").alias("total_cents"),
    )
    # term order mirrors the oracle SQL exactly (strict-F + strict-L +
    # e/n, and strict-L + e/2n) so the doubles agree bit-for-bit even
    # when the tie terms are non-zero
    n_d = F.col("n_cust").cast("double")
    f_strict = F.col("n_below_mean").cast("double") / n_d
    l_strict = (
        F.col("below_cents").cast("double") / F.col("total_cents").cast("double")
    )
    return agg.select(
        "segment",
        "n_cust",
        "n_below_mean",
        F.round(
            l_strict + F.col("n_at_mean").cast("double") / (2.0 * n_d), 6
        ).alias("share_below"),
        F.round(
            f_strict + l_strict + F.col("n_at_mean").cast("double") / n_d, 6
        ).alias("lorenz_s"),
    )


def events_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test for serial randomness of the hourly event-count
    series per type — the classic nonparametric "is this series i.i.d.
    noise or structured" screen: count STRICT local maxima and minima T
    among interior hours; under i.i.d. E[T] = 2(n-2)/3 and
    Var[T] = (16n-29)/90, so z = (T - E) / sqrt(Var) flags both
    over-smooth (trending, z << 0) and over-oscillating (alternating,
    z >> 0) series.  Complements events_runs_test (level-based) with a
    shape-based statistic.

    Exactness: T, n and both moments are exact integers (the variance is
    kept as the integer pair (16n-29, 90)); z is ONE double expression
    over them, 6dp.  Strictness (prev < cur > next) makes ties a
    non-event deterministically on both engines.

    OBSERVED-HOURS assumption (deliberate): the series is
    built from hours that HAVE events — calendar gaps collapse to
    adjacency and n_hours counts observed, not elapsed, hours.  On this
    corpus every type fires every hour, so the two definitions coincide;
    on sparser data the z-score is the turning-point test of the
    OBSERVED sub-series (the i.i.d. moments then condition on activity,
    exactly as both engines compute it — parity holds either way).  The
    gap-filled variant is events_gap_fill_interpolate's spine composed
    with this fold; keeping the raw form here preserves the certified
    definition.

    Scale: the hourly rollup is calendar-bounded; the lag/lead window
    partitions by type over that small frame — the corpus is touched by
    exactly one groupBy.

    Output: (event_type, n_hours, n_turning, expected_x3, z_score)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    marked = hourly.select(
        "event_type",
        F.lag("c").over(w).alias("prev"),
        F.col("c").alias("cur"),
        F.lead("c").over(w).alias("nxt"),
    ).where(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    turning = (
        ((F.col("prev") < F.col("cur")) & (F.col("cur") > F.col("nxt")))
        | ((F.col("prev") > F.col("cur")) & (F.col("cur") < F.col("nxt")))
    ).cast("long")
    agg = marked.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 2).cast("long").alias("n_hours"),
        F.sum(turning).cast("long").alias("n_turning"),
    )
    n = F.col("n_hours").cast("double")
    t = F.col("n_turning").cast("double")
    z = (t - 2.0 * (n - 2.0) / 3.0) / F.sqrt((16.0 * n - 29.0) / 90.0)
    return agg.select(
        "event_type",
        "n_hours",
        "n_turning",
        # 3*E[T] = 2(n-2) is exact — certify the integer, display the z
        (2 * (F.col("n_hours") - 2)).cast("long").alias("expected_x3"),
        F.round(z, 6).alias("z_score"),
    )


def orders_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness of per-customer order inter-arrival times,
    rolled up per market segment — the repeat-purchase cadence gauge:
    B = (cv - 1)/(cv + 1) per customer (cv = interarrival sd/mean), -1
    for clockwork regularity, 0 for Poisson, -> +1 for bursty
    clumping.  The behavioral twin of text_term_burstiness on the
    purchase axis.

    Exactness: interarrival gaps are integer epoch-day lags; each
    customer's (k, sum_d, sum_d2) moments are exact BIGINTs, cv and B
    are one double expression, and the per-customer B quantizes 6dp
    into DECIMAL(18,6) BEFORE the segment sum so the fold is order-free
    — the mean_burstiness output is that exact decimal sum divided
    once, cast double (no DECIMAL leaves the engine: the output
    contract).

    Scale: one (custkey) window over customer-sized partitions (the
    same shuffle the groupBy needs), a customer aggregate, a broadcast
    segment join, a 5-row rollup.

    Output: (segment, n_customers, mean_burstiness, n_bursty)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("ed"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("ed", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        (F.col("ed") - F.lag("ed").over(w)).alias("d"),
    ).where(F.col("d").isNotNull())
    mom = gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sd2"),
    ).where((F.col("k") >= 2) & (F.col("sd") > 0))
    kd = F.col("k").cast("double")
    mean = F.col("sd").cast("double") / kd
    # population variance from exact moments: (k*sd2 - sd^2) / k^2
    var = (
        kd * F.col("sd2").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
    ) / (kd * kd)
    cv = F.sqrt(var) / mean
    b = (cv - 1.0) / (cv + 1.0)
    scored = mom.select(
        "o_custkey",
        F.round(b, 6).cast("decimal(18,6)").alias("bq"),
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("segment")
    )
    return (
        scored.join(cust, "o_custkey")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.sum("bq").cast("decimal(38,6)").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_burstiness"),
            F.sum((F.col("bq") > 0).cast("long")).cast("long").alias("n_bursty"),
        )
    )
