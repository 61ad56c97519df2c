"""Streaming operators over the events stream, each verifiable in batch.

Execution pattern: every query reads the events table AS A STREAM (file
source), applies a streaming-only operator (watermark, windowed agg,
streaming dedup, arbitrary state), runs it to completion with
``trigger(availableNow=True)`` into a memory sink, and returns the final
table.  That keeps the driver contract (a callable returning a batch
DataFrame with a DuckDB oracle) while exercising the real streaming engine
— state store, watermark bookkeeping, incremental planner.

Scale notes:
 - File source at 100 TB: the directory listing is incremental
   (``maxFilesPerTrigger`` bounds batch size); state store is RocksDB in
   production (``spark.sql.streaming.stateStore.providerClass``) so keyed
   state spills to disk, not executor heap.
 - Watermarks bound state: tumbling/sliding window state is dropped once
   the watermark passes the window end; dedup state once it passes the key
   timestamp + delay.  Unbounded-state ops (complete-mode agg) are only for
   small result cardinalities (they re-emit the whole result per trigger).
 - Memory sink is a TEST harness only — production sinks are
   parquet/kafka/foreachBatch (see sinks.py for the idempotent-batch JDBC
   pattern mirroring the reference's single-transaction COPY,
   reference main.py:196-251).
"""

from __future__ import annotations

import itertools
import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from simple_land_registry_data_ingestion_spark.tables import (
    _EVENTS_RAW_SCHEMA,
    _events_ts_from_nanos,
    _events_ts_unit,
)

#: Stream schema of the events table when ``ts`` is TIMESTAMP(MICROS);
#: a TIMESTAMP(NANOS) file is read with tables._EVENTS_RAW_SCHEMA instead.
_EVENTS_TS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def _sniff_ts_unit(sf_dir: str, glob: str) -> str | None:
    """Time unit ('ns'/'us'/'ms'/None) of events.ts under sf_dir/glob —
    a driver-side footer read of the first matching file."""
    import glob as globmod

    matches = sorted(globmod.glob(os.path.join(sf_dir, glob)))
    return _events_ts_unit(matches[0]) if matches else None

_QUERY_COUNTER = itertools.count()


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The events table as a file-source STREAM.

    ``pathGlobFilter`` scopes the directory listing to the one table; the
    declared schema replaces inference (streaming file sources require it,
    and it matches the reference's inference-off discipline, reference
    main.py:207).  ``ts`` becomes TIMESTAMP (session tz = UTC) because
    watermarks reject timestamp_ntz.

    ``max_files_per_trigger`` bounds each micro-batch (the knob that keeps
    a 100 TB backlog from becoming one giant batch); with availableNow the
    stream still drains the full backlog across several triggers.
    """
    nanos = _sniff_ts_unit(sf_dir, glob) == "ns"
    schema = _EVENTS_RAW_SCHEMA if nanos else _EVENTS_TS_SCHEMA
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(sf_dir)
    if nanos:
        return raw.withColumn("ts", _events_ts_from_nanos())
    return raw


def foreach_batch_parquet_sink(df: DataFrame, path: str, checkpoint: str):
    """Production-style sink: each micro-batch lands in its own
    ``batch_id=N`` subdirectory with mode=overwrite, so a replayed batch
    (failure between write and checkpoint commit) overwrites itself instead
    of duplicating — idempotent exactly-once on top of the file source's
    at-least-once redelivery.  This is the file-sink analog of staging-then-
    swap in sinks.py (reference's single-transaction COPY, main.py:196-251).

    Returns the started StreamingQuery (caller awaits termination).
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def jdbc_idempotent_batch_writer(table: str, jdbc_options: dict[str, str]):
    """foreachBatch body for a DATABASE sink with effectively-once delivery
    AND single-transaction visibility: every batch carries its ``batch_id``,
    lands in a STAGING table first (parallel Spark JDBC write — its
    per-partition transactions touch only the staging table), and is then
    published with DELETE-old-replay + INSERT-SELECT + DROP-staging in ONE
    JVM-JDBC transaction.  A replayed batch (failure between write and
    checkpoint commit) overwrites itself instead of duplicating, and — the
    part a bare DELETE-then-append cannot give — a concurrent reader never
    observes the batch's rows missing or half-appended: it sees the target
    before the publish commit or after, exactly the reference sink's
    transactional-load discipline (reference main.py:196-251).

    Exposed as a factory (not a closure inside the sink) so the replay
    semantics are directly unit-testable by invoking the writer twice with
    the same batch_id."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from simple_land_registry_data_ingestion_spark import sinks

        spark = batch_df.sparkSession
        url = jdbc_options["url"]
        stage = f"{table}__batch_stage"
        with_id = batch_df.withColumn("batch_id", F.lit(int(batch_id)))
        # overwrite handles replay after a crash-between-stage-and-publish:
        # the orphaned staging table is simply rewritten
        (
            with_id.write.format("jdbc")
            .options(**jdbc_options)
            .option("dbtable", stage)
            .mode("overwrite")
            .save()
        )
        if not sinks.jdbc_table_exists(spark, url, table, jdbc_options):
            # first batch ever: create the (empty) target with the same
            # Spark-derived DDL as the staging table, then publish into it
            sinks.write_jdbc_append(with_id.limit(0), table, jdbc_options)
        # Spark's JDBC createTable quotes COLUMN identifiers (case
        # preserved) but writes the table name as given — so columns must
        # be double-quoted to resolve on case-folding databases.
        cols = ", ".join(f'"{c}"' for c in with_id.columns)
        sinks.run_statements_jvm_jdbc(
            spark,
            url,
            [
                f'DELETE FROM {table} WHERE "batch_id" = {int(batch_id)}',
                f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
                f"DROP TABLE {stage}",
            ],
            jdbc_options,
        )

    return _write_batch


def foreach_batch_jdbc_sink(
    df: DataFrame, table: str, jdbc_options: dict[str, str], checkpoint: str
):
    """Stream into a relational table through the idempotent batch writer.
    Returns the started StreamingQuery (caller awaits termination)."""
    return (
        df.writeStream.foreachBatch(jdbc_idempotent_batch_writer(table, jdbc_options))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_table(
    df: DataFrame, output_mode: str, state_partitions: int | None = 8
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the materialized result as a batch DataFrame.

    ``state_partitions`` pins the stream's shuffle-partition count for the
    lifetime of the query (set before start, restored after): every
    stateful operator opens ONE STATE STORE PER PARTITION, and at
    test/bench scale 32 stores per query is pure constant overhead
    (measured 2-2.5x on session-window/stateful queries at sf0.1 going
    32 -> 8).  A streaming query's partitioning is fixed at its FIRST run
    (recorded in the checkpoint), which is exactly why it must be sized to
    the stream's key cardinality and throughput — at production scale set
    it high once; it cannot be changed later without a new checkpoint.

    The temp view is dropped immediately: the returned DataFrame's resolved
    plan keeps the sink's rows alive until the caller releases it, but the
    catalog entry (and with it a permanent driver-side reference to the
    result) must not leak once per invocation — a bench loop or long
    session would otherwise accumulate every result ever produced.

    TRANSIENT-FAILURE POLICY: a state-store commit race (maintenance
    thread vs a finishing task, observed under many-streams-per-JVM load
    as an HDFSBackedStateStore/RocksDB commit abort) fails the QUERY even
    though nothing is wrong with the plan or data.  Since an availableNow
    run into a fresh memory sink is idempotent — rerunning from a FRESH
    checkpoint recomputes the same result — one retry against a new query
    name/checkpoint is safe and turns an operational race into a
    non-event.  Non-state-store failures re-raise immediately."""
    spark = df.sparkSession
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # Two state-store costs that buy NOTHING for an ephemeral
    # availableNow run into a fresh checkpoint (set for the query's
    # lifetime, restored after):
    #  - checkpoint file checksums (Spark 4) write a sidecar file per
    #    state commit — recovery insurance for a checkpoint this helper
    #    never restarts from (every run, and every retry below, starts a
    #    FRESH checkpoint);
    #  - state-store maintenance (snapshot/cleanup) pays off over hours
    #    of micro-batches, and its background thread racing a finishing
    #    task is exactly the transient failure the retry loop below
    #    absorbs — deferring it past any plausible run removes both the
    #    cost and most of the race surface (the test JVM pins the same
    #    two values for the flake reason).
    #  A long-running production stream that restarts from its
    #  checkpoint wants both defaults back — they are scoped to this
    #  memory-sink helper, not session-wide.
    #  Paired A/B at sf0.1 (5 passes, per-query medians): full-outer
    #  interval join +0.50 s, inactivity sessions +0.22 s, tumbling
    #  append +0.41 s, two-level window +0.69 s.
    saved_extra: dict[str, str | None] = {}
    for key, fast in (
        ("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"),
        ("spark.sql.streaming.stateStore.maintenanceInterval", "3600s"),
    ):
        try:
            try:
                saved_extra[key] = spark.conf.get(key)
            except Exception:
                saved_extra[key] = None
            spark.conf.set(key, fast)
        except Exception:  # conf absent on this Spark build
            saved_extra.pop(key, None)
    try:
        # Three attempts: under heavy external machine load the
        # state-store commit race has been observed to hit two fresh
        # checkpoints back to back; each retry is idempotent (fresh
        # checkpoint + fresh memory sink), so a second retry only trades
        # seconds for not failing a correct query.
        for attempt in range(3):
            name = f"stream_result_{next(_QUERY_COUNTER)}"
            try:
                query = (
                    df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .trigger(availableNow=True)
                    .start()
                )
                query.awaitTermination()
                break
            except Exception as exc:  # StreamingQueryException or Py4J wrap
                try:
                    spark.catalog.dropTempView(name)
                except Exception:
                    pass
                if attempt < 2 and _is_state_store_race(exc):
                    continue
                raise
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
        for key, old in saved_extra.items():
            try:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)
            except Exception:
                pass
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


#: Refuted, kept on the record: a RAM-backed (/dev/shm) ephemeral
#: checkpoint for this helper was implemented and looked like a
#: -0.15..-0.35 s/query win in a fixed-order interleaved A/B — but under
#: ABBA order alternation (reversing which variant runs first on
#: alternate passes) the effect vanished on every query where it was the
#: only variable (inactivity/tumbling-append/session-window medians
#: within noise, two slightly NEGATIVE).  The fixed-order "win" was JIT/
#: codegen warmth favoring whichever variant ran second; the local temp
#: checkpoint's writes are page-cache-absorbed anyway.  Reverted.
def _is_state_store_race(exc: Exception) -> bool:
    """True when a streaming-query failure is a state-store commit/load
    race rather than a plan or data error.  Matched on the rendered cause
    chain: provider class names and the commit/abort verbs they emit."""
    msg = str(exc)
    return ("StateStore" in msg or "state store" in msg) and (
        "commit" in msg or "Commit" in msg or "abort" in msg or "load" in msg
    )


def _ntz(col: str) -> F.Column:
    """Memory-sink timestamps back to ntz so driver-side collect() cannot
    shift them through the Python process's local timezone."""
    return F.col(col).cast("timestamp_ntz")


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation, complete mode (emits the full
    result at end-of-stream, so it equals the batch GROUP BY)."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    out = run_stream_to_table(agg, "complete")
    return out.select(
        _ntz("w.start").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour window, 1-hour slide: each event lands in 2 windows."""
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_table(agg, "complete")
    return out.select(
        _ntz("w.start").alias("window_start"),
        _ntz("w.end").alias("window_end"),
        "n_events",
    )


def stream_tumbling_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling window behind a 1-hour watermark: only windows
    the final watermark has passed are emitted; later windows' state is
    discarded at end-of-stream.  This is the REAL late-data semantics
    (complete mode above is the no-loss baseline)."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_table(agg, "append")
    return out.select(
        _ntz("w.start").alias("window_start"), "user_id", "n_events"
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    agg = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_stream_to_table(agg, "append")
    return out.select(
        _ntz("w.start").alias("session_start"),
        _ntz("w.end").alias("session_end"),
        "user_id",
        "n_events",
    )


def stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INTERVAL join: each purchase event joins the same
    user's click events from the preceding 30 minutes — the
    attribution/sessionization join pattern, as a real two-stream stateful
    join (both sides buffer keyed state; the watermark + interval bound is
    what lets the engine EVICT state, so memory is bounded by the interval,
    not the stream length).

    Inner interval joins in append mode emit every match once both sides
    have arrived, so running to end-of-stream (availableNow) equals the
    batch self-join — which is the DuckDB oracle.  The joined rows stream
    out; the per-user rollup happens in batch on the materialized result
    (aggregation-after-join would need multi-stateful-operator watermark
    propagation and buys nothing for a verifiable query)."""
    clicks = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    # 4 state partitions, not the helper's 8 — an interval join opens
    # FOUR state store instances per partition and per-key state here is
    # tiny (1500 users), so per-store commit constants dominate.  ABBA
    # interleaved A/B at sf0.1 (6 passes, order alternated): medians
    # improve on all three interval joins (this one 2.30 -> 2.27; the
    # outer joins -0.08..-0.25), mins non-negative 6/6 rows.
    out = run_stream_to_table(joined, "append", state_partitions=4)
    return out.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed_pairs"),
        F.countDistinct("p_event").alias("n_purchases_with_prior_click"),
    )


def stream_left_outer_interval_join(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the production attribution
    shape: EVERY purchase emits, either matched to the same user's clicks
    from the preceding 30 minutes, or with NULL click columns once the
    watermark proves no such click can still arrive.

    This is the query that exercises state EVICTION, not just state
    matching: an unmatched purchase sits in the join state until the
    global watermark (min over both sides of max-event-time - delay)
    passes its interval's upper bound, at which point the engine emits the
    null row and drops the state — the memory bound at 100 TB is the
    interval + watermark delay, never the stream length.

    End-of-stream semantics (availableNow): matched rows equal the batch
    left-join's matched rows; null rows appear ONLY for purchases whose
    interval the FINAL watermark passed — purchases younger than the
    final watermark are withheld and their state discarded.  The DuckDB
    twin applies the same final-watermark filter to the null side."""
    watermark = "1 hour"
    clicks = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    )
    # 4 state partitions (see stream_stream_interval_join) — ABBA
    # A/B 2.22/2.66 -> 2.15/2.41 min/med.
    out = run_stream_to_table(joined, "append", state_partitions=4)
    return out.groupBy(F.col("p_user").alias("user_id")).agg(
        F.count_distinct("p_event").alias("n_purchases_emitted"),
        F.sum(F.when(F.col("c_event").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_attributed_pairs"),
        F.sum(F.when(F.col("c_event").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched_purchases"),
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first occurrence of each (user_id, event_type) key.

    Keys are projected BEFORE the dedup so the surviving row is fully
    determined by the key (dropDuplicates keeps an arbitrary first-seen row;
    projecting first makes the operator deterministic and oracle-checkable).
    The watermark bounds state: a key older than max(ts)-delay is evictable.
    """
    dedup = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "24 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_table(dedup, "append")


def _user_stats_state_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Arbitrary stateful aggregation: running (count, sum, max_ts) per user.

    State persists across triggers in the state store; each trigger folds
    its rows into the state and emits the updated row.  With availableNow
    over a static directory there is one trigger, so the emitted rows equal
    the batch GROUP BY — which is what makes this oracle-verifiable.
    """
    (user_id,) = key
    n, total, max_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        # Arrow hands ts over as datetime64 with engine-dependent resolution
        # (ns on this build); normalize to micros explicitly before taking
        # the integer max so the state value is resolution-independent.
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        max_us = max(max_us, int(ts_us.max()))
    state.update((n, total, max_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [round(total, 2)],
            "max_ts_us": [max_us],
        }
    )


INACTIVITY_GAP_MINUTES = 30


def _inactivity_session_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """EventTimeTimeout sessionizer: per user, an open activity window
    (start, last, n) lives in state; a CLOSED session row is emitted when
    either (a) the watermark passes last_event + gap — the TIMEOUT path,
    state removed, which is how idle users' state leaves the store — or
    (b) a same-user event arrives more than gap after the previous one —
    the in-data path, closing the old window and opening a new one.

    This is the custom stateful operator the built-in session_window cannot
    express when the per-session output needs arbitrary Python logic; the
    timeout discipline is what bounds the state store to ACTIVE users."""
    (user_id,) = key
    gap_us = INACTIVITY_GAP_MINUTES * 60 * 1_000_000
    closed: list[tuple[int, int, int]] = []
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        closed.append((start_us, last_us, n))
        state.remove()
    else:
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        ts_all: list[int] = []
        for pdf in batches:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            ts_all.extend(int(t) for t in ts_us)
        for t in sorted(ts_all):
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us >= gap_us:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((start_us, last_us, n))
        # event-time timeouts are set in MILLISECONDS
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "session_start_us": [c[0] for c in closed],
            "session_end_us": [c[1] for c in closed],
            "n_events": [c[2] for c in closed],
        }
    )


def stream_inactivity_sessions(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Closed user sessions via the EventTimeTimeout stateful operator.
    Only sessions the watermark has proven over (last event + gap passed)
    emit; a still-open session's state is simply dropped at end-of-stream
    — the same withholding discipline as append-mode windows."""
    sessions = (
        events_stream(spark, sf_dir, glob, max_files_per_trigger)
        .withWatermark("ts", "10 minutes")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _inactivity_session_fn,
            outputStructType=(
                "user_id long, session_start_us long, session_end_us long, "
                "n_events long"
            ),
            stateStructType="start_us long, last_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    out = run_stream_to_table(sessions, "append")
    return out.select(
        "user_id",
        F.timestamp_micros(F.col("session_start_us")).cast("timestamp_ntz").alias(
            "session_start"
        ),
        F.timestamp_micros(F.col("session_end_us")).cast("timestamp_ntz").alias(
            "session_end"
        ),
        "n_events",
    )


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    stats.  The pattern for operators Spark lacks natively (SURVEY §2.10) —
    Arrow-batched, keyed state store, watermark-driven eviction."""
    stats = (
        events_stream(spark, sf_dir)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_state_fn,
            outputStructType="user_id long, n_events long, sum_value double, max_ts_us long",
            stateStructType="n long, total double, max_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_stream_to_table(stats, "update")
    return out.select(
        "user_id",
        "n_events",
        "sum_value",
        F.timestamp_micros(F.col("max_ts_us")).cast("timestamp_ntz").alias("max_ts"),
    )


#: Per-user top-K size for the stateful top-K operator.
TOPK_K = 3


def _user_topk_state_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Bounded per-key top-K with EXPLICIT state eviction: the state tuple
    holds at most TOPK_K (value, event_id) pairs — after merging each
    trigger's rows the list is re-sorted and TRUNCATED, so state size is
    O(users * K) however long the stream runs.  That eviction is the whole
    point: an unbounded 'keep everything, rank later' state grows with the
    stream and eventually evicts the executor instead.

    Ordering: value DESC, event_id ASC tie-break — a total order, so the
    emitted ranking is deterministic and oracle-checkable."""
    (user_id,) = key
    if state.exists:
        vals, ids = state.get
        cur = list(zip([float(v) for v in vals], [int(i) for i in ids]))
    else:
        cur = []
    for pdf in batches:
        cur.extend(
            zip(pdf["value"].astype(float), pdf["event_id"].astype("int64"))
        )
    cur.sort(key=lambda t: (-t[0], t[1]))
    cur = cur[:TOPK_K]  # eviction: state never exceeds K entries
    state.update(([v for v, _ in cur], [int(i) for _, i in cur]))
    yield pd.DataFrame(
        {
            "user_id": [int(user_id)] * len(cur),
            "rank": list(range(1, len(cur) + 1)),
            "value": [v for v, _ in cur],
            "event_id": [i for _, i in cur],
        }
    )


def stream_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running top-3 event values as a custom stateful streaming
    operator (applyInPandasWithState, bounded per-key state with explicit
    eviction — see _user_topk_state_fn).

    After draining the backlog the update-mode output equals the batch
    window ranking (ROW_NUMBER over value DESC, event_id), which is the
    registered DuckDB oracle.
    """
    stream = events_stream(spark, sf_dir).select("user_id", "value", "event_id")
    topk = stream.groupBy("user_id").applyInPandasWithState(
        _user_topk_state_fn,
        outputStructType="user_id long, rank long, value double, event_id long",
        stateStructType="vals array<double>, ids array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_stream_to_table(topk, "update")
    return out.select(
        "user_id", "rank", F.round("value", 2).alias("value"), "event_id"
    )


def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: each streaming event is enriched with a static
    dimension row (customer, keyed by user_id = c_custkey) and aggregated
    per market segment.

    The static side is planned as a BATCH relation inside the incremental
    plan — re-resolved per micro-batch (picking up dimension updates
    between triggers), broadcast under the size threshold, and requiring
    NO watermark or state: only stream-stream joins buffer.  That is why
    enrichment dims should stay static-side at 100 TB instead of being fed
    through the stream.  Inner join drops events without a dimension row
    (user ids beyond the customer table), matching the batch oracle.
    """
    from simple_land_registry_data_ingestion_spark.tables import load as load_batch

    customers = load_batch(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        events_stream(spark, sf_dir)
        .select("user_id", "value")
        .join(customers, "user_id")  # stream-static: static side broadcast
        .groupBy("c_mktsegment")
        .agg(
            # no countDistinct: distinct aggregates are unsupported on
            # streams (state would be per-distinct-value); approx_count_
            # distinct is the streaming answer when cardinality is needed
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_stream_to_table(enriched, "complete")


def stream_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of relational.events_ohlc_candles: per-type daily
    OHLC candles maintained incrementally over the event stream —
    min_by/max_by are ALGEBRAIC aggregates (their partial state is one
    (key, value) pair), so Structured Streaming folds them per
    micro-batch exactly like sum/count, and the end-of-stream complete-
    mode result equals the batch GROUP BY, which is what the DuckDB twin
    certifies.  The batch/stream pair pins that a rollup can move from
    nightly to continuous without changing its numbers.

    Ordering key: the same zero-padded (epoch-micros, event_id) string
    as the batch version — deterministic across engines AND across
    micro-batch arrival orders (the key is data-derived, not
    arrival-derived)."""
    ordkey = F.format_string(
        "%020d-%012d",
        F.unix_micros(F.col("ts")),
        F.col("event_id"),
    )
    agg = (
        events_stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", ordkey), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", ordkey), 6).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("volume"),
        )
    )
    out = run_stream_to_table(agg, "complete")
    return out.select(
        _ntz("w.start").cast("date").alias("day"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_events",
        "volume",
    )


def stream_two_level_window(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS in one streaming query (Spark 3.4+
    multiple-stateful-ops support): a watermarked HOURLY windowed count
    per event type feeds a SECOND windowed aggregation that rolls the
    hourly rows up to DAILY — the hierarchical minute->hour->day rollup
    every metrics pipeline wants as one continuous query instead of a
    chain of jobs with intermediate tables.

    The chain works because ``window_time()`` re-exposes the first
    window's event time to the second stateful operator, and the
    watermark PROPAGATES: both levels run in append mode, so a window is
    emitted only once the (delayed) watermark passes its end.  At
    end-of-stream the final watermark is max(ts) - 1h, which here
    withholds the last partial day — the DuckDB twin applies the same
    two-level cutoff (hours with end <= wm, then days with end <= wm),
    so the driver row certifies the real append-mode emission semantics,
    not a complete-mode simplification.

    State at 100 TB: level 1 holds open hour windows per type (bounded
    by types x hours-in-watermark), level 2 open day windows — both
    collapse the stream before any wide state accumulates; no
    event-level state is ever kept.

    Output: (day_start, event_type, n_events, n_hours).  ``glob`` /
    ``max_files_per_trigger`` let tests replay an ordered multi-file
    split as real micro-batches."""
    hourly = (
        events_stream(
            spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
        )
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("w1"), "1 day").alias("w2"), "event_type"
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
        )
    )
    out = run_stream_to_table(daily, "append")
    return out.select(
        _ntz("w2.start").alias("day_start"),
        "event_type",
        "n_events",
        "n_hours",
    )


def stream_upsert_latest(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming UPSERT into an at-rest table via foreachBatch — the
    production CDC-sink shape (keep the LATEST row per key) without a
    transactional table format: each micro-batch is first compacted to
    its batch-local latest-per-user (map-side shrink: state never holds
    raw events), then written to its own ``batch_id=N`` directory with
    mode=overwrite, so a REPLAYED batch (failure between write and
    checkpoint commit) overwrites itself instead of duplicating —
    idempotent exactly-once on top of the file source's at-least-once
    redelivery (the same staging discipline as sinks.py's
    one-transaction swap, reference main.py:196-251).

    The at-rest table is the UNION of batch deltas; readers reconcile
    with one argmax per key over deltas — each delta is already one row
    per (user x batch), so reconciliation cost scales with keys x
    batches, not with raw events.  (With Delta/Iceberg the per-batch
    write becomes MERGE and the read-side argmax disappears; the
    dataflow — compact, idempotent write, key-resolve — is identical.)

    Ordering is the data-derived zero-padded (epoch-micros, event_id)
    key, so the result is independent of arrival order and micro-batch
    boundaries — which is exactly what the batch DuckDB twin certifies.
    ``glob`` / ``max_files_per_trigger`` let tests replay an ordered
    multi-file split as real micro-batches."""
    import shutil
    import tempfile

    ordkey = F.format_string(
        "%020d-%012d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    target = tempfile.mkdtemp(prefix="upsert_target_")
    ckpt = tempfile.mkdtemp(prefix="upsert_ckpt_")

    def _upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        compacted = (
            batch_df.withColumn("ord", ordkey)
            .groupBy("user_id")
            .agg(
                F.max("ord").alias("ord"),
                F.max_by("event_type", ordkey).alias("last_event_type"),
                F.max_by("value", ordkey).alias("last_value"),
                F.count(F.lit(1)).cast("long").alias("n_in_batch"),
            )
        )
        compacted.write.mode("overwrite").parquet(
            os.path.join(target, f"batch_id={batch_id}")
        )

    try:
        q = (
            events_stream(
                spark,
                sf_dir,
                glob=glob,
                max_files_per_trigger=max_files_per_trigger,
            )
            .writeStream.foreachBatch(_upsert_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        deltas = spark.read.option("basePath", target).parquet(target)
        resolved = (
            deltas.groupBy("user_id")
            .agg(
                F.max_by("last_event_type", F.col("ord")).alias(
                    "last_event_type"
                ),
                F.round(F.max_by("last_value", F.col("ord")), 6).alias(
                    "last_value"
                ),
                F.sum("n_in_batch").cast("long").alias("n_events"),
                F.max("ord").alias("ord"),
            )
            .select(
                "user_id",
                "last_event_type",
                "last_value",
                "n_events",
                F.timestamp_micros(
                    F.split(F.col("ord"), "-").getItem(0).cast("long")
                )
                .cast("timestamp_ntz")
                .alias("last_ts"),
            )
        )
        return resolved.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(target, ignore_errors=True)


def stream_full_outer_interval_join(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
) -> DataFrame:
    """FULL-OUTER stream-stream interval join — the audit-complete
    attribution shape: every purchase emits (matched or null-click once
    the watermark proves no click can still arrive) AND every click
    emits (matched or null-purchase once the watermark passes the last
    purchase time it could have matched).  This is the join both sides'
    state eviction runs on: purchases expire when the global watermark
    passes their own event time, clicks when it passes c_ts + 30 min
    (their match window's upper bound) — memory stays bounded by
    interval + delay on BOTH buffers.

    End-of-stream semantics (availableNow): matched rows equal the
    batch full-join's matched rows; null-click rows appear only for
    purchases with p_ts <= final watermark (boundary INCLUSIVE), and
    null-purchase rows only for clicks with c_ts + 30 min STRICTLY
    below the final watermark — the asymmetry is Spark's measured
    eviction behavior at exact-boundary event times, pinned by
    tests/test_streaming.py::test_full_outer_interval_join_watermark_boundary.
    The DuckDB twin applies both final-watermark filters explicitly
    with the same inclusivity."""
    watermark = "1 hour"
    clicks = (
        events_stream(spark, sf_dir, glob)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events_stream(spark, sf_dir, glob)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        "fullOuter",
    )
    # 4 state partitions (see stream_stream_interval_join) — ABBA
    # A/B 2.39/2.45 -> 2.19/2.38 min/med.
    out = run_stream_to_table(joined, "append", state_partitions=4)
    return out.groupBy(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id")
    ).agg(
        F.count_distinct("p_event").alias("n_purchases_emitted"),
        F.sum(
            F.when(
                F.col("c_event").isNotNull() & F.col("p_event").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_attributed_pairs"),
        F.sum(F.when(F.col("c_event").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched_purchases"),
        F.sum(F.when(F.col("p_event").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched_clicks"),
    )


def stream_state_inspect(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
) -> DataFrame:
    """Spark 4 STATE STORE READER certification — operational
    observability for stateful streaming: after a per-user streaming
    count drains (availableNow), read the aggregation's state store
    back with ``spark.read.format("statestore")`` and return the live
    per-key state.  This is how production debugs "what does the query
    believe right now" without adding a probe sink; the green hash
    certifies that the persisted state equals the batch answer.

    The checkpoint must outlive the (lazy) statestore scan, so the
    result is ``localCheckpoint(eager=True)``-materialized before the
    temp checkpoint is removed — the same discipline as the upsert
    sink's staging swap.

    Scale: the state read is partition-parallel over the state store's
    own layout (one task per store partition); nothing rescans the
    input."""
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix="state_inspect_ckpt_")
    try:
        counts = (
            events_stream(spark, sf_dir, glob)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        q = (
            counts.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state = spark.read.format("statestore").load(ckpt)
        # the state value struct carries the PHYSICAL agg-buffer field
        # name ("count"), not the logical alias
        out = state.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").cast("long").alias("n_events"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
