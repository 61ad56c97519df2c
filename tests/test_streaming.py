"""Streaming behaviors the oracle-parity gate can't see: state carried
ACROSS micro-batches, and the idempotent foreachBatch sink.

The parity tests (test_oracle_parity.py) run each streaming op as one
availableNow batch; here the events table is split into multiple files and
drained one file per trigger, so keyed state, streaming dedup, and sink
batching are exercised across real micro-batch boundaries.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from simple_land_registry_data_ingestion_spark import tables
from simple_land_registry_data_ingestion_spark.streaming import ops
from tests.conftest import SF_SMALL


@pytest.fixture(autouse=True)
def _isolated_stream_roots(spark, tmp_path):
    """Per-test unique checkpoint/state-store root.

    Without this, every query here uses a Spark-managed TEMP checkpoint;
    under full-suite load dozens of streams share one JVM and temp area,
    and the state-store maintenance thread can race a finishing query's
    temp-checkpoint cleanup — observed as an HDFSBackedStateStore commit
    abort (round-3 flake).  A per-test root under tmp_path removes both
    the sharing and the eager temp cleanup; explicit checkpointLocation
    options in restart tests still override it."""
    spark.conf.set(
        "spark.sql.streaming.checkpointLocation", str(tmp_path / "stream_ckpt")
    )
    yield
    spark.conf.unset("spark.sql.streaming.checkpointLocation")


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """events (sf0.001) split into 4 parquet files so maxFilesPerTrigger=1
    yields 4 micro-batches."""
    out = str(tmp_path_factory.mktemp("events_split"))
    raw = tables.load(spark, SF_SMALL, "events")
    raw.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _batch_events(spark, path):
    return spark.read.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))


def _write_events_file(path, rows):
    """rows carry ts in epoch NANOS; written as TIMESTAMP(MICROS) parquet
    (the same shape the current testdata generator produces)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array([v // 1000 for v in cols[1]], pa.timestamp("us")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }
        ),
        path,
    )


def test_left_outer_join_emits_nulls_only_after_watermark(spark, tmp_path):
    """State-eviction proof for the left-outer interval join: an unmatched
    purchase is WITHHELD while the watermark has not passed it (run over
    the early file alone emits nothing for it), then emitted with null
    click columns once later events advance the watermark past its
    interval — while a late unmatched purchase the final watermark never
    passes stays withheld."""
    import datetime as dt

    def ns(h, m):
        t = dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000_000)

    early = [
        (1, ns(10, 0), 1, "purchase", 5.0, "{}"),   # u1: no prior click
        (2, ns(9, 50), 2, "click", 0.0, "{}"),
        (3, ns(10, 0), 2, "purchase", 7.0, "{}"),   # u2: matched pair
    ]
    late = [
        (4, ns(20, 0), 3, "click", 0.0, "{}"),      # advances the watermark
        (5, ns(19, 59), 3, "purchase", 1.0, "{}"),  # unmatched AND too young
    ]

    d_early = tmp_path / "early_only"
    d_early.mkdir()
    _write_events_file(str(d_early / "0.parquet"), early)
    d_both = tmp_path / "both"
    d_both.mkdir()
    _write_events_file(str(d_both / "0.parquet"), early)
    _write_events_file(str(d_both / "1.parquet"), late)

    def run(path):
        out = ops.stream_left_outer_interval_join(
            spark, path, glob="*.parquet", max_files_per_trigger=1
        )
        return {
            r["user_id"]: (
                r["n_purchases_emitted"],
                r["n_attributed_pairs"],
                r["n_unmatched_purchases"],
            )
            for r in out.collect()
        }

    # early file alone: final watermark = 8:50 < u1's 10:00 purchase, so
    # u1 emits NOTHING; only u2's matched pair appears
    assert run(str(d_early)) == {2: (1, 1, 0)}
    # with the late file the watermark passes 10:00: u1's purchase emits
    # as an unmatched null row; u3's 19:59 purchase stays withheld
    assert run(str(d_both)) == {1: (1, 0, 1), 2: (1, 1, 0)}


def test_inactivity_sessions_close_by_timeout_and_gap(spark, tmp_path):
    """EventTimeTimeout state discipline, across real micro-batches:
    (a) a session closes IN-DATA when the same user's next event arrives
        past the gap;
    (b) an idle user's session closes by TIMEOUT once later events advance
        the watermark past last_event + gap (state evicted);
    (c) a session the final watermark never proves over is withheld."""
    import datetime as dt

    def ns(h, m):
        t = dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000_000)

    early = [
        (1, ns(10, 0), 1, "view", 0.0, "{}"),
        (2, ns(10, 10), 1, "click", 0.0, "{}"),   # same session (10 min gap)
        (3, ns(10, 0), 2, "view", 0.0, "{}"),     # u2 then goes idle
    ]
    late = [
        (4, ns(13, 0), 1, "view", 0.0, "{}"),     # >30 min after 10:10 -> in-data close
        (5, ns(23, 0), 9, "view", 0.0, "{}"),     # clock: watermark -> 22:50
    ]
    d = tmp_path / "events"
    d.mkdir()
    _write_events_file(str(d / "0.parquet"), early)
    _write_events_file(str(d / "1.parquet"), late)

    def run_once():
        return ops.stream_inactivity_sessions(
            spark, str(d), glob="*.parquet", max_files_per_trigger=1
        )

    def run_and_collect():
        out = run_once()
        return {
            (r["user_id"], str(r["session_start"]), str(r["session_end"]),
             r["n_events"])
            for r in out.collect()
        }

    try:
        rows = run_and_collect()
    except Exception as exc:  # noqa: BLE001
        # Rounds 3-7 full-suite flake: HDFSBackedStateStore commit abort via
        # the checkpoint checksum manager under shared-JVM load; passes in
        # isolation.  fileChecksum is now disabled session-wide (conftest),
        # but if a commit abort still slips through (including during the
        # result materialization), retry exactly once on a fresh checkpoint
        # root — any genuine SEMANTIC failure (an AssertionError below)
        # recurs and is never retried.
        msg = str(exc)
        if not any(
            tag in msg
            for tag in (
                "commit", "createAtomic", "StateStore", "state store",
                "Checksum", "checkpoint",
            )
        ):
            raise
        spark.conf.set(
            "spark.sql.streaming.checkpointLocation", str(tmp_path / "ckpt_retry")
        )
        rows = run_and_collect()
    assert rows == {
        (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2),  # in-data close
        (1, "2024-01-01 13:00:00", "2024-01-01 13:00:00", 1),  # timeout close
        (2, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1),  # timeout close
        # u9 (23:00) withheld: watermark 22:50 never passes 23:30
    }


def test_stateful_op_accumulates_across_triggers(spark, split_events_dir, tmp_path):
    """applyInPandasWithState must fold every micro-batch into the same keyed
    state; the LAST update per user equals the whole-table GROUP BY."""
    stream = ops.events_stream(
        spark, split_events_dir, glob="*.parquet", max_files_per_trigger=1
    )
    stats = (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            ops._user_stats_state_fn,
            outputStructType="user_id long, n_events long, sum_value double, max_ts_us long",
            stateStructType="n long, total double, max_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = "multi_trigger_stats"
    q = (
        stats.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress is not None

    # update mode emits one row per (user, trigger that saw that user);
    # the final state per user is the row with the max n_events.
    result = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    expected = (
        _batch_events(spark, split_events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in result.collect()}
    want = {r["user_id"]: r["n_events"] for r in expected.collect()}
    assert got == want


def test_streaming_dedup_spans_triggers(spark, split_events_dir, tmp_path):
    """Plain dropDuplicates keeps key state forever: keys seen in trigger 1
    are still suppressed in trigger 4, so the emitted rows equal the batch
    DISTINCT exactly."""
    stream = ops.events_stream(
        spark, split_events_dir, glob="*.parquet", max_files_per_trigger=1
    )
    dedup = (
        stream.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    name = "multi_trigger_dedup"
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    n_distinct = (
        _batch_events(spark, split_events_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert spark.table(name).count() == n_distinct


def test_dedup_within_watermark_bounds_state_not_exactness(
    spark, split_events_dir, tmp_path
):
    """dropDuplicatesWithinWatermark trades exactness for BOUNDED state: a
    key is evicted once the watermark passes its timestamp + delay, so a
    duplicate arriving much later re-emits.  Across triggers the emitted
    count sits between the exact DISTINCT and the raw row count — this is
    the documented contract, and the reason the oracle-checked variant runs
    single-batch."""
    stream = ops.events_stream(
        spark, split_events_dir, glob="*.parquet", max_files_per_trigger=1
    )
    dedup = (
        stream.withWatermark("ts", "24 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = "multi_trigger_dedup_wm"
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    batch = _batch_events(spark, split_events_dir)
    n_distinct = batch.select("user_id", "event_type").distinct().count()
    n_rows = batch.count()
    n_emitted = spark.table(name).count()
    assert n_distinct <= n_emitted < n_rows


def test_foreach_batch_sink_is_partitioned_by_batch(spark, split_events_dir, tmp_path):
    """Every input row lands exactly once; batches are isolated in their own
    batch_id= directories (the idempotent-replay layout)."""
    stream = ops.events_stream(
        spark, split_events_dir, glob="*.parquet", max_files_per_trigger=1
    )
    out = str(tmp_path / "out")
    q = ops.foreach_batch_parquet_sink(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination()

    written = spark.read.parquet(out)
    n_in = _batch_events(spark, split_events_dir).count()
    assert written.count() == n_in
    # 4 input files, 1 file per trigger -> 4 batch directories
    assert written.select("batch_id").distinct().count() == 4
    # no duplicated events across batch dirs
    assert written.select("event_id").distinct().count() == n_in


def test_session_window_runs_on_rocksdb_state_store(spark):
    """The PRODUCTION state-store backend: the session-window query (the
    heaviest keyed-state operator here) must produce identical results on
    RocksDBStateStoreProvider (state spills to disk, not executor heap —
    the 100 TB configuration) as on the default HDFS-backed store."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    baseline = sorted(map(tuple, ops.stream_session_window(spark, SF_SMALL).collect()))
    saved = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = sorted(map(tuple, ops.stream_session_window(spark, SF_SMALL).collect()))
    finally:
        if saved is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, saved)
    assert rocks == baseline and len(rocks) > 0


def test_interval_join_state_spans_triggers(spark, split_events_dir, tmp_path):
    """With one file per trigger, a purchase and its matching click often
    arrive in DIFFERENT micro-batches — the join must buffer both sides'
    keyed state across triggers and still emit exactly the batch-join
    result.  The wide watermark isolates cross-batch BUFFERING from
    late-data EVICTION: the split files are not time-ordered, so a tight
    watermark would (correctly) drop stragglers — that semantics is covered
    by the append-mode window tests."""
    streamed = ops.stream_stream_interval_join(
        spark, split_events_dir, glob="*.parquet", max_files_per_trigger=1,
        watermark="3650 days",
    )
    got = sorted(map(tuple, streamed.collect()))

    e = _batch_events(spark, split_events_dir)
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event"),
    )
    j = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    expected = sorted(
        map(
            tuple,
            j.groupBy(F.col("p_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_attributed_pairs"),
                F.countDistinct("p_event").alias("n_purchases_with_prior_click"),
            )
            .collect(),
        )
    )
    assert got == expected and len(got) > 0


def _write_events(path, ts_type, ts_values):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ts_values)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts_values, ts_type),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["{}"] * n),
        }
    )
    path.mkdir()
    pq.write_table(table, str(path / "events.parquet"))
    return str(path)


def test_events_nanos_file_reads_like_micros(spark, tmp_path):
    """An events file whose ts is TIMESTAMP(NANOS) (older generators) reads
    through tables.load and events_stream with the same ts values as the
    same rows written as TIMESTAMP(MICROS); sub-microsecond digits are
    truncated, as DuckDB's ns->us cast does."""
    import datetime as dt

    import pyarrow as pa

    micros = [1_704_067_200_000_000 + 61_000_123 * i for i in range(6)]
    ns_dir = _write_events(
        tmp_path / "ns", pa.timestamp("ns"), [u * 1000 + 789 for u in micros]
    )
    us_dir = _write_events(tmp_path / "us", pa.timestamp("us"), micros)

    def batch_ts(sf_dir):
        df = tables.load(spark, sf_dir, "events")
        return [r["ts"] for r in df.orderBy("event_id").collect()]

    def stream_ts(sf_dir):
        out = ops.run_stream_to_table(
            ops.events_stream(spark, sf_dir).select("event_id", "ts"), "append"
        )
        return [r["ts"] for r in out.orderBy("event_id").collect()]

    epoch = dt.datetime(1970, 1, 1)
    expected = [epoch + dt.timedelta(microseconds=u) for u in micros]
    assert batch_ts(ns_dir) == batch_ts(us_dir) == expected
    streamed = stream_ts(ns_dir)
    assert streamed == stream_ts(us_dir)
    assert len(streamed) == len(micros) and None not in streamed


def test_dedup_state_survives_query_restart(spark, tmp_path):
    """DURABILITY: a NEW streaming query resuming from the same checkpoint
    must restore the dedup state store — keys emitted before the restart
    stay suppressed after it.  This is the crash-recovery contract the
    checkpoint exists for; without state restore the second run would
    re-emit every key."""
    import datetime as dt

    def us(h, m):
        t = dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000_000)

    d = tmp_path / "events"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        # memory sink cannot recover from a checkpoint; the parquet
        # foreachBatch sink is the durable path and CAN
        stream = ops.events_stream(spark, str(d), glob="*.parquet")
        dedup = stream.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )
        q = ops.foreach_batch_parquet_sink(dedup, out, ckpt)
        q.awaitTermination()
        return spark.read.parquet(out)

    _write_events_file(str(d / "0.parquet"), [
        (1, us(10, 0), 1, "view", 0.0, "{}"),
        (2, us(10, 1), 1, "click", 0.0, "{}"),
        (3, us(10, 2), 2, "view", 0.0, "{}"),
    ])
    first = run_once()
    assert first.count() == 3
    max_batch = first.agg(F.max("batch_id")).first()[0]

    # "crash" over; new files arrive, ALL duplicating already-seen keys
    # plus one genuinely new key
    _write_events_file(str(d / "1.parquet"), [
        (4, us(11, 0), 1, "view", 0.0, "{}"),    # dup of (1, view)
        (5, us(11, 1), 2, "view", 0.0, "{}"),    # dup of (2, view)
        (6, us(11, 2), 3, "signup", 0.0, "{}"),  # new key
    ])
    second = run_once()  # brand-new query object, same checkpoint
    resumed = second.where(F.col("batch_id") > max_batch)
    # the resumed run emits ONLY the genuinely new key — the duplicate
    # keys were suppressed by the RESTORED state store
    assert {
        (r["user_id"], r["event_type"]) for r in resumed.collect()
    } == {(3, "signup")}
    assert second.count() == 4  # nothing from run 1 was lost or re-emitted


def test_observe_metrics_ride_the_stream_batch(spark, tmp_path):
    """Dataset.observe(): pipeline data-quality counters computed inside
    the job (no second scan), surfaced per micro-batch via lastProgress —
    the streaming analog of the reference's per-stage instrumentation
    (reference main.py:85-94 timing fields)."""
    stream = ops.events_stream(spark, SF_SMALL).observe(
        "quality",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
    )
    out = ops.run_stream_to_table(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "complete",
    )
    assert out.count() > 0
    # the observation is recorded on the query's progress; run_stream_to_table
    # returns only the table, so re-run with a handle to inspect progress
    obs_stream = ops.events_stream(spark, SF_SMALL).observe(
        "quality2",
        F.count(F.lit(1)).alias("n_rows"),
    )
    q = (
        obs_stream.groupBy().count()
        .writeStream.format("memory")
        .queryName("obs_check")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .start()
    )
    q.awaitTermination()
    progresses = [p for p in q.recentProgress if p.observedMetrics.get("quality2")]
    assert progresses, "observed metrics missing from progress"
    n = progresses[-1].observedMetrics["quality2"]["n_rows"]
    assert n == 1000  # sf0.001 events row count


def test_user_topk_state_fn_evicts_across_triggers():
    """The applyInPandasWithState top-K fold, driven directly across three
    'triggers': state is truncated to K after every fold (the eviction
    bound), and the final emission equals the overall top-3 by
    (value desc, event_id)."""
    import pandas as pd

    class _FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    state = _FakeGroupState()
    batches = [
        pd.DataFrame({"value": [5.0, 9.0], "event_id": [1, 2]}),
        pd.DataFrame({"value": [9.0, 1.0, 7.0], "event_id": [0, 3, 4]}),
        pd.DataFrame({"value": [8.5], "event_id": [5]}),
    ]
    last = None
    for b in batches:
        (last,) = list(ops._user_topk_state_fn((77,), iter([b]), state))
        vals, ids = state.get
        assert len(vals) <= ops.TOPK_K and len(ids) <= ops.TOPK_K
    assert list(map(tuple, last.itertuples(index=False))) == [
        (77, 1, 9.0, 0),  # value tie 9.0: event_id 0 beats 2
        (77, 2, 9.0, 2),
        (77, 3, 8.5, 5),
    ]


def test_stream_user_topk_matches_batch(spark):
    """End-to-end applyInPandasWithState top-K against the batch window
    ranking."""
    got = sorted(map(tuple, ops.stream_user_topk(spark, SF_SMALL).collect()))
    e = tables.load(spark, SF_SMALL, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    want = sorted(
        map(
            tuple,
            e.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            .select("user_id", "rank", F.round("value", 2).alias("value"), "event_id")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_state_store_race_predicate():
    """Only state-store commit/load races are retryable; plan and data
    errors must re-raise immediately."""
    race = RuntimeError(
        "Query [id=x] terminated with exception: Error committing version 2 "
        "to HDFSBackedStateStoreProvider[id = (op=0,part=3)]"
    )
    rocks = RuntimeError("RocksDBStateStoreProvider: could not load state store version 1")
    plan_err = RuntimeError("AnalysisException: column `nope` cannot be resolved")
    assert ops._is_state_store_race(race)
    assert ops._is_state_store_race(rocks)
    assert not ops._is_state_store_race(plan_err)


def test_run_stream_retries_once_on_state_store_race(spark, monkeypatch):
    """A first-attempt state-store commit abort must be retried against a
    fresh query name and succeed; the result is the normal stream output."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract base
    # in Spark 4; attribute lookup resolves on the classic subclass)
    from pyspark.sql.classic.dataframe import DataFrame

    calls = {"n": 0}
    orig = DataFrame.writeStream

    def fake(self):
        calls["n"] += 1
        if calls["n"] == 1:
            class _Boom:
                def format(self, *a, **k):
                    return self

                def queryName(self, *a):
                    return self

                def outputMode(self, *a):
                    return self

                def trigger(self, **k):
                    return self

                def option(self, *a):
                    return self

                def start(self):
                    raise RuntimeError(
                        "Error committing version 2 to "
                        "HDFSBackedStateStoreProvider[id = (op=0,part=3)]"
                    )

            return _Boom()
        return orig.fget(self)

    monkeypatch.setattr(DataFrame, "writeStream", property(fake))
    stream = ops.events_stream(spark, SF_SMALL).groupBy("event_type").count()
    out = ops.run_stream_to_table(stream, "complete")
    assert calls["n"] == 2
    assert out.count() > 0


def test_two_level_window_accumulates_across_triggers(spark, tmp_path):
    """stream_two_level_window's chained hourly->daily rollup must produce
    the SAME emitted days when the stream arrives as 4 IN-ORDER
    micro-batches as the batch two-level cutoff computes — i.e. the
    second stateful operator accumulates partial hourly emissions across
    triggers rather than emitting per-trigger fragments.  (The split is
    time-ordered on purpose: a randomly split replay advances the
    watermark to end-of-stream on trigger 1 and correctly DROPS the
    other files as late data — real semantics, but not this test's
    subject.)"""
    import os

    from pyspark.sql import functions as SF

    src = str(tmp_path / "ordered_events")
    os.makedirs(src, exist_ok=True)
    ev_all = tables.load(spark, SF_SMALL, "events").orderBy("ts", "event_id")
    rows = ev_all.collect()
    quarter = (len(rows) + 3) // 4
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        if not chunk:
            continue
        # plain FILES in one flat dir (pathGlobFilter matches leaf names
        # only; subdirectories are not recursed), epoch nanos -> micros
        _write_events_file(
            os.path.join(src, f"events_{i}.parquet"),
            [
                (
                    r["event_id"],
                    # naive datetime -> epoch nanos without tz ambiguity
                    int(
                        (
                            r["ts"] - __import__("datetime").datetime(1970, 1, 1)
                        ).total_seconds()
                        * 1_000_000
                    )
                    * 1000,
                    r["user_id"],
                    r["event_type"],
                    r["value"],
                    r["props"],
                )
                for r in chunk
            ],
        )
        # strictly increasing mtimes pin the file-source replay order
        os.utime(
            os.path.join(src, f"events_{i}.parquet"),
            (1_700_000_000 + i, 1_700_000_000 + i),
        )
    out = ops.stream_two_level_window(
        spark, src, glob="events_*.parquet", max_files_per_trigger=1
    )
    got = {
        (r["day_start"], r["event_type"]): (r["n_events"], r["n_hours"])
        for r in out.collect()
    }

    ev = ev_all.withColumn("ts", F.col("ts").cast("timestamp"))
    wm = ev.agg(
        (SF.max("ts") - SF.expr("INTERVAL 1 HOUR")).alias("w")
    ).collect()[0]["w"]
    hours = (
        ev.groupBy(
            SF.date_trunc("hour", "ts").alias("hr"), "event_type"
        )
        .agg(SF.count(SF.lit(1)).alias("n"))
        .where(SF.col("hr") + SF.expr("INTERVAL 1 HOUR") <= SF.lit(wm))
    )
    want = {
        (r["day_start"], r["event_type"]): (r["n_events"], r["n_hours"])
        for r in hours.groupBy(
            SF.date_trunc("day", "hr").alias("day_start"), "event_type"
        )
        .agg(
            SF.sum("n").cast("long").alias("n_events"),
            SF.count(SF.lit(1)).cast("long").alias("n_hours"),
        )
        .where(SF.col("day_start") + SF.expr("INTERVAL 1 DAY") <= SF.lit(wm))
        .select(
            SF.col("day_start").cast("timestamp_ntz").alias("day_start"),
            "event_type",
            "n_events",
            "n_hours",
        )
        .collect()
    }
    assert got == want
    assert got, "expected at least one emitted day"


def test_upsert_latest_composes_across_micro_batches(spark, tmp_path):
    """foreachBatch upsert: per-batch compaction + read-side argmax must
    equal the single-batch result regardless of micro-batch boundaries —
    the user's latest row may arrive in ANY batch, and an earlier batch's
    delta must LOSE to a later one (and vice versa when the late file
    carries the older timestamp)."""
    import os

    from simple_land_registry_data_ingestion_spark.streaming.ops import stream_upsert_latest

    h = 3_600_000_000_000  # ns
    rows_a = [
        (1, 1 * h, 10, "click", 1.0, "{}"),
        (2, 2 * h, 10, "view", 2.0, "{}"),
        (3, 1 * h, 20, "click", 3.0, "{}"),
    ]
    rows_b = [
        (4, 5 * h, 10, "purchase", 4.0, "{}"),  # newer -> wins for user 10
        (5, 0, 20, "view", 5.0, "{}"),          # older -> loses for user 20
    ]
    d = tmp_path / "replay"
    d.mkdir()
    _write_events_file(str(d / "0.parquet"), rows_a)
    _write_events_file(str(d / "1.parquet"), rows_b)
    os.utime(str(d / "0.parquet"), (1000, 1000))
    os.utime(str(d / "1.parquet"), (2000, 2000))

    multi = {
        tuple(r)
        for r in stream_upsert_latest(
            spark, str(d), glob="*.parquet", max_files_per_trigger=1
        ).collect()
    }
    single = {
        tuple(r)
        for r in stream_upsert_latest(
            spark, str(d), glob="*.parquet", max_files_per_trigger=None
        ).collect()
    }
    assert multi == single
    by_user = {r[0]: r for r in multi}
    assert by_user[10][1] == "purchase" and by_user[10][3] == 3  # n_events
    assert by_user[20][1] == "click" and by_user[20][3] == 2


def test_full_outer_interval_join_watermark_boundary(spark, tmp_path):
    """Pin the EXACT-boundary eviction semantics of the full-outer
    interval join (round-6 ADVICE): with final watermark wm =
    least(max c_ts, max p_ts) - 1h, Spark 4.1 emits the null-click row
    for a purchase whose p_ts == wm (INCLUSIVE) but withholds the
    null-purchase row for a click whose c_ts + 30min == wm (STRICT).
    The DuckDB oracle twin applies the same asymmetric filters; this
    test is the measured evidence for that choice."""
    import datetime as dt

    def ns(h, m):
        t = dt.datetime(2024, 1, 1, h, m, tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000_000)

    rows = [
        # watermark anchors: max c_ts = max p_ts = 12:00 -> wm = 11:00
        (1000, ns(12, 0), 99, "click", 1.0, "{}"),
        (1001, ns(12, 0), 98, "purchase", 1.0, "{}"),
        # boundary purchase: p_ts == wm exactly, no matching click
        (1, ns(11, 0), 1, "purchase", 5.0, "{}"),
        # boundary click: c_ts + 30min == wm exactly, no matching purchase
        (2, ns(10, 30), 2, "click", 2.0, "{}"),
        # clearly-inside unmatched purchase / click (control rows)
        (3, ns(10, 0), 3, "purchase", 7.0, "{}"),
        (4, ns(9, 0), 4, "click", 3.0, "{}"),
        # matched pair (always emitted)
        (5, ns(8, 0), 5, "click", 1.0, "{}"),
        (6, ns(8, 10), 5, "purchase", 9.0, "{}"),
    ]
    d = tmp_path / "boundary"
    d.mkdir()
    _write_events_file(str(d / "0.parquet"), rows)

    out = {
        r["user_id"]: r
        for r in ops.stream_full_outer_interval_join(
            spark, str(d), glob="*.parquet"
        ).collect()
    }
    # boundary purchase (p_ts == wm): emitted — INCLUSIVE side
    assert out[1]["n_unmatched_purchases"] == 1
    # boundary click (c_ts + 30min == wm): withheld — STRICT side
    assert 2 not in out
    # controls
    assert out[3]["n_unmatched_purchases"] == 1
    assert out[4]["n_unmatched_clicks"] == 1
    assert out[5]["n_attributed_pairs"] == 1
    # anchors beyond the watermark stay withheld
    assert 98 not in out and 99 not in out
