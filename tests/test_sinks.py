"""Executed database-sink tests — the reference's single most load-bearing
behavior (bulk load + single-transaction refresh, reference main.py:194-251)
exercised WITHOUT a live Postgres:

 - Spark's JDBC write path runs for real against embedded Derby (its driver
   ships in Spark's jars), including append and the staging-table atomic
   swap executed in one JVM-JDBC transaction.
 - The COPY protocol sink runs its per-partition code (CSV encode, \\N null
   sentinel, COPY statement, commit) against an injected fake connection
   factory that captures the wire payload.
 - The streaming foreachBatch JDBC writer proves idempotent batch replay.
"""

from __future__ import annotations

import pytest

from simple_land_registry_data_ingestion_spark import sinks
from simple_land_registry_data_ingestion_spark.streaming import ops as stream_ops

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("derby")
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(base / "derby.log")
    )
    return f"jdbc:derby:{base}/db;create=true"


def _opts(url: str) -> dict[str, str]:
    return {"url": url, "driver": DERBY_DRIVER}


def _read(spark, url: str, table: str):
    return (
        spark.read.format("jdbc").options(**_opts(url)).option("dbtable", table).load()
    )


def test_write_jdbc_append_roundtrip(spark, derby_url):
    df = spark.createDataFrame(
        [(1, 10.5, "a"), (2, 20.25, "b"), (3, None, None)],
        "id long, val double, name string",
    ).repartition(2)
    sinks.write_jdbc_append(df, "append_tbl", _opts(derby_url))
    back = _read(spark, derby_url, "append_tbl")
    assert back.count() == 3
    assert {r["id"] for r in back.collect()} == {1, 2, 3}
    # append again: rows accumulate (no truncate in this mode)
    sinks.write_jdbc_append(df, "append_tbl", _opts(derby_url))
    assert _read(spark, derby_url, "append_tbl").count() == 6


def test_write_parquet_atomic_failed_publish_keeps_old_table(
    spark, tmp_path, monkeypatch
):
    """A publish rename that fails must leave the previous table readable
    and must not leave the staging copy next to it."""
    import os

    path = str(tmp_path / "tbl")
    sinks.write_parquet_atomic(spark.range(3), path)
    real_rename = os.rename

    def failing_rename(src, dst):
        if "__staging_" in os.path.basename(src):
            raise OSError("publish failed")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="publish failed"):
        sinks.write_parquet_atomic(spark.range(10), path)
    monkeypatch.undo()
    assert spark.read.parquet(path).count() == 3
    assert sorted(os.listdir(tmp_path)) == ["tbl"]


def test_staging_swap_statements_postgres_sequence():
    stmts = sinks.staging_swap_statements("pp_complete_data", "postgres")
    assert stmts == [
        "DROP TABLE IF EXISTS pp_complete_data__old",
        "ALTER TABLE pp_complete_data RENAME TO pp_complete_data__old",
        "ALTER TABLE pp_complete_data__staging RENAME TO pp_complete_data",
        "DROP TABLE pp_complete_data__old",
    ]
    first_load = sinks.staging_swap_statements("t", "postgres", target_exists=False)
    assert first_load == [
        "DROP TABLE IF EXISTS t__old",
        "ALTER TABLE t__staging RENAME TO t",
    ]
    with pytest.raises(ValueError):
        sinks.staging_swap_statements("t", "oracle")


def test_write_jdbc_full_refresh_atomic_swap_executes(spark, derby_url):
    """E6 parity, executed: the published table flips old -> new in one DB
    transaction; the staging table is gone afterwards."""
    old = spark.createDataFrame([(1, "old")], "id long, v string")
    new = spark.createDataFrame([(2, "new"), (3, "new")], "id long, v string")
    sinks.write_jdbc_full_refresh_atomic(
        old, "atomic_tbl", _opts(derby_url), dialect="derby", target_exists=False
    )
    assert [r["v"] for r in _read(spark, derby_url, "atomic_tbl").collect()] == ["old"]
    sinks.write_jdbc_full_refresh_atomic(
        new, "atomic_tbl", _opts(derby_url), dialect="derby", target_exists=True
    )
    back = _read(spark, derby_url, "atomic_tbl")
    assert sorted(r["id"] for r in back.collect()) == [2, 3]
    assert sinks.jdbc_table_exists(spark, derby_url, "atomic_tbl")
    assert not sinks.jdbc_table_exists(spark, derby_url, "atomic_tbl__staging")
    assert not sinks.jdbc_table_exists(spark, derby_url, "atomic_tbl__old")


def test_swap_rolls_back_on_failure(spark, derby_url):
    """A failed statement mid-swap must leave the pre-swap table intact
    (single transaction, rollback on error)."""
    df = spark.createDataFrame([(1, "live")], "id long, v string")
    sinks.write_jdbc_append(df, "rb_tbl", _opts(derby_url))
    with pytest.raises(Exception):
        sinks.run_statements_jvm_jdbc(
            spark,
            derby_url,
            ["RENAME TABLE rb_tbl TO rb_tbl__old", "RENAME TABLE missing_tbl TO x"],
        )
    # rollback restored the original name
    assert sinks.jdbc_table_exists(spark, derby_url, "rb_tbl")
    assert not sinks.jdbc_table_exists(spark, derby_url, "rb_tbl__old")


def test_copy_into_postgres_partition_protocol(spark, tmp_path):
    """Execute the COPY sink's per-partition code end to end with a fake
    connection factory: CSV payload, \\N null sentinel (reference E4,
    main.py:200), the COPY statement itself, and the commit."""
    out = str(tmp_path)

    class FakeCopy:
        def __init__(self, path):
            self.path = path
            self.chunks = []

        def __enter__(self):
            return self

        def __exit__(self, *a):
            with open(self.path, "a") as fh:
                fh.writelines(self.chunks)
            return False

        def write(self, data):
            self.chunks.append(data)

    class FakeCursor:
        def __init__(self, base):
            self.base = base

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def copy(self, sql):
            import os
            import uuid

            token = uuid.uuid4().hex
            with open(os.path.join(self.base, f"stmt_{token}.sql"), "w") as fh:
                fh.write(sql)
            return FakeCopy(os.path.join(self.base, f"copy_{token}.csv"))

    class FakeConn:
        def __init__(self, base):
            self.base = base

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def cursor(self):
            return FakeCursor(self.base)

        def commit(self):
            with open(f"{self.base}/commit_{id(self)}.marker", "w") as fh:
                fh.write("committed")

    def factory(base=out):
        return FakeConn(base)

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "gamma")], "id long, name string"
    ).repartition(2)
    sinks.copy_into_postgres(
        df, "test_table", ["id", "name"], "unused-conninfo", connection_factory=factory
    )

    payload = "".join(p.read_text() for p in tmp_path.glob("copy_*.csv"))
    lines = sorted(line for line in payload.splitlines() if line)
    assert lines == ["1,alpha", "2,\\N", "3,gamma"]
    stmts = {p.read_text() for p in tmp_path.glob("stmt_*.sql")}
    assert stmts == {
        "COPY test_table (id, name) FROM STDIN WITH (FORMAT csv, NULL '\\N')"
    }
    assert list(tmp_path.glob("commit_*.marker"))  # every partition committed


def test_table_exists_escapes_like_wildcards(spark, derby_url):
    """'_' in a table name must not act as a single-char LIKE wildcard in
    the metadata lookup: a table whose name merely pattern-matches the
    probe (stream1sink vs stream_sink) is NOT the probed table."""
    df = spark.createDataFrame([(1,)], "id long")
    sinks.write_jdbc_append(df, "stream1sink", _opts(derby_url))
    assert sinks.jdbc_table_exists(spark, derby_url, "stream1sink")
    assert not sinks.jdbc_table_exists(spark, derby_url, "stream_sink")


def test_jvm_jdbc_forwards_credentials_and_loads_driver():
    """user/password from jdbc_options must reach DriverManager as
    Properties (not be silently dropped), and the configured driver class
    must be registered via Class.forName before connecting — embedded
    Derby hides both failures (no auth, autoloading driver), so this pins
    the contract against a recording fake JVM."""
    from unittest import mock

    jvm = mock.MagicMock()
    props = {}
    jvm.java.util.Properties.return_value.setProperty.side_effect = (
        lambda k, v: props.__setitem__(k, v)
    )
    spark = mock.MagicMock()
    spark._jvm = jvm
    opts = {
        "url": "jdbc:postgresql://h/db",
        "user": "ingest",
        "password": "s3cret",
        "driver": "org.postgresql.Driver",
    }
    sinks.run_statements_jvm_jdbc(spark, opts["url"], ["SELECT 1"], opts)
    jvm.java.lang.Class.forName.assert_called_once_with("org.postgresql.Driver")
    assert props == {"user": "ingest", "password": "s3cret"}
    jvm.java.sql.DriverManager.getConnection.assert_called_once_with(
        opts["url"], jvm.java.util.Properties.return_value
    )
    conn = jvm.java.sql.DriverManager.getConnection.return_value
    conn.setAutoCommit.assert_called_once_with(False)
    conn.commit.assert_called_once()
    conn.close.assert_called_once()


def test_batch_writer_publishes_in_one_transaction_and_drops_stage(
    spark, derby_url
):
    """The idempotent writer must leave no staging table behind, and its
    publish must be the single-transaction DELETE+INSERT-SELECT (no
    window where the batch's rows are missing from the target)."""
    writer = stream_ops.jdbc_idempotent_batch_writer("txn_tbl", _opts(derby_url))
    batch = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id long, v string")
    writer(batch, 7)
    assert _read(spark, derby_url, "txn_tbl").count() == 5
    assert not sinks.jdbc_table_exists(spark, derby_url, "txn_tbl__batch_stage")
    # replay: same rows, still no stage residue
    writer(batch, 7)
    assert _read(spark, derby_url, "txn_tbl").count() == 5
    assert not sinks.jdbc_table_exists(spark, derby_url, "txn_tbl__batch_stage")


def test_foreach_batch_jdbc_writer_is_idempotent(spark, derby_url):
    """Replaying a batch (failure between write and checkpoint commit)
    must not duplicate rows: the writer deletes its batch_id first."""
    writer = stream_ops.jdbc_idempotent_batch_writer("stream_tbl", _opts(derby_url))
    batch0 = spark.createDataFrame([(i, i * 1.0) for i in range(10)], "id long, v double")
    writer(batch0, 0)
    writer(batch0, 0)  # replay of the same batch
    assert _read(spark, derby_url, "stream_tbl").count() == 10
    batch1 = spark.createDataFrame([(100, 1.0)], "id long, v double")
    writer(batch1, 1)
    back = _read(spark, derby_url, "stream_tbl")
    assert back.count() == 11
    assert {r["batch_id"] for r in back.collect()} == {0, 1}


def test_foreach_batch_jdbc_sink_streams_to_table(spark, derby_url, tmp_path):
    """End to end: a real StreamingQuery (availableNow) lands the events
    stream in a relational table through the idempotent writer."""
    from tests.conftest import SF_SMALL

    stream = stream_ops.events_stream(spark, SF_SMALL).select(
        "event_id", "user_id", "value"
    )
    q = stream_ops.foreach_batch_jdbc_sink(
        stream, "events_sink", _opts(derby_url), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    from simple_land_registry_data_ingestion_spark.tables import load

    expected = load(spark, SF_SMALL, "events").count()
    assert _read(spark, derby_url, "events_sink").count() == expected


def test_pipeline_end_to_end_into_database(spark, derby_url, tmp_path):
    """The reference's ACTUAL end-to-end run, executed against a real
    database: CSV -> typed table -> staging load -> atomic swap ->
    metadata row (reference main():298-372).  Both the fact table and the
    metadata table land via JDBC; a second run replaces the fact table
    content atomically."""
    from simple_land_registry_data_ingestion_spark.pipeline import run_ingest

    def _pp_row(uid, price, ts):
        return ",".join(
            [uid, str(price), ts, "AB1 2CD", "D", "N", "F", "12", "",
             "HIGH STREET", "Someville", "TOWNVILLE", "DISTRICT",
             "COUNTYSHIRE", "A", "A"]
        )

    csv1 = tmp_path / "run1.csv"
    csv1.write_text(
        "\n".join([_pp_row("{P-1}", 100, "2024-01-15 00:00"),
                   _pp_row("{P-2}", 200, "2024-03-28 00:00")]) + "\n"
    )
    csv2 = tmp_path / "run2.csv"
    csv2.write_text(_pp_row("{P-9}", 999, "2024-06-01 00:00") + "\n")

    opts = _opts(derby_url)
    meta1 = run_ingest(
        spark, str(csv1), str(tmp_path / "out1"),
        jdbc_options=opts, jdbc_table="pp_e2e",
        jdbc_dialect="derby", jdbc_target_exists=False,
    )
    assert meta1.row_count == 2
    assert meta1.database_upload_duration_s > 0
    fact = _read(spark, derby_url, "pp_e2e")
    assert sorted(r["transaction_unique_id"] for r in fact.collect()) == [
        "{P-1}", "{P-2}"
    ]
    meta_tbl = _read(spark, derby_url, "pp_e2e_metadata")
    assert meta_tbl.count() == 1
    assert meta_tbl.first()["row_count"] == 2

    # Second run: atomic full refresh replaces content; metadata appends.
    run_ingest(
        spark, str(csv2), str(tmp_path / "out2"),
        jdbc_options=opts, jdbc_table="pp_e2e",
        jdbc_dialect="derby", jdbc_target_exists=True,
    )
    fact2 = _read(spark, derby_url, "pp_e2e")
    assert [r["transaction_unique_id"] for r in fact2.collect()] == ["{P-9}"]
    assert _read(spark, derby_url, "pp_e2e_metadata").count() == 2
    assert not sinks.jdbc_table_exists(spark, derby_url, "pp_e2e__staging")
