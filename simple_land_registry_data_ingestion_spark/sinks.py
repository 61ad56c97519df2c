"""Sinks: atomic full-refresh files, JDBC, and the COPY fast path.

The reference's sink is Postgres COPY inside ONE transaction with a leading
TRUNCATE (reference main.py:194-251) — atomic full refresh, readers never see
partial data (E6).  Spark JDBC writes are per-partition transactions, so the
same semantics need either (a) staging-table-then-swap on the DB side or
(b) an atomic directory swap for file sinks.  Both are implemented here.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)


def write_parquet_atomic(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> None:
    """Full-refresh parquet write with publish-by-rename.

    Writes to a staging directory next to ``path`` and swaps it in only
    after the job commits — the file-sink analog of the reference's
    TRUNCATE+COPY+COMMIT single transaction (main.py:196,251).  On HDFS the
    rename is atomic; on object stores the real answer is a table format
    (Delta/Iceberg) — this keeps the same published-all-or-nothing contract
    for plain directories.

    ``partition_by`` is the at-rest partitioning (e.g. year of the
    transaction date): at 100 TB it turns date-range queries into partition
    pruning instead of full scans.

    A failed write or publish removes the staging copy before re-raising,
    and a failed publish puts the previous table back.
    """
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(staging)
        if os.path.exists(path):
            os.rename(path, backup)
        try:
            os.rename(staging, path)
        except BaseException:
            if os.path.exists(backup):  # roll back the unpublish
                os.rename(backup, path)
            raise
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup, ignore_errors=True)
    logger.info("published %s", path)


def write_jdbc_append(df: DataFrame, table: str, jdbc_options: dict[str, str],
                      batchsize: int = 10_000) -> None:
    """Plain JDBC append (used for the metadata row, reference main.py:274-295)."""
    (
        df.write.format("jdbc")
        .options(**jdbc_options)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode("append")
        .save()
    )


def staging_swap_statements(
    table: str, dialect: str = "postgres", target_exists: bool = True
) -> list[str]:
    """The SQL sequence that publishes ``{table}__staging`` atomically —
    the DB-side analog of the reference's single-transaction
    TRUNCATE+COPY+COMMIT (reference main.py:196-251).  Run ALL statements in
    ONE transaction (both Postgres and Derby have transactional DDL): a
    reader sees the old table until commit, the new table after — never an
    empty or half-loaded one.

    ``target_exists=False`` is the first-ever load (nothing to rename away).
    """
    staging, old = f"{table}__staging", f"{table}__old"
    if dialect == "postgres":
        stmts = [f"DROP TABLE IF EXISTS {old}"]
        if target_exists:
            stmts.append(f"ALTER TABLE {table} RENAME TO {old}")
        stmts.append(f"ALTER TABLE {staging} RENAME TO {table}")
        if target_exists:
            stmts.append(f"DROP TABLE {old}")
        return stmts
    if dialect == "derby":  # no IF EXISTS / ALTER RENAME in Derby
        stmts = []
        if target_exists:
            stmts.append(f"RENAME TABLE {table} TO {table}__old")
        stmts.append(f"RENAME TABLE {staging} TO {table}")
        if target_exists:
            stmts.append(f"DROP TABLE {old}")
        return stmts
    raise ValueError(f"unknown dialect: {dialect}")


def _jvm_jdbc_connection(spark, url: str, jdbc_options: dict[str, str] | None):
    """Driver-side JVM JDBC connection honoring the SAME options Spark's
    JDBC writer uses: ``user``/``password`` are forwarded as connection
    Properties (credentials embedded in the URL are not required), and
    ``driver`` is Class.forName-registered first — Derby autoloads with the
    JVM's service discovery, but the Postgres driver does not reliably
    register with the driver-side DriverManager until loaded."""
    jvm = spark._jvm
    opts = jdbc_options or {}
    if opts.get("driver"):
        jvm.java.lang.Class.forName(opts["driver"])
    props = jvm.java.util.Properties()
    for key in ("user", "password"):
        if key in opts:
            props.setProperty(key, opts[key])
    return jvm.java.sql.DriverManager.getConnection(url, props)


def jdbc_table_exists(
    spark, url: str, table: str, jdbc_options: dict[str, str] | None = None
) -> bool:
    """Check table existence through JDBC metadata (case-folded both ways:
    Derby stores identifiers upper-case, Postgres lower-case).

    ``DatabaseMetaData.getTables`` treats its table pattern as a LIKE
    pattern where ``_`` matches any character — raw names like
    ``pp_complete_data`` would false-positive against similarly named
    tables.  Escaping is NOT portable (Derby declares an empty
    getSearchStringEscape, i.e. no escape support at all), so the rows the
    wildcarded lookup returns are re-checked for EXACT name equality
    instead — correct on every driver."""
    conn = _jvm_jdbc_connection(spark, url, jdbc_options)
    try:
        meta = conn.getMetaData()
        for name in {table, table.upper(), table.lower()}:
            rs = meta.getTables(None, None, name, None)
            try:
                while rs.next():
                    if rs.getString("TABLE_NAME") == name:
                        return True
            finally:
                rs.close()
        return False
    finally:
        conn.close()


def run_statements_jvm_jdbc(
    spark,
    url: str,
    statements: list[str],
    jdbc_options: dict[str, str] | None = None,
) -> None:
    """Execute SQL statements in ONE transaction through the JVM's
    java.sql.DriverManager — no Python DB driver needed, works for any JDBC
    URL whose driver is on the Spark classpath (Derby ships with Spark;
    Postgres needs its JDBC jar, the same one spark JDBC writes require).
    Credentials/driver come from ``jdbc_options`` exactly like the Spark
    writer's. Rolls back on failure, so a crashed swap leaves the old
    table live."""
    conn = _jvm_jdbc_connection(spark, url, jdbc_options)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def write_jdbc_full_refresh_atomic(
    df: DataFrame,
    table: str,
    jdbc_options: dict[str, str],
    dialect: str = "postgres",
    target_exists: bool = True,
    batchsize: int = 10_000,
) -> None:
    """Strict-E6 full refresh: load ``{table}__staging`` with parallel JDBC
    inserts, then swap names in one DB transaction (staging_swap_statements).
    Readers never observe the mid-load state."""
    (
        df.write.format("jdbc")
        .options(**jdbc_options)
        .option("dbtable", f"{table}__staging")
        .option("batchsize", str(batchsize))
        .mode("overwrite")
        .save()
    )
    run_statements_jvm_jdbc(
        df.sparkSession,
        jdbc_options["url"],
        staging_swap_statements(table, dialect, target_exists),
        jdbc_options,
    )


def _default_psycopg_factory(conninfo: str):
    """Per-partition psycopg connection factory (import deferred to the
    executor so driver-only environments never need the package)."""

    def _connect():  # pragma: no cover - needs live DB
        import psycopg

        return psycopg.connect(conninfo)

    return _connect


def copy_into_postgres(df: DataFrame, table: str, columns: list[str],
                       conninfo: str, connection_factory=None) -> None:
    """COPY fast-path sink (reference E5, main.py:200,243): each partition
    opens one connection and streams CSV text through the COPY protocol —
    order-of-magnitude faster than row-wise INSERT, and parallel across
    partitions (the reference is single-connection).

    ``connection_factory`` is a zero-arg callable (cloudpickled to
    executors) returning a DBAPI connection whose cursor supports
    ``cursor.copy(sql)``; it defaults to psycopg.connect(conninfo), and is
    the injection point tests use to execute this path without a live
    Postgres.  Nulls are encoded as the reference's ``\\N`` sentinel
    (reference main.py:200), matching its CSV null discipline (E4).
    """
    if connection_factory is None:
        try:
            import psycopg  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "copy_into_postgres needs the 'psycopg' package on executors "
                "(or an explicit connection_factory)"
            ) from exc
        connection_factory = _default_psycopg_factory(conninfo)

    col_list = ", ".join(columns)
    copy_sql = (
        f"COPY {table} ({col_list}) FROM STDIN WITH (FORMAT csv, NULL '\\N')"
    )

    def _copy_partition(rows) -> None:
        import csv
        import io

        buf = io.StringIO()
        writer = csv.writer(buf)
        n = 0
        for row in rows:
            writer.writerow(["\\N" if v is None else v for v in row])
            n += 1
        if n == 0:
            return
        buf.seek(0)
        with connection_factory() as conn:
            with conn.cursor() as cur:
                with cur.copy(copy_sql) as copy:
                    copy.write(buf.getvalue())
            conn.commit()

    df.select(*columns).foreachPartition(_copy_partition)
