"""Test-data table loaders (driver-generated parquet, see TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
DIMENSION_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Some generator versions write events.parquet ``ts`` as INT64
#: TIMESTAMP(NANOS), which Spark's parquet reader rejects
#: (PARQUET_TYPE_ILLEGAL); newer ones write TIMESTAMP(MICROS), which reads
#: natively.  ``load`` sniffs the footer (driver-side metadata read, one
#: file) and only applies the raw-long nanos->micros workaround when the
#: unit really is 'ns'.  Integer division (not double) keeps precision
#: above 2^53 ns, matching DuckDB's truncating ns->us cast.
_EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


def _events_ts_from_nanos() -> Column:
    """The raw INT64-nanos ``ts`` as a TIMESTAMP (truncated to micros)."""
    return F.timestamp_micros(F.expr("ts div 1000"))


def _events_ts_unit(path: str) -> str | None:
    """Return the parquet time unit ('ns'/'us'/'ms') of events.ts, or None.

    Only the expected footer-sniff failures are swallowed (pyarrow absent,
    unreadable file, no ``ts`` field); anything else propagates rather than
    silently routing a nanos-unit file to the native reader, where it would
    fail later with PARQUET_TYPE_ILLEGAL far from the root cause.
    """
    try:
        import pyarrow.parquet as pq
    except ImportError:
        import logging

        logging.getLogger(__name__).warning(
            "pyarrow unavailable; skipping events.ts unit sniff for %s "
            "(a TIMESTAMP(NANOS) file will fail in the native reader)",
            path,
        )
        return None
    try:
        field = pq.ParquetFile(path).schema_arrow.field("ts")
        return getattr(field.type, "unit", None)
    except (OSError, KeyError):
        # missing/corrupt file or schema without ts: let the native reader
        # produce its own (accurate) error downstream
        return None


def _as_nullable(dt):
    """Recursively mark every field/element nullable — what Spark's file
    sources do to any data schema (a file set may gain nulls from merged
    or later files), so inference ALWAYS returns all-nullable.  The
    footer fast path must match it exactly: builder outputs with
    non-nullable columns are written as parquet ``required`` fields, and
    without this the converted schema would differ from inference in
    nullability alone (pinned by
    tests/test_round16_ops.py::test_store_footer_schema_equals_spark_inference)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _footer_schema(path: str):
    """Spark schema from ONE driver-side pyarrow footer read (~1 ms),
    standing in for Spark's schema-inference job (~110 ms measured per
    ``spark.read.parquet`` call — a real driver-side job per table per
    query; across a many-query session that inference is one of the
    largest fixed costs, and a production deployment would get the
    schema from its metastore for free).  No caching anywhere: the
    footer is re-read on every call, so regenerated testdata is picked
    up exactly like the inference path.  Returns None (caller falls
    back to inference) for directories, missing pyarrow, or any
    conversion surprise; tests/test_round15_ops.py pins converted ==
    inferred for every testdata table at two SFs."""
    if not os.path.isfile(path):
        return None
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
    except ImportError:
        return None
    try:
        arrow = pq.ParquetFile(path).schema_arrow
        # No prefer_timestamp_ntz fallback to the older
        # one-arg from_arrow_schema — it would return ltz timestamps for
        # ntz-written parquet and the caller's cast would SHIFT values by
        # the session timezone.  Inference (None) is the safe fallback.
        return _as_nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=True))
    except Exception:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.  Parquet scan: column pruning and predicate
    pushdown apply automatically to whatever the caller selects/filters."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if _events_ts_unit(path) == "ns":
            raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
            return raw.withColumn("ts", _events_ts_from_nanos().cast("timestamp_ntz"))
        schema = _footer_schema(path)
        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    schema = _footer_schema(path)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(path)


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism for CPU-BOUND operators —
    only when the input is under-partitioned.

    File-split partitioning sizes partitions by INPUT BYTES
    (maxPartitionBytes), which is right for I/O-bound scans but starves
    CPU-heavy per-row expansions (shingling, hashing, vector math, Python
    decode) whenever the input is byte-small: a 5 MB documents file is one
    split, so one core does all the work while 31 idle.  One cheap shuffle
    of the small input buys every core downstream.

    The repartition is CONDITIONAL: at 100 TB the scan already yields
    thousands of splits, and blindly repartitioning would shuffle the whole
    table for nothing.  The check uses Catalyst's LOGICAL-plan size estimate
    (bytes / maxPartitionBytes ~ scan splits) — pure plan-time metadata.
    The previous ``df.rdd.getNumPartitions()`` probe forced a full physical
    planning pass per call, doubling plan work for every query using it."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        # py4j auto-converts the scala BigInt to int; str() also covers the
        # JavaObject form on builds where it does not.
        size_bytes = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        max_split = int(str(spark.conf.get("spark.sql.files.maxPartitionBytes")))
        est_splits = max(1, size_bytes // max_split)
    except Exception:  # stats unavailable (e.g. Connect) -> physical probe
        est_splits = df.rdd.getNumPartitions()
    if est_splits >= target:
        return df
    return df.repartition(target)
