"""String / date / math / array scalar-function families (SURVEY 2.8 F9).

The reference has no scalar functions beyond its calendar helpers; these
queries exercise the built-in families the new engine exposes.  Everything is
a codegen'd JVM expression — scalar functions are free at 100 TB as long as
they stay out of Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.tables import load


def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/lower/length/substring/concat/regexp_extract/trim/replace."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.concat(F.lit("B:"), F.col("p_brand"), F.lit("/S:"), F.col("p_size").cast("string")).alias("brand_size"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.lower(F.trim(F.col("p_name"))).alias("name_norm"),
    )


def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month/day extraction, date_trunc, datediff, date arithmetic."""
    orders = load(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("order_year"),
        F.month(d).cast("long").alias("order_month"),
        F.dayofmonth(d).cast("long").alias("order_day"),
        F.quarter(d).cast("long").alias("order_quarter"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_ts"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).cast("long").alias("days_to_1998_end"),
        F.date_add(d, 30).alias("due_date"),
    )


def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/round/floor/ceil/sqrt/ln/pow/mod over prices."""
    lineitem = load(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    return lineitem.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("linenumber"),
        F.round(p, 1).alias("price_r1"),
        F.floor(p).cast("long").alias("price_floor"),
        F.ceil(p).cast("long").alias("price_ceil"),
        F.round(F.sqrt(p), 6).alias("price_sqrt"),
        F.round(F.log(p), 6).alias("price_ln"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        (F.col("l_orderkey") % 7).cast("long").alias("okey_mod7"),
    )


def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions over the real JSON column (events.props = {"k": int}):
    path extraction, schema-checked parse, and re-serialization.  All JVM
    expressions — from_json with an explicit schema is the 100 TB-safe way
    to take semi-structured columns apart (no inference pass, no Python)."""
    events = load(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_val"),
        (parsed.getField("k") >= 50).alias("k_high"),
        F.to_json(F.struct(F.col("event_type").alias("t"))).alias("type_json"),
    )


def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup: create_map / element_at / map_keys /
    missing-key null semantics.  The oracle states the expected lookups
    directly (map internals are engine-specific; lookup results are not)."""
    part = load(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("type"), F.col("p_type"),
    )
    return part.select(
        "p_partkey",
        F.element_at(m, "brand").alias("m_brand"),
        F.element_at(m, "type").alias("m_type"),
        F.element_at(m, "absent").alias("m_missing"),
        F.size(m).cast("long").alias("m_size"),
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("m_keys_csv"),
    )


def generator_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator / UDTF surface: posexplode the whitespace tokens of each
    document, keep the first five positions.  Plans as Generate — a
    pipelined row-expander, no shuffle, no UDTF process boundary."""
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "token"),
    )
    return tokens.where(F.col("pos") < 5).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "token"
    )


def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array manipulation over the embedding column: size, indexing, slice
    aggregation, element-wise transform — the building blocks the similarity
    operators compose (all JVM higher-order functions, no UDF)."""
    emb = load(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    head3 = F.slice(vec, 1, 3)
    return emb.select(
        "vec_id",
        F.size(vec).cast("long").alias("dim"),
        F.round(F.get(vec, 0).cast("double"), 6).alias("first_component"),
        F.round(
            F.aggregate(head3, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 6
        ).alias("head3_sum"),
        F.round(
            F.aggregate(
                F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("norm_sq"),
        F.col("label").cast("long").alias("label"),
    )


def zorder_key_col(x, y):
    """Morton/Z-order interleave of the low 11 bits of two
    non-negative integer columns: bit i of x lands at position 2i, bit i
    of y at 2i+1.

    The at-rest MULTI-dimensional clustering key: sorting by zkey makes any
    contiguous key range a small axis-aligned region of the (x, y) plane,
    so parquet min/max stats prune scans filtered on EITHER dimension —
    unlike a plain sort, which clusters one dimension and leaves the other
    spanning every row group.  Pure codegen'd bit arithmetic (2*bits terms
    of shift/and/shift), zero Python in the hot path; this is how
    Delta/Iceberg OPTIMIZE ZORDER keys are built, minus the rank
    normalization those layers add for skewed domains."""
    from pyspark.sql import functions as _F

    xs = x.cast("long")
    ys = y.cast("long")
    z = _F.lit(0).cast("long")
    for i in range(11):
        z = z + _F.shiftleft(_F.shiftright(xs, i).bitwiseAND(_F.lit(1)), 2 * i)
        z = z + _F.shiftleft(
            _F.shiftright(ys, i).bitwiseAND(_F.lit(1)), 2 * i + 1
        )
    return z


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (user_id, event hour): the layout key
    for an events table that serves BOTH per-user and per-time-range
    queries from one sort order (see zorder_key_col; layout proof in
    tests/test_storage_layout.py).

    Both dimensions are min-max normalized into the full 11-bit domain
    before interleaving (one broadcast 1-row bounds aggregate).  RAW
    values break Morton keys on unbalanced domains: with user_id spanning
    8 bits and hours 10, the untouched high bits of the wider dimension
    dominate the key and the sort degenerates to a plain sort on that
    dimension — normalization is why Delta/Iceberg ZORDER rank-normalizes
    first.  Integer-in, exact double scale, floor out: deterministic
    across engines."""
    events = load(spark, sf_dir, "events")
    hour_idx = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)
    ).cast("long")
    keyed = events.select("event_id", "user_id", hour_idx.alias("hour_idx"))
    bounds = keyed.agg(
        F.min("user_id").alias("u_lo"),
        F.max("user_id").alias("u_hi"),
        F.min("hour_idx").alias("h_lo"),
        F.max("hour_idx").alias("h_hi"),
    )

    def _norm(col, lo, hi):
        span = F.col(hi) - F.col(lo) + F.lit(1)
        return F.floor(
            (F.col(col) - F.col(lo)) * F.lit(2048.0) / span
        ).cast("long")

    return keyed.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "user_id",
        "hour_idx",
        zorder_key_col(
            _norm("user_id", "u_lo", "u_hi"), _norm("hour_idx", "h_lo", "h_hi")
        ).alias("zkey"),
    )


def scalar_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT (Spark 4 semi-structured type) over events.props: parse once
    into the binary variant encoding, then typed path extraction —
    schema-on-read without a fixed from_json schema and without string
    re-parsing per access.  This is the modern at-rest shape for
    heterogeneous JSON at 100 TB: parse at ingest, store VARIANT, extract
    with variant_get in queries (column pruning and predicate pushdown
    still apply to the surrounding columns)."""
    events = load(spark, sf_dir, "events")
    # Bind the parsed VARIANT once in a first projection; every extraction
    # below reads that single binary column instead of re-parsing the string.
    parsed = events.select("event_id", F.parse_json(F.col("props")).alias("v"))
    return parsed.select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k_val"),
        F.expr("schema_of_variant(v)").alias("v_schema"),
        F.expr("try_variant_get(v, '$.missing') IS NULL")
            .alias("missing_path_null"),
        F.to_json(F.col("v")).alias("roundtrip_json"),
    )


def scalar_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL scalar family (parse_url HOST/PATH/QUERY + url_decode): URLs
    are synthesized deterministically from document attributes, parsed
    back, and a percent-encoding roundtrip is verified — the provenance-
    URL handling (host/domain extraction, query-param mining) every
    web-crawl pipeline needs at the scan stage.  All codegen'd JVM
    expressions; the oracle parses with regexes.

    Output: (doc_id, host, path, q_lang, q_n, decoded_ok)."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
        F.parse_url(url, F.lit("QUERY"), F.lit("n")).alias("q_n"),
        (
            F.url_decode(F.url_encode(F.col("source"))) == F.col("source")
        ).alias("decoded_ok"),
    )
