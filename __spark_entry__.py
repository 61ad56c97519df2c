"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001.
``queries()`` maps every implemented operator (SURVEY.md section 2) to a
callable ``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
twin for each.  Column names/types are aligned on both sides (aggregates
aliased identically, integer-ish derived columns cast to BIGINT, doubles
rounded) so the order-insensitive value-hash compare is stable.

``_ORACLES`` is the only registry.  Each key names both the query and the
function that runs it: the one function of that name defined in one of the
``_FAMILIES`` modules, resolved once at import.  To register a query, define
the function in a family module and add its oracle under the same name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from simple_land_registry_data_ingestion_spark.functions import calendar, scalars, udfs
from simple_land_registry_data_ingestion_spark.functions import text as text_fns
from simple_land_registry_data_ingestion_spark.operators import (
    asof,
    dedup,
    evaluation,
    mining,
    multimodal,
    packing,
    relational,
    similarity,
    sketches,
    skew,
)
from simple_land_registry_data_ingestion_spark.session import apply_session_defaults
from simple_land_registry_data_ingestion_spark.streaming import ops as stream_ops

#: The modules that define query functions; see ``_resolve``.
_FAMILIES = (
    relational,
    text_fns,
    dedup,
    similarity,
    stream_ops,
    evaluation,
    udfs,
    mining,
    sketches,
    scalars,
    asof,
    multimodal,
    calendar,
    skew,
    packing,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    apply_session_defaults(spark)
    return relational.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        apply_session_defaults(spark)
        return fn(spark, sf_dir)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    return run


#: Shared SQL fragments for the oracle twins below.
_SHINGLES_CTE = r"""
    docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
             FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
        FROM docs, UNNEST(range(1, len(ws) - 1)) AS t(i))
"""

_VEC_CTE = """
    v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
"""

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

#: SimHash fingerprint as a CTE chain ending in fp(doc_id, simhash) — shared
#: by the fingerprint oracle and the hamming-band pair oracle.
_SIMHASH_CTE = r"""
    tokens AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents)),
    pos AS (
        SELECT doc_id, i AS pos,
               instr('0123456789abcdef', substring(md5(token), i, 1)) - 1 AS nib
        FROM tokens, UNNEST(range(1, 17)) AS t(i)),
    votes AS (
        SELECT doc_id, pos,
               SUM(CASE WHEN (nib >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
               SUM(CASE WHEN (nib >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
               SUM(CASE WHEN (nib >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2,
               SUM(CASE WHEN (nib >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3
        FROM pos GROUP BY doc_id, pos),
    nibs AS (
        SELECT doc_id, pos,
               substring('0123456789abcdef',
                   (CASE WHEN v0 > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END)
                   + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END)
                   + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END) + 1, 1) AS c
        FROM votes),
    fp AS (
        SELECT doc_id, STRING_AGG(c, '' ORDER BY pos) AS simhash
        FROM nibs GROUP BY doc_id)
"""

#: 16-term nibble-mismatch count between fp aliases fa/fb.
_SIMHASH_DIST = "((CASE WHEN substring(fa.simhash, 1, 1) <> substring(fb.simhash, 1, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 2, 1) <> substring(fb.simhash, 2, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 3, 1) <> substring(fb.simhash, 3, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 4, 1) <> substring(fb.simhash, 4, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 5, 1) <> substring(fb.simhash, 5, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 6, 1) <> substring(fb.simhash, 6, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 7, 1) <> substring(fb.simhash, 7, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 8, 1) <> substring(fb.simhash, 8, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 9, 1) <> substring(fb.simhash, 9, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 10, 1) <> substring(fb.simhash, 10, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 11, 1) <> substring(fb.simhash, 11, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 12, 1) <> substring(fb.simhash, 12, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 13, 1) <> substring(fb.simhash, 13, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 14, 1) <> substring(fb.simhash, 14, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 15, 1) <> substring(fb.simhash, 15, 1) THEN 1 ELSE 0 END) + (CASE WHEN substring(fa.simhash, 16, 1) <> substring(fb.simhash, 16, 1) THEN 1 ELSE 0 END))"

#: MinHash-LSH candidate pairs closed into connected components via a
#: recursive min-label reachability CTE.  Requires WITH RECURSIVE and the
#: _SHINGLES_CTE prefix; ends in reach(node, label).  Shared by the cluster
#: assignment oracle and the leakage-free split oracle.
_CLUSTER_CTE = """
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cand
            UNION ALL SELECT doc_b, doc_a FROM cand),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.label
            FROM reach r JOIN edges e ON r.node = e.src
            WHERE r.label < e.dst)
"""

_SIGS_CTE = """
    planes AS (
        SELECT p,
               list_transform(range(1, 65), j ->
                   CAST(instr('0123456789abcdef',
                              substring(md5(CAST(p AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1))
                        - 1 AS DOUBLE) - 7.5) AS w
        FROM UNNEST(range(0, 8)) AS t(p)),
    sigs AS (
        SELECT v.vec_id,
               STRING_AGG(CASE WHEN list_dot_product(v.e, planes.w) > 0
                               THEN '1' ELSE '0' END, '' ORDER BY planes.p) AS bucket
        FROM v, planes GROUP BY v.vec_id)
"""


#: The external correctness gate evaluates the FIRST 50 entries of the
#: dict queries() returns, so queries() and oracle_sql() move the current
#: window (_R16_WINDOW, in priority order) to the front; everything else
#: follows in registry order.  Rotation rule, applied at the start of each
#: round: any red query takes the head; then block A, this round's
#: pre-freeze plan/execution changes (no plan rewrite after the freeze —
#: it waits a round); then the queries whose newest certification is
#: oldest, cohort by cohort (alphabetical within a cohort), filling the
#: window to 50.  No query's newest certification may age past 2 rounds.
_R16_WINDOW: list[str] = [
    # -- block A: r16 plan/execution changes, all pre-freeze --
    "dedup_simhash",
    "dedup_simhash_pairs",
    "agg_approx_quantile_error",
    "lineitem_price_elasticity",
    "agg_ams_f2_sketch",
    "stream_stream_interval_join",
    "stream_left_outer_interval_join",
    # -- block B: the 18 r07-evidence spillovers (r15 queue, verbatim) --
    "q19_disjunctive_revenue",
    "q22_global_sales_opportunity",
    "q4_order_priority",
    "q7_nation_volume",
    "sample_temperature_mix",
    "scalar_collation",
    "scalar_url_funcs",
    "similarity_sq8_error",
    "sql_group_order_by_all",
    "sql_pipe_syntax",
    "stream_full_outer_interval_join",
    "stream_two_level_window",
    "stream_upsert_latest",
    "text_bm25_topk",
    "text_rake_keywords",
    "text_readability",
    "users_kaplan_meier",
    "users_longest_streak",
    # -- block C: r08-evidence rotation (alphabetical fill, 25 of 37) --
    "agg_join_size_sketch",
    "agg_weighted_median",
    "audit_referential_integrity",
    "eval_brier_decomposition",
    "eval_calibration_bins",
    "eval_cohens_kappa",
    "eval_conformal_interval",
    "eval_ips_offpolicy",
    "eval_map_at_k",
    "eval_mrr_hit_rate",
    "eval_ndcg_at_k",
    "eval_pinball_loss",
    "eval_rank_correlation",
    "events_ab_srm_check",
    "events_bootstrap_ci",
    "events_changepoint_binseg",
    "events_diff_in_diff",
    "events_holt_winters_pandas",
    "events_hourly_acf",
    "events_kalman_level",
    "events_ks_test",
    "join_spatial_grid",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
]


#: Each oracle inlines its operator's constants, so change both together.
_ORACLES: dict[str, str] = {
    "ingest_max_date": "SELECT CAST(MAX(l_shipdate) AS DATE) AS auto_date FROM lineitem",
    "ingest_run_summary": """
        SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
               CAST(MAX(l_shipdate) AS DATE) AS auto_date,
               CAST(MIN(l_shipdate) AS DATE) AS min_date
        FROM lineitem
    """,
    "filter_project": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderstatus = 'O' AND o_totalprice > 200000.0
    """,
    "case_when_bucketing": """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 200000 THEN 'medium'
                    ELSE 'large' END AS price_band,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 2) AS avg_qty,
               ROUND(AVG(l_extendedprice), 2) AS avg_price,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q6_revenue_filter": """
        SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "agg_distinct_counts": """
        SELECT l_returnflag,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem GROUP BY l_returnflag
    """,
    "distinct_rows": "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "rollup_orders": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "cube_lineitem": """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "join_customer_orders": """
        SELECT c_custkey, c_name, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name, c_mktsegment
    """,
    "join_multiway": """
        SELECT r_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "join_left_outer": """
        SELECT c_custkey, c_name, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_left_semi": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
    "join_left_anti": """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "join_range_nonequi": """
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(AVG(o_totalprice), 2) AS avg_price
        FROM orders
        JOIN (VALUES ('small', 0.0, 50000.0),
                     ('medium', 50000.0, 200000.0),
                     ('large', 200000.0, 1e12)) AS bands(band, lo, hi)
          ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band
    """,
    "window_topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank_in_cust
            FROM orders)
        WHERE rank_in_cust <= 2
    """,
    "window_running_sum": """
        SELECT user_id, event_id, ts,
               ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        FROM events
    """,
    "window_lag_lead": """
        SELECT user_id, event_id,
               ROUND(LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
               ROUND(LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS next_value
        FROM events
    """,
    "sort_topk": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    "set_union_distinct": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        UNION
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
    "set_intersect_except": """
        SELECT nationkey, 'customer_only' AS tag FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            EXCEPT
            SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        UNION ALL
        SELECT nationkey, 'both' AS tag FROM (
            SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
            INTERSECT
            SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
    """,
    "scalar_string_funcs": r"""
        SELECT p_partkey,
               UPPER(p_brand) AS brand_upper,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               SUBSTRING(p_type, 1, 5) AS type_prefix,
               REGEXP_EXTRACT(p_name, '^(\w+)', 1) AS first_word,
               'B:' || p_brand || '/S:' || CAST(p_size AS VARCHAR) AS brand_size,
               REPLACE(p_type, ' ', '_') AS type_snake,
               LOWER(TRIM(p_name)) AS name_norm
        FROM part
    """,
    "scalar_date_funcs": """
        SELECT o_orderkey,
               CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
               CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
               CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS order_day,
               CAST(QUARTER(o_orderdate) AS BIGINT) AS order_quarter,
               CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_ts,
               CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_1998_end,
               CAST(o_orderdate AS DATE) + 30 AS due_date
        FROM orders
    """,
    "scalar_math_funcs": """
        SELECT l_orderkey,
               CAST(l_linenumber AS BIGINT) AS linenumber,
               ROUND(l_extendedprice, 1) AS price_r1,
               CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
               ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
               ROUND(LN(l_extendedprice), 6) AS price_ln,
               ROUND(ABS(l_discount - 0.05), 4) AS disc_dev,
               CAST(l_orderkey % 7 AS BIGINT) AS okey_mod7
        FROM lineitem
    """,
    "array_funcs": """
        SELECT vec_id,
               CAST(LEN(embedding) AS BIGINT) AS dim,
               ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
               ROUND(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
                     + CAST(embedding[3] AS DOUBLE), 6) AS head3_sum,
               ROUND(LIST_REDUCE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x * x),
                                 (a, b) -> a + b), 6) AS norm_sq,
               CAST(label AS BIGINT) AS label
        FROM embeddings
    """,
    "calendar_working_days": """
        WITH months AS (
            SELECT DISTINCT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start
            FROM orders),
        days AS (
            SELECT month_start,
                   CAST(UNNEST(RANGE(CAST(month_start AS TIMESTAMP),
                                     CAST(month_start AS TIMESTAMP) + INTERVAL 1 MONTH,
                                     INTERVAL 1 DAY)) AS DATE) AS d
            FROM months),
        wd AS (
            SELECT month_start, d,
                   ROW_NUMBER() OVER (PARTITION BY month_start ORDER BY d) AS rn
            FROM days WHERE DAYOFWEEK(d) BETWEEN 1 AND 5)
        SELECT month_start,
               MAX(CASE WHEN rn = 5 THEN d END) AS wd_5,
               MAX(CASE WHEN rn = 20 THEN d END) AS wd_20,
               CAST(COUNT(*) AS BIGINT) AS n_working_days
        FROM wd GROUP BY month_start
    """,
    "calendar_month_bounds": """
        SELECT o_orderkey,
               LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS next_month_same_day,
               CAST(DATEDIFF('day', CAST(o_orderdate AS DATE),
                             LAST_DAY(CAST(o_orderdate AS DATE))) AS BIGINT) AS days_to_month_end
        FROM orders
    """,
}

_ORACLES.update({
    "text_token_count": r"""
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_actual
        FROM documents
    """,
    "text_quality_score": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS ws,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nonspace,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
            FROM documents),
        c AS (
            SELECT doc_id, n_chars, nonspace, alpha,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(ws, w -> w IN
                        ('the','a','and','of','to','in','is','it','that','for'))) AS BIGINT) AS stop_hits
            FROM t)
        SELECT doc_id, n_tokens,
               ROUND(nonspace / n_tokens, 4) AS mean_word_len,
               ROUND(stop_hits / n_tokens, 4) AS stop_ratio,
               ROUND(alpha / n_chars, 4) AS alpha_ratio,
               ROUND(LEAST(stop_hits / n_tokens * 5.0, 1.0) * 0.3
                     + GREATEST(0.0, 1.0 - ABS(nonspace / n_tokens - 5.0) / 5.0) * 0.3
                     + LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.2
                     + (alpha / n_chars) * 0.2 + 1e-9, 4) AS quality_score
        FROM c
    """,
    "text_lang_id": r"""
        WITH t AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        h AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(ws, w -> w IN ('the','a','and','of','to','in','is','it','that','for'))) AS BIGINT) AS hits_en,
                   CAST(len(list_filter(ws, w -> w IN ('le','la','et','les','des','un','une','du','est','que'))) AS BIGINT) AS hits_fr,
                   CAST(len(list_filter(ws, w -> w IN ('der','die','und','das','ist','ein','eine','mit','von','zu'))) AS BIGINT) AS hits_de,
                   CAST(len(list_filter(ws, w -> w IN ('el','la','y','los','las','un','una','es','que','de'))) AS BIGINT) AS hits_es
            FROM t)
        SELECT doc_id, lang, hits_en, hits_fr, hits_de, hits_es,
               CASE WHEN GREATEST(hits_en, hits_fr, hits_de, hits_es) = 0 THEN 'unknown'
                    WHEN hits_en = GREATEST(hits_en, hits_fr, hits_de, hits_es) THEN 'en'
                    WHEN hits_fr = GREATEST(hits_en, hits_fr, hits_de, hits_es) THEN 'fr'
                    WHEN hits_de = GREATEST(hits_en, hits_fr, hits_de, hits_es) THEN 'de'
                    ELSE 'es' END AS pred_lang
        FROM h
    """,
    "text_fingerprint": r"""
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
               list_reduce(
                   list_transform(regexp_split_to_array(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_rolling
        FROM documents
    """,
    "dedup_exact_documents": """
        SELECT doc_id, lang, source, n_chars FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents)
        WHERE rn = 1
    """,
    "cdc_latest_per_key": """
        SELECT user_id, event_id, ts, event_type, ROUND(value, 2) AS value FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        -- stop-shingle guard: same df cap as operators/dedup.py MAX_SHINGLE_DF
        shf AS (
            SELECT doc_id, shingle FROM sh
            QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shf GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.30
    """,
    "dedup_simhash": f"""
        WITH {_SIMHASH_CTE}
        SELECT doc_id, simhash FROM fp
    """,
    "dedup_simhash_pairs": f"""
        WITH {_SIMHASH_CTE},
        bands AS (
            SELECT doc_id,
                   CAST(b AS VARCHAR) || ':' || substring(simhash, b * 4 + 1, 4) AS band_key
            FROM fp, UNNEST(range(0, 4)) AS t(b)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST({_SIMHASH_DIST} AS BIGINT) AS nibble_distance
        FROM cand
        JOIN fp fa ON doc_a = fa.doc_id
        JOIN fp fb ON doc_b = fb.doc_id
        WHERE {_SIMHASH_DIST} <= 3
    """,
    "dedup_jaccard_lsh": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.30
    """,
    "dedup_containment_lsh": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_inter / sa.n_sh, 6) AS containment_a_in_b,
               ROUND(n_inter / sb.n_sh, 6) AS containment_b_in_a
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(n_inter / sa.n_sh, 6) >= 0.50
           OR ROUND(n_inter / sb.n_sh, 6) >= 0.50
    """,
    "dedup_embedding_lsh": f"""
        WITH {_VEC_CTE},
        {_SIGS_CTE},
        cand AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sigs a JOIN sigs b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b,
               ROUND({_COS.format(a='va.e', b='vb.e')}, 6) AS cosine
        FROM cand
        JOIN v va ON vec_a = va.vec_id
        JOIN v vb ON vec_b = vb.vec_id
        WHERE ROUND({_COS.format(a='va.e', b='vb.e')}, 6) >= 0.30
    """,
    "dedup_cluster_assignments": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        {_CLUSTER_CTE}
        SELECT node AS doc_id,
               MIN(label) AS cluster_id,
               node = MIN(label) AS is_canonical
        FROM reach GROUP BY node
    """,
    "text_tfidf_topk": r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                  FROM toks GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
                   ROUND(tf.tf * (LN((n.n_docs + 1) / (dfreq.df + 1)) + 1), 6) AS tfidf
            FROM tf JOIN dfreq ON tf.token = dfreq.token, n),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
            FROM scored)
        SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 3
    """,
    "text_vocab_topk": r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents)
        SELECT token,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM toks GROUP BY token
        ORDER BY n_total DESC, token LIMIT 100
    """,
    "sample_stratified_fixed": """
        SELECT c_custkey, c_mktsegment, CAST(sample_rank AS BIGINT) AS sample_rank
        FROM (
            SELECT c_custkey, c_mktsegment,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
                   ) AS sample_rank
            FROM customer)
        WHERE sample_rank <= 50
    """,
    "dedup_embedding_cosine": f"""
        WITH {_VEC_CTE}
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_COS.format(a='a.e', b='b.e')}, 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND({_COS.format(a='a.e', b='b.e')}, 6) >= 0.30
    """,
    "similarity_topk_bruteforce": f"""
        WITH {_VEC_CTE},
        q AS (SELECT e AS qe FROM v WHERE vec_id = 0)
        SELECT v.vec_id, CAST(v.label AS BIGINT) AS label,
               ROUND({_COS.format(a='v.e', b='q.qe')}, 6) AS cosine
        FROM v, q WHERE v.vec_id <> 0
        ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    "similarity_ann_lsh": f"""
        WITH {_VEC_CTE},
        {_SIGS_CTE},
        q AS (SELECT v.e AS qe, sigs.bucket AS qb
              FROM v JOIN sigs ON v.vec_id = sigs.vec_id WHERE v.vec_id = 0)
        SELECT v.vec_id, sigs.bucket,
               ROUND({_COS.format(a='v.e', b='q.qe')}, 6) AS cosine
        FROM v JOIN sigs ON v.vec_id = sigs.vec_id, q
        WHERE sigs.bucket = q.qb AND v.vec_id <> 0
        ORDER BY cosine DESC, v.vec_id LIMIT 5
    """,
    "similarity_ann_lsh_multiprobe": f"""
        WITH {_VEC_CTE},
        {_SIGS_CTE},
        q AS (SELECT v.e AS qe, sigs.bucket AS qb
              FROM v JOIN sigs ON v.vec_id = sigs.vec_id WHERE v.vec_id = 0),
        cand AS (
            SELECT v.vec_id, sigs.bucket, v.e, q.qe
            FROM v JOIN sigs ON v.vec_id = sigs.vec_id, q
            WHERE v.vec_id <> 0
              AND ({" + ".join(
                  f"(CASE WHEN substring(sigs.bucket, {i}, 1) <> substring(q.qb, {i}, 1) THEN 1 ELSE 0 END)"
                  for i in range(1, 9)
              )}) <= 1)
        SELECT vec_id, bucket,
               ROUND({_COS.format(a='cand.e', b='cand.qe')}, 6) AS cosine
        FROM cand
        ORDER BY cosine DESC, vec_id LIMIT 5
    """,
    "similarity_bucket_histogram": f"""
        WITH {_VEC_CTE},
        {_SIGS_CTE}
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM sigs GROUP BY bucket
    """,
    "similarity_ann_batch": f"""
        WITH {_VEC_CTE},
        {_SIGS_CTE},
        q AS (SELECT v.vec_id AS q_id, v.e AS qe, sigs.bucket AS qb
              FROM v JOIN sigs ON v.vec_id = sigs.vec_id WHERE v.vec_id < 8),
        scored AS (
            SELECT q.q_id, v.vec_id,
                   ROUND({_COS.format(a='v.e', b='q.qe')}, 6) AS cosine
            FROM v JOIN sigs ON v.vec_id = sigs.vec_id
            JOIN q ON sigs.bucket = q.qb AND v.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY q_id
                        ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 3
    """,
    "similarity_ann_ivf": f"""
        WITH {_VEC_CTE},
        c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 16),
        scored AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC,
                                c.centroid_id) AS rn
            FROM v, c),
        a AS (SELECT vec_id, centroid_id FROM scored WHERE rn = 1),
        q AS (SELECT v.e AS qe, a.centroid_id AS qc
              FROM v JOIN a ON v.vec_id = a.vec_id WHERE v.vec_id = 0)
        SELECT v.vec_id, CAST(a.centroid_id AS BIGINT) AS centroid_id,
               ROUND({_COS.format(a='v.e', b='q.qe')}, 6) AS cosine
        FROM v JOIN a ON v.vec_id = a.vec_id, q
        WHERE a.centroid_id = q.qc AND v.vec_id <> 0
        ORDER BY cosine DESC, v.vec_id LIMIT 5
    """,
})


_AES_UINT = " + ".join(
    f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}.0"
    for i in range(8)
)

_ORACLES.update({
    "text_repetition_ratio": r"""
        WITH docs AS (SELECT doc_id,
                             string_split_regex(lower(trim(text)), '\s+') AS ws
                      FROM documents),
        tri AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
                FROM docs, UNNEST(range(1, len(ws) - 1)) t(i)),
        agg AS (SELECT doc_id, COUNT(*) AS t, COUNT(DISTINCT g) AS d
                FROM tri GROUP BY doc_id)
        SELECT docs.doc_id,
               CAST(COALESCE(agg.t, 0) AS BIGINT) AS n_trigrams,
               CAST(COALESCE(agg.d, 0) AS BIGINT) AS n_distinct_trigrams,
               CASE WHEN COALESCE(agg.t, 0) > 0
                    THEN ROUND(1.0 - agg.d * 1.0 / agg.t + 1e-9, 4)
                    ELSE 0.0 END AS repetition_ratio
        FROM docs LEFT JOIN agg ON docs.doc_id = agg.doc_id
    """,
    "events_funnel_conversion": """
        WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
        v AS (SELECT user_id, MIN(ts) AS first_view FROM ev
              WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.ts) AS first_click
              FROM ev e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.first_view GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.ts) AS first_purchase
              FROM ev e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.first_click GROUP BY 1)
        SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
               CASE WHEN p.first_purchase IS NOT NULL THEN 'purchase'
                    WHEN c.first_click IS NOT NULL THEN 'click'
                    ELSE 'view' END AS deepest_stage
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
    """,
    "sample_weighted_aes": rf"""
        WITH d AS (SELECT doc_id,
                          len(string_split_regex(lower(trim(text)), '\s+')) AS w,
                          md5(CAST(doc_id AS VARCHAR)) AS h
                   FROM documents)
        SELECT doc_id,
               CAST(w AS BIGINT) AS weight_tokens,
               ROUND(ln(({_AES_UINT} + 1.0) / 4294967296.0) / w, 6) AS sample_key
        FROM d
        ORDER BY sample_key DESC, doc_id LIMIT 50
    """,
    "agg_histogram_bins": """
        SELECT CAST(FLOOR(l_extendedprice / 5000.0) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(MIN(l_extendedprice), 2) AS min_price,
               ROUND(MAX(l_extendedprice), 2) AS max_price
        FROM lineitem GROUP BY 1 ORDER BY bin
    """,
    # The merge's correctness contract IS the oracle: applying the derived
    # I/U/D batch to the 'old' snapshot must reproduce the 'new' snapshot
    # exactly, so the twin computes 'new' directly.
    "cdc_merge_upsert": """
        SELECT o_orderkey,
               ROUND(CASE WHEN substring(md5('mod:' || CAST(o_orderkey AS VARCHAR)), 1, 1)
                               IN ('0', '1')
                          THEN o_totalprice * 1.1 ELSE o_totalprice END, 2) AS price
        FROM orders
        WHERE substring(md5('new:' || CAST(o_orderkey AS VARCHAR)), 1, 1) <> '0'
    """,
    "text_bigram_perplexity": r"""
        WITH docs AS (SELECT doc_id,
                             string_split_regex(lower(trim(text)), '\s+') AS ws
                      FROM documents),
        big AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
                FROM docs, UNNEST(range(1, len(ws))) t(i)),
        c12 AS (SELECT w1, w2, COUNT(*) AS n12 FROM big GROUP BY 1, 2),
        c1 AS (SELECT w1, COUNT(*) AS n1 FROM big GROUP BY 1)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(exp(-AVG(ln(c12.n12 * 1.0 / c1.n1))) + 1e-9, 4)
                   AS perplexity
        FROM big
        JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
        JOIN c1 ON big.w1 = c1.w1
        GROUP BY doc_id
    """,
})


def _kmeans_iter(i: int, prev: str) -> str:
    """One unrolled Lloyd iteration as CTE text: assign every vector to its
    argmax-cosine centroid (cosine rounded to 6 dp, ties on centroid id),
    then recenter as the 6-dp-rounded per-dimension mean — the exact
    quantization the Spark loop applies, which is what makes the float
    recurrence engine-independent."""
    cos = _COS.format(a="n.e", b=f"{prev}.ce")
    return f"""
        s{i} AS (SELECT n.vec_id, n.e, {prev}.cid,
                        ROW_NUMBER() OVER (
                            PARTITION BY n.vec_id
                            ORDER BY ROUND({cos}, 6) DESC, {prev}.cid) AS rn
                 FROM n, {prev}),
        a{i} AS (SELECT vec_id, e, cid FROM s{i} WHERE rn = 1),
        d{i} AS (SELECT cid, t.i AS pos, ROUND(AVG(e[t.i]), 6) AS m
                 FROM a{i}, range(1, 65) t(i) GROUP BY cid, t.i),
        c{i} AS (SELECT cid, list(m ORDER BY pos) AS ce,
                        sqrt(list_dot_product(list(m ORDER BY pos),
                                              list(m ORDER BY pos))) AS cn
                 FROM d{i} GROUP BY cid)"""


_ORACLES.update({
    # Unrolled 2-iteration Lloyd refinement + cluster stats.  Cosine here
    # divides by (nrm * cn) explicitly since the _COS macro recomputes norms;
    # build the normalized form inline instead.
    "similarity_ivf_kmeans": f"""
        WITH {_VEC_CTE},
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        c0 AS (SELECT vec_id AS cid, e AS ce, sqrt(list_dot_product(e, e)) AS cn
               FROM v WHERE vec_id < 16),
        {_kmeans_iter(1, "c0")},
        {_kmeans_iter(2, "c1")},
        sf AS (SELECT n.vec_id, c2.cid,
                      ROUND(list_dot_product(n.e, c2.ce) / (n.nrm * c2.cn), 6)
                          AS c_cos,
                      ROW_NUMBER() OVER (
                          PARTITION BY n.vec_id
                          ORDER BY ROUND(list_dot_product(n.e, c2.ce)
                                         / (n.nrm * c2.cn), 6) DESC,
                                   c2.cid) AS rn
               FROM n, c2)
        SELECT CAST(cid AS BIGINT) AS centroid_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(AVG(c_cos), 4) AS mean_cosine
        FROM sf WHERE rn = 1
        GROUP BY cid ORDER BY centroid_id
    """,
})


_ORACLES.update({
    # SemDeDup: the same unrolled 2-iteration Lloyd pipeline as
    # similarity_ivf_kmeans, then in-cluster keep-first-by-id pruning at
    # 6-dp cosine >= 0.32 (threshold in operators/dedup.py dedup_semdedup).
    "dedup_semdedup": f"""
        WITH {_VEC_CTE},
        n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
        c0 AS (SELECT vec_id AS cid, e AS ce, sqrt(list_dot_product(e, e)) AS cn
               FROM v WHERE vec_id < 16),
        {_kmeans_iter(1, "c0")},
        {_kmeans_iter(2, "c1")},
        sf AS (SELECT n.vec_id, n.e, n.nrm, c2.cid,
                      ROW_NUMBER() OVER (
                          PARTITION BY n.vec_id
                          ORDER BY ROUND(list_dot_product(n.e, c2.ce)
                                         / (n.nrm * c2.cn), 6) DESC,
                                   c2.cid) AS rn
               FROM n, c2),
        asg AS (SELECT vec_id, e, nrm, cid FROM sf WHERE rn = 1),
        dom AS (SELECT DISTINCT y.vec_id
                FROM asg x JOIN asg y
                  ON x.cid = y.cid AND x.vec_id < y.vec_id
                WHERE ROUND(list_dot_product(x.e, y.e) / (x.nrm * y.nrm), 6)
                      >= 0.32)
        SELECT a.vec_id, CAST(a.cid AS BIGINT) AS centroid_id,
               (d.vec_id IS NULL) AS is_kept
        FROM asg a LEFT JOIN dom d ON a.vec_id = d.vec_id
    """,
    # Triangles over the MinHash-LSH candidate graph: canonical a<b edges
    # make the (a,b)(b,c)(a,c) triple join count each triangle once; the
    # Spark side's degree-ordered orientation yields the identical set.
    # (reach in _CLUSTER_CTE is unreferenced here and never evaluated.)
    "dedup_triangle_stats": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        {_CLUSTER_CTE},
        tri AS (
            SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
            FROM cand e1
            JOIN cand e2 ON e2.doc_a = e1.doc_b
            JOIN cand e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        pt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
                   SELECT a AS node FROM tri
                   UNION ALL SELECT b FROM tri
                   UNION ALL SELECT c FROM tri)
               GROUP BY node),
        und AS (SELECT doc_a AS u, doc_b AS v FROM cand
                UNION ALL SELECT doc_b, doc_a FROM cand),
        deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
                FROM und GROUP BY u)
        SELECT d.doc_id,
               COALESCE(deg.degree, 0) AS degree,
               COALESCE(pt.n_tri, 0) AS n_triangles,
               CASE WHEN COALESCE(deg.degree, 0) >= 2
                    THEN ROUND(2.0 * COALESCE(pt.n_tri, 0)
                               / (deg.degree * (deg.degree - 1)), 6)
                    ELSE 0.0 END AS clustering_coeff
        FROM documents d
        LEFT JOIN deg ON d.doc_id = deg.node
        LEFT JOIN pt ON d.doc_id = pt.node
    """,
    "join_scd2_dimension": """
        WITH yrs AS (SELECT DISTINCT YEAR(CAST(o_orderdate AS DATE)) AS yr
                     FROM orders),
        dim AS (SELECT CAST(n_nationkey AS BIGINT) AS nationkey,
                       CAST(ROUND(0.01 * ((n_nationkey * 7 + yr) % 10), 6)
                            AS DOUBLE) AS policy_rate,
                       MAKE_DATE(yr, 1, 1) AS valid_from
                FROM nation, yrs
                WHERE (n_nationkey + yr) % 2 = 0),
        iv AS (SELECT *, LEAD(valid_from) OVER (
                   PARTITION BY nationkey ORDER BY valid_from) AS valid_until
               FROM dim),
        f AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
                     o_totalprice, CAST(c_nationkey AS BIGINT) AS nationkey
              FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT o_orderkey, nationkey, valid_from AS version_date, policy_rate,
               o_totalprice * (1 - policy_rate) AS net_price
        FROM f JOIN iv USING (nationkey)
        WHERE od >= valid_from
          AND (valid_until IS NULL OR od < valid_until)
    """,
    "agg_histogram_equidepth": """
        WITH b AS (SELECT list_transform(
                       quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                       x -> ROUND(x, 2)) AS bs
                   FROM orders),
        binned AS (SELECT o_totalprice,
                          CAST(1 + len(list_filter(b.bs,
                              x -> o_totalprice > x)) AS BIGINT) AS bin
                   FROM orders, b)
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM binned GROUP BY bin
    """,
    "text_winnowing_fingerprints": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        g AS (
            SELECT doc_id,
                   list_transform(range(1, len(ws) - 1),
                       i -> md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
                       AS grams
            FROM t WHERE len(ws) >= 6),
        f AS (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(grams) - 2),
                       i -> list_min(list_slice(grams, i, i + 3))))
                       AS fingerprint
            FROM g)
        SELECT DISTINCT doc_id, fingerprint FROM f
    """,
    "events_zorder_key": f"""
        WITH k AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
                        AS BIGINT) AS hour_idx
            FROM events),
        b AS (SELECT MIN(user_id) AS u_lo, MAX(user_id) AS u_hi,
                     MIN(hour_idx) AS h_lo, MAX(hour_idx) AS h_hi
              FROM k),
        n AS (SELECT event_id, user_id, hour_idx,
                     CAST(floor((user_id - u_lo) * 2048.0
                                / (u_hi - u_lo + 1)) AS BIGINT) AS un,
                     CAST(floor((hour_idx - h_lo) * 2048.0
                                / (h_hi - h_lo + 1)) AS BIGINT) AS hn
              FROM k, b)
        SELECT event_id, user_id, hour_idx,
               CAST({' + '.join(
                   f"((un >> {i}) & 1) * {1 << (2 * i)}"
                   f" + ((hn >> {i}) & 1) * {1 << (2 * i + 1)}"
                   for i in range(11))} AS BIGINT) AS zkey
        FROM n
    """,
    "events_markov_transitions": """
        WITH steps AS (
            SELECT user_id, event_type AS to_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
            FROM events),
        c AS (SELECT from_type, to_type,
                     CAST(COUNT(*) AS BIGINT) AS n_transitions
              FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_type,
                     CAST(SUM(n_transitions) AS BIGINT) AS n_from
              FROM c GROUP BY 1)
        SELECT c.from_type, c.to_type, c.n_transitions,
               ROUND(c.n_transitions / CAST(t.n_from AS DOUBLE), 6)
                   AS probability
        FROM c JOIN t USING (from_type)
    """,
    "sample_source_capped": """
        SELECT doc_id, source, sample_rank FROM (
            SELECT doc_id, source,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS BIGINT) AS sample_rank
            FROM documents)
        WHERE sample_rank <= 10
    """,
    "text_quality_quantile_gate": r"""
        WITH t AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(text)), '\s+') AS ws,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nonspace,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
            FROM documents),
        c AS (
            SELECT doc_id, lang, n_chars, nonspace, alpha,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(ws, w -> w IN
                        ('the','a','and','of','to','in','is','it','that','for'))) AS BIGINT) AS stop_hits
            FROM t),
        s AS (
            SELECT doc_id, lang,
                   ROUND(LEAST(stop_hits / n_tokens * 5.0, 1.0) * 0.3
                         + GREATEST(0.0, 1.0 - ABS(nonspace / n_tokens - 5.0) / 5.0) * 0.3
                         + LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) * 0.2
                         + (alpha / n_chars) * 0.2 + 1e-9, 4) AS quality_score
            FROM c),
        thr AS (
            SELECT lang, ROUND(quantile_cont(quality_score, 0.25), 4)
                       AS lang_threshold
            FROM s GROUP BY lang)
        SELECT s.doc_id, s.lang, s.quality_score, thr.lang_threshold,
               s.quality_score >= thr.lang_threshold AS is_kept
        FROM s JOIN thr USING (lang)
    """,
    "agg_approx_distinct": """
        SELECT l_linestatus,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact,
               TRUE AS approx_within_5pct
        FROM lineitem GROUP BY l_linestatus
    """,
    "agg_collect_sorted": """
        SELECT c_mktsegment,
               STRING_AGG(DISTINCT CAST(c_nationkey AS BIGINT), ','
                          ORDER BY CAST(c_nationkey AS BIGINT)) AS nations_csv,
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
        FROM customer GROUP BY c_mktsegment
    """,
    "unpivot_measures": """
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
               'quantity' AS measure, ROUND(l_quantity, 2) AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
               'extendedprice', ROUND(l_extendedprice, 2) FROM lineitem
        UNION ALL
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
               'discount', ROUND(l_discount, 2) FROM lineitem
        UNION ALL
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT),
               'tax', ROUND(l_tax, 2) FROM lineitem
    """,
    "sample_hash_deterministic": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
               ROUND(SUM(o_totalprice), 2) AS sum_sampled,
               CAST(COUNT(*) * 16 AS BIGINT) AS est_total_orders
        FROM orders
        WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
    """,
    "join_asof_rates": """
        WITH rates AS (
            SELECT rate_date,
                   CAST(ROUND(1.0 + (YEAR(rate_date) % 5) * 0.01
                             + QUARTER(rate_date) * 0.001, 6) AS DOUBLE) AS rate
            FROM (SELECT DISTINCT CAST(DATE_TRUNC('quarter', o_orderdate) AS DATE)
                         AS rate_date FROM orders)
            WHERE QUARTER(rate_date) IN (1, 3))
        SELECT o_orderkey, rate_date AS asof_date, rate,
               o_totalprice * rate AS adj_price
        FROM orders ASOF JOIN rates ON CAST(o_orderdate AS DATE) >= rate_date
    """,
    "window_range_frame": """
        SELECT user_id, event_id,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
               ROUND(SUM(value) OVER w, 2) AS sum_trailing_1h
        FROM (SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "scalar_json_funcs": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
               CAST(json_extract(props, '$.k') AS BIGINT) >= 50 AS k_high,
               '{"t":"' || event_type || '"}' AS type_json
        FROM events
    """,
    "scalar_map_funcs": """
        SELECT p_partkey,
               p_brand AS m_brand,
               p_type AS m_type,
               CAST(NULL AS VARCHAR) AS m_missing,
               CAST(2 AS BIGINT) AS m_size,
               'brand,type' AS m_keys_csv
        FROM part
    """,
    "generator_explode_tokens": r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents)
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS token
        FROM docs, UNNEST(range(1, len(ws) + 1)) AS t(i)
        WHERE i <= 5
    """,
    "agg_percentiles": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "sql_grouping_sets": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "calendar_publish_dates": """
        WITH months AS (
            SELECT DISTINCT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m
            FROM orders),
        samples AS (
            SELECT m, UNNEST([m + 9, m + 27]) AS d FROM months),
        need AS (
            SELECT DISTINCT CAST(m + k * INTERVAL 1 MONTH AS DATE) AS ms
            FROM months, UNNEST([-1, 0, 1]) AS t(k)),
        days AS (
            SELECT ms,
                   CAST(UNNEST(RANGE(CAST(ms AS TIMESTAMP),
                                     CAST(ms AS TIMESTAMP) + INTERVAL 1 MONTH,
                                     INTERVAL 1 DAY)) AS DATE) AS dd
            FROM need),
        wd AS (
            SELECT ms, dd, ROW_NUMBER() OVER (PARTITION BY ms ORDER BY dd) AS rn
            FROM days WHERE DAYOFWEEK(dd) BETWEEN 1 AND 5),
        wd20 AS (SELECT ms, MAX(CASE WHEN rn = 20 THEN dd END) AS w20 FROM wd GROUP BY ms)
        SELECT s.d AS sample_date,
               wn.w20 AS publish_after_threshold,
               CASE WHEN s.d >= wt.w20 THEN wt.w20 ELSE wp.w20 END AS latest_publish,
               LAST_DAY(CASE WHEN s.d >= wt.w20 THEN wt.w20 ELSE wp.w20 END) AS threshold_covered
        FROM samples s
        JOIN wd20 wt ON wt.ms = s.m
        JOIN wd20 wn ON wn.ms = CAST(s.m + INTERVAL 1 MONTH AS DATE)
        JOIN wd20 wp ON wp.ms = CAST(s.m - INTERVAL 1 MONTH AS DATE)
    """,
    "pivot_orders": """
        SELECT o_orderstatus,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_prio_1,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS n_prio_2,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_prio_3,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_prio_4,
               CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS n_prio_5
        FROM orders GROUP BY o_orderstatus
    """,
    "skew_salted_agg": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY user_id
    """,
    "skew_salted_join": """
        WITH user_dim AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS user_total
            FROM events GROUP BY user_id)
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e JOIN user_dim d ON e.user_id = d.user_id
        WHERE d.user_total > 100
        GROUP BY e.event_type
    """,
    "text_stats_pandas_udf": r"""
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha_chars
        FROM documents
    """,
})

# Multimodal oracles: payloads are utf-8 bytes of documents.text, and the
# corpus is pure ASCII (verified at both sf0.01 and sf0.1), so byte-level
# operations are expressible over characters in SQL.
_ORACLES.update({
    "multimodal_binary_metadata": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5,
               lower(hex(encode(substring(text, 1, 4)))) AS magic_hex,
               CASE WHEN lower(hex(encode(substring(text, 1, 4)))) LIKE '89504e47%' THEN 'png'
                    WHEN lower(hex(encode(substring(text, 1, 4)))) LIKE 'ffd8ff%' THEN 'jpeg'
                    WHEN lower(hex(encode(substring(text, 1, 4)))) LIKE '52494646%' THEN 'riff'
                    ELSE 'raw' END AS format
        FROM documents
    """,
    "multimodal_decode_features": """
        WITH b AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   list_sum(list_transform(regexp_split_to_array(text, ''),
                                           c -> ascii(c))) AS byte_sum
            FROM documents)
        SELECT doc_id, n_bytes,
               CAST(1 + n_bytes % 64 AS BIGINT) AS fake_width,
               CAST(1 + n_bytes % 48 AS BIGINT) AS fake_height,
               CAST(byte_sum AS DOUBLE) / n_bytes AS mean_byte
        FROM b
    """,
    "multimodal_frame_sample": """
        WITH c AS (
            SELECT doc_id, regexp_split_to_array(text, '') AS chars
            FROM documents)
        SELECT doc_id,
               CAST(len(list_transform(range(1, len(chars) + 1, 997),
                                       i -> ascii(chars[i]))) AS BIGINT) AS n_frames,
               array_to_string(list_transform(range(1, len(chars) + 1, 997),
                                              i -> CAST(ascii(chars[i]) AS VARCHAR)),
                               ',') AS frame_bytes
        FROM c
    """,
})

# Streaming oracles: the streaming queries run to END-OF-STREAM with
# trigger(availableNow), so their batch equivalents are plain SQL — plus, for
# append-mode ops, the final-watermark filter (windows/sessions the watermark
# has not passed are withheld and their state discarded at stream end).
_ORACLES.update({
    "stream_tumbling_window": """
        SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "stream_sliding_window": """
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
        x AS (
            SELECT DATE_TRUNC('hour', ts) - k * INTERVAL 1 HOUR AS window_start
            FROM e, UNNEST(range(0, 2)) AS t(k))
        SELECT window_start,
               window_start + INTERVAL 2 HOUR AS window_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM x GROUP BY 1
    """,
    "stream_tumbling_append_watermark": """
        WITH wm AS (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events),
        g AS (
            SELECT DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS window_start,
                   user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2)
        SELECT g.window_start, g.user_id, g.n_events
        FROM g, wm WHERE g.window_start + INTERVAL 1 HOUR <= wm.w
    """,
    "stream_session_window": """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM e),
        s AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER win IS NULL
                             OR ts - LAG(ts) OVER win >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts)),
        g AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM s),
        sess AS (
            SELECT MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM g GROUP BY user_id, sid)
        SELECT session_start, session_end, user_id, n_events
        FROM sess, wm WHERE session_end <= wm.w
    """,
    "stream_dedup_within_watermark": "SELECT DISTINCT user_id, event_type FROM events",
    "stream_stream_interval_join": """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
                   FROM events),
        c AS (SELECT user_id AS c_user, ts AS c_ts FROM e WHERE event_type = 'click'),
        p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event
              FROM e WHERE event_type = 'purchase'),
        j AS (SELECT p_user, p_event FROM p JOIN c
               ON p_user = c_user
              AND c_ts < p_ts
              AND c_ts >= p_ts - INTERVAL 30 MINUTE)
        SELECT p_user AS user_id,
               CAST(COUNT(*) AS BIGINT) AS n_attributed_pairs,
               CAST(COUNT(DISTINCT p_event) AS BIGINT) AS n_purchases_with_prior_click
        FROM j GROUP BY 1
    """,
    # EventTimeTimeout sessionizer: closed sessions = batch 30-min-gap
    # sessionization, where every non-final session per user emits (in-data
    # close) and each user's FINAL session emits only if the final
    # watermark (max ts - 10 min) passed its end + gap (timeout close).
    "stream_inactivity_sessions": """
        WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
                    FROM events),
        lagged AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                             >= INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_s
            FROM ev),
        seqs AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS seq
            FROM lagged),
        sessions AS (
            SELECT user_id, seq, MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM seqs GROUP BY 1, 2),
        wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM ev)
        SELECT user_id, session_start, session_end, n_events
        FROM sessions, wm
        WHERE seq < (SELECT MAX(s2.seq) FROM sessions s2
                     WHERE s2.user_id = sessions.user_id)
           OR session_end + INTERVAL 30 MINUTE <= wm.w
    """,
    # Left-outer variant: matched rows equal the batch left join's; NULL
    # rows only for purchases the FINAL watermark (min over both sides of
    # max event time - 1h) has passed — younger unmatched purchases are
    # withheld at end-of-stream, exactly Spark's outer-join eviction.
    "stream_left_outer_interval_join": """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
                   FROM events),
        c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_event
              FROM e WHERE event_type = 'click'),
        p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event
              FROM e WHERE event_type = 'purchase'),
        wm AS (SELECT LEAST((SELECT MAX(c_ts) FROM c),
                            (SELECT MAX(p_ts) FROM p)) - INTERVAL 1 HOUR AS w),
        j AS (SELECT p.p_user, p.p_ts, p.p_event, c.c_event
              FROM p LEFT JOIN c
               ON p_user = c_user
              AND c_ts < p_ts
              AND c_ts >= p_ts - INTERVAL 30 MINUTE),
        filt AS (SELECT j.* FROM j, wm
                 WHERE c_event IS NOT NULL OR p_ts <= wm.w)
        SELECT p_user AS user_id,
               CAST(COUNT(DISTINCT p_event) AS BIGINT) AS n_purchases_emitted,
               CAST(SUM(CASE WHEN c_event IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_attributed_pairs,
               CAST(SUM(CASE WHEN c_event IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unmatched_purchases
        FROM filt GROUP BY 1
    """,
    "stream_stateful_user_stats": """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value,
               MAX(CAST(ts AS TIMESTAMP)) AS max_ts
        FROM events GROUP BY user_id
    """,
    "stream_user_topk": """
        WITH ranked AS (
            SELECT user_id, value, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY value DESC, event_id) AS rnk
            FROM events)
        SELECT user_id, CAST(rnk AS BIGINT) AS rank,
               ROUND(value, 2) AS value, event_id
        FROM ranked WHERE rnk <= 3
    """,
})


_ORACLES.update({
    "join_full_outer": """
        WITH cust AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                             CAST(COUNT(*) AS BIGINT) AS n_customers
                      FROM customer GROUP BY 1),
             supp AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
                             CAST(COUNT(*) AS BIGINT) AS n_suppliers
                      FROM supplier GROUP BY 1)
        SELECT COALESCE(cust.nationkey, supp.nationkey) AS nationkey,
               COALESCE(n_customers, 0) AS n_customers,
               COALESCE(n_suppliers, 0) AS n_suppliers
        FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    """,
    "sql_exists_subquery": """
        SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_with_urgent
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
        GROUP BY c.c_mktsegment
    """,
    "sql_scalar_subquery": """
        SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
    """,
    "sessionize_events": """
        WITH e AS (
            SELECT event_id, user_id, ts,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events),
        f AS (
            SELECT event_id, user_id, ts,
                   CASE WHEN LAG(ts_us) OVER w IS NULL
                             OR ts_us - LAG(ts_us) OVER w >= 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        SELECT event_id, user_id, ts,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM f
    """,
    "profile_columns": """
        SELECT 'o_orderkey' AS column_name,
               CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
        UNION ALL SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_orderpriority', CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        UNION ALL SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
    """,
    "window_rank_family": """
        SELECT o_orderkey, o_orderstatus,
               CAST(RANK() OVER w AS BIGINT) AS rnk,
               CAST(DENSE_RANK() OVER w AS BIGINT) AS dense_rnk,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
               CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
               ROUND(CUME_DIST() OVER w, 6) AS cum_dist
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "cdc_snapshot_diff": """
        WITH old AS (
            SELECT o_orderkey AS key, o_totalprice AS old_price
            FROM orders
            WHERE substring(md5('old:' || CAST(o_orderkey AS VARCHAR)), 1, 1) <> '0'),
        new AS (
            SELECT o_orderkey AS key,
                   ROUND(CASE WHEN substring(md5('mod:' || CAST(o_orderkey AS VARCHAR)), 1, 1)
                                   IN ('0', '1')
                              THEN o_totalprice * 1.1 ELSE o_totalprice END, 2) AS new_price
            FROM orders
            WHERE substring(md5('new:' || CAST(o_orderkey AS VARCHAR)), 1, 1) <> '0')
        SELECT COALESCE(old.key, new.key) AS o_orderkey,
               CASE WHEN old.key IS NULL THEN 'added'
                    WHEN new.key IS NULL THEN 'deleted'
                    WHEN old_price <> new_price THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               old_price, new_price
        FROM old FULL OUTER JOIN new ON old.key = new.key
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS orderdate,
               o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
        LIMIT 10
    """,
    "grouped_zscore_pandas": """
        SELECT c_custkey, c_mktsegment,
               ROUND(c_acctbal, 2) AS acctbal,
               ROUND((c_acctbal - AVG(c_acctbal) OVER w)
                     / STDDEV_SAMP(c_acctbal) OVER w, 4) AS zscore
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment)
    """,
    "udtf_chunk_documents": """
        WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
                   WHERE length(text) > 0)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               substring(text, CAST(i * 100 + 1 AS BIGINT), 200) AS chunk,
               CAST(length(substring(text, CAST(i * 100 + 1 AS BIGINT), 200))
                    AS BIGINT) AS n_chars
        FROM d, UNNEST(range(0, CAST(ceil(n / 100.0) AS BIGINT))) t(i)
    """,
})

# Training-data export / corpus-hygiene operators.
_ORACLES.update({
    # Concat-and-chunk sequence packing: the oracle's single global window
    # IS the semantic spec; the engine computes the same exclusive prefix
    # sum with a two-level scan (per-shard windows + broadcast shard
    # offsets) so no single task ever sees the whole corpus.
    "pack_sequences_documents": r"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
            FROM documents),
        o AS (
            SELECT doc_id, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS token_offset
            FROM t)
        SELECT doc_id, n_tokens, token_offset,
               CAST(token_offset // 64 AS BIGINT) AS seq_start,
               CAST((token_offset + n_tokens - 1) // 64 AS BIGINT) AS seq_end,
               CAST((token_offset + n_tokens - 1) // 64 - token_offset // 64 + 1 AS BIGINT) AS n_seqs
        FROM o ORDER BY doc_id
    """,
    "text_gopher_filter": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS ws,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) AS nonspace,
                   CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha
            FROM documents),
        s AS (
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_tokens,
                   nonspace / len(ws) AS mean_word_len,
                   alpha / n_chars AS alpha_ratio,
                   CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS distinct_ratio,
                   CAST(len(list_filter(ws, w -> w IN
                       ('the','a','and','of','to','in','is','it','that','for'))) AS BIGINT) AS stop_hits
            FROM t),
        f AS (
            SELECT *,
                   (n_tokens BETWEEN 8 AND 2048) AS ok_tokens,
                   (mean_word_len BETWEEN 2.0 AND 12.0) AS ok_word_len,
                   (alpha_ratio >= 0.6) AS ok_alpha,
                   (distinct_ratio >= 0.3) AS ok_distinct,
                   (stop_hits >= 1) AS ok_stop
            FROM s)
        SELECT doc_id, n_tokens,
               round(mean_word_len + 1e-9, 4) AS mean_word_len,
               round(alpha_ratio + 1e-9, 4) AS alpha_ratio,
               round(distinct_ratio + 1e-9, 4) AS distinct_ratio,
               stop_hits,
               (ok_tokens AND ok_word_len AND ok_alpha AND ok_distinct AND ok_stop) AS keep,
               concat_ws(',',
                   CASE WHEN NOT ok_tokens THEN 'n_tokens' END,
                   CASE WHEN NOT ok_word_len THEN 'mean_word_len' END,
                   CASE WHEN NOT ok_alpha THEN 'alpha_ratio' END,
                   CASE WHEN NOT ok_distinct THEN 'distinct_ratio' END,
                   CASE WHEN NOT ok_stop THEN 'stop_hits' END) AS fail_reasons
        FROM f
    """,
    # Benchmark decontamination: eval set = doc_id % 97 == 0; a train doc is
    # contaminated when >= 2 of its distinct 3-gram shingles collide with
    # the eval shingle set.
    "dedup_decontaminate": r"""
        WITH docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
                      FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
            FROM docs, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0),
        tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
        hit AS (SELECT t.doc_id, COUNT(*) AS n_overlap
                FROM tr t JOIN ev USING (shingle) GROUP BY t.doc_id
                HAVING COUNT(*) >= 2)
        SELECT h.doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_overlap AS BIGINT) AS n_overlap,
               round(n_overlap * 1.0 / n_shingles + 1e-9, 4) AS containment
        FROM hit h JOIN tot USING (doc_id)
        ORDER BY doc_id
    """,
})


def _pr_iter(i: int, prev: str) -> str:
    """One unrolled PageRank iteration as CTE text (contributions and the
    new rank both quantized to 8 dp — the same cross-engine float-order
    armor as the Lloyd loop).  (1.0 - 0.85) is written as the SUBTRACTION
    so both engines produce the identical IEEE double 0.15000...02."""
    return f"""
        c{i} AS (SELECT u.dst AS node, ROUND(r.rank / d.outdeg, 8) AS c
                 FROM und u JOIN {prev} r ON u.src = r.node
                 JOIN deg d ON u.src = d.src),
        i{i} AS (SELECT node, ROUND(SUM(c), 8) AS inflow FROM c{i} GROUP BY 1),
        r{i} AS (SELECT d.doc_id AS node,
                        ROUND((1.0 - 0.85) / n.n
                              + 0.85 * COALESCE(i.inflow, 0.0), 8) AS rank
                 FROM documents d LEFT JOIN i{i} i ON d.doc_id = i.node, n)"""


def _pq_l2sq(a: str, b: str, off: str) -> str:
    """Squared L2 between 8-dim sub-vectors of DOUBLE[] columns ``a``/``b``
    at subspace offset ``off``, as an explicit LEFT-ASSOCIATED 8-term sum —
    the same float addition order as the Spark fold in similarity._l2sq."""
    terms = " + ".join(
        f"({a}[{off}*8+{i}] - {b}[{off}*8+{i}]) * ({a}[{off}*8+{i}] - {b}[{off}*8+{i}])"
        for i in range(1, 9)
    )
    return f"({terms})"


_ORACLES.update({
    "events_heavy_hitters": """
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
        HAVING COUNT(*) >= (SELECT COUNT(*) FROM events) / 256.0
    """,
    "sample_token_budget_mix": r"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
                       AS n_tokens
            FROM documents),
        t AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS tokens_before
            FROM d)
        SELECT doc_id, lang, n_tokens, tokens_before
        FROM t WHERE tokens_before < 2000
    """,
    "events_anomaly_mad": """
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY 1),
        dev AS (
            SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS abs_dev
            FROM events e JOIN med m USING (event_type)),
        mad AS (
            SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
            FROM dev GROUP BY 1)
        SELECT d.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(ANY_VALUE(d.med), 4) AS median_value,
               ROUND(ANY_VALUE(m.mad), 4) AS mad_value,
               CAST(SUM(CASE WHEN ABS(d.value - d.med) > 3 * 1.4826 * m.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    """,
    "text_zipf_slope": r"""
        WITH toks AS (
            SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token
            FROM documents),
        counts AS (
            SELECT token, COUNT(*) AS cnt FROM toks
            WHERE token <> '' GROUP BY 1),
        ranked AS (
            SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rnk
            FROM counts)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
               ROUND(regr_slope(ln(cnt), ln(rnk)), 6) AS zipf_slope,
               ROUND(regr_intercept(ln(cnt), ln(rnk)), 6) AS zipf_intercept
        FROM ranked
    """,
    "split_leakage_free": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        {_CLUSTER_CTE},
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        sp AS (
            SELECT doc_id, cluster_id,
                   CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
                             IN ('0','1','2','3','4','5','6','7','8','9','a','b','c')
                        THEN 'train' ELSE 'holdout' END AS split
            FROM labels)
        SELECT split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
        FROM sp GROUP BY split
    """,
    "similarity_pq_adc": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        tr AS (
            SELECT e, CAST(ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS INTEGER) AS code_id
            FROM v QUALIFY code_id < 16),
        ss AS (SELECT CAST(UNNEST(range(0, 8)) AS INTEGER) AS s),
        enc0 AS (
            SELECT v.vec_id, ss.s, tr.code_id,
                   ROUND({_pq_l2sq('v.e', 'tr.e', 'ss.s')}, 6) AS d
            FROM v, ss, tr),
        enc AS (
            SELECT vec_id, s, code_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, s ORDER BY d, code_id) AS rn
                FROM enc0)
            WHERE rn = 1),
        q AS (SELECT e FROM v WHERE vec_id = 0),
        qtab AS (
            SELECT ss.s, tr.code_id,
                   ROUND({_pq_l2sq('q.e', 'tr.e', 'ss.s')}, 6) AS qd
            FROM q, ss, tr),
        adc AS (
            SELECT e2.vec_id,
                   STRING_AGG(lower(hex(e2.code_id)), '' ORDER BY e2.s) AS pq_code,
                   ROUND(SUM(qt.qd), 6) AS adc_dist
            FROM enc e2 JOIN qtab qt ON e2.s = qt.s AND e2.code_id = qt.code_id
            WHERE e2.vec_id <> 0
            GROUP BY e2.vec_id)
        SELECT vec_id, pq_code, adc_dist FROM adc
        ORDER BY adc_dist, vec_id LIMIT 10
    """,
})

_ORACLES.update({
    "arrow_md5_digest": """
        SELECT doc_id, md5(text) AS md5_hex,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    """,
    "customers_rfm_segments": """
        WITH anchor AS (SELECT MAX(o_orderdate) AS a FROM orders),
        rfm AS (
            SELECT o_custkey AS c_custkey,
                   CAST(date_diff('day',
                        CAST(MAX(o_orderdate) AS DATE),
                        CAST(anchor.a AS DATE)) AS BIGINT) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   ROUND(SUM(o_totalprice), 2) AS monetary
            FROM orders, anchor
            GROUP BY o_custkey, anchor.a)
        SELECT c_custkey, recency_days, frequency, monetary,
               CAST(NTILE(5) OVER (ORDER BY recency_days ASC, c_custkey)
                    AS BIGINT) AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency DESC, c_custkey)
                    AS BIGINT) AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary DESC, c_custkey)
                    AS BIGINT) AS m_score
        FROM rfm
    """,
    "similarity_ivfpq_adc": f"""
        WITH {_VEC_CTE},
        c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 16),
        scored AS (
            SELECT v.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_COS.format(a='v.e', b='c.ce')} DESC,
                                c.centroid_id) AS rn
            FROM v, c),
        a AS (SELECT vec_id, centroid_id FROM scored WHERE rn = 1),
        r AS (SELECT v.vec_id, a.centroid_id,
                     list_transform(range(1, 65), i -> v.e[i] - c.ce[i]) AS re
              FROM v JOIN a ON v.vec_id = a.vec_id
              JOIN c ON a.centroid_id = c.centroid_id),
        tr AS (SELECT re AS e,
                      CAST(ROW_NUMBER() OVER (
                          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
                      AS INTEGER) AS code_id
               FROM r QUALIFY code_id < 16),
        ss AS (SELECT CAST(UNNEST(range(0, 8)) AS INTEGER) AS s),
        enc0 AS (
            SELECT r.vec_id, ss.s, tr.code_id,
                   ROUND({_pq_l2sq('r.re', 'tr.e', 'ss.s')}, 6) AS d
            FROM r, ss, tr),
        enc AS (
            SELECT vec_id, s, code_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id, s ORDER BY d, code_id) AS rn
                FROM enc0)
            WHERE rn = 1),
        q AS (SELECT re, centroid_id AS q_centroid FROM r WHERE vec_id = 0),
        qtab AS (
            SELECT ss.s, tr.code_id,
                   ROUND({_pq_l2sq('q.re', 'tr.e', 'ss.s')}, 6) AS qd
            FROM q, ss, tr),
        adc AS (
            SELECT e2.vec_id, rr.centroid_id,
                   STRING_AGG(lower(hex(e2.code_id)), '' ORDER BY e2.s)
                       AS pq_code,
                   ROUND(SUM(qt.qd), 6) AS adc_dist
            FROM enc e2
            JOIN r rr ON e2.vec_id = rr.vec_id
            JOIN q ON rr.centroid_id = q.q_centroid
            JOIN qtab qt ON e2.s = qt.s AND e2.code_id = qt.code_id
            WHERE e2.vec_id <> 0
            GROUP BY 1, 2)
        SELECT vec_id, CAST(centroid_id AS BIGINT) AS centroid_id,
               pq_code, adc_dist
        FROM adc ORDER BY adc_dist, vec_id LIMIT 10
    """,
    "text_lang_id_ngram": r"""
        WITH d AS (
            SELECT doc_id, lang,
                   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
            FROM documents),
        tri AS (
            SELECT doc_id, lang, substring(t, i, 3) AS tri
            FROM d, UNNEST(range(1, greatest(length(t) - 2, 1) + 1)) AS u(i)
            WHERE length(substring(t, i, 3)) = 3),
        held_in AS (SELECT * FROM tri WHERE doc_id % 7 <> 0),
        counts AS (SELECT lang, tri, COUNT(*) AS cnt
                   FROM held_in GROUP BY 1, 2),
        profiles AS (
            SELECT lang AS profile_lang, tri FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY lang ORDER BY cnt DESC, tri) AS rnk
                FROM counts)
            WHERE rnk <= 20),
        held_out AS (SELECT DISTINCT doc_id, lang, tri
                     FROM tri WHERE doc_id % 7 = 0),
        hits AS (
            SELECT h.doc_id, h.lang, p.profile_lang,
                   CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM held_out h JOIN profiles p ON h.tri = p.tri
            GROUP BY 1, 2, 3)
        SELECT doc_id, lang, profile_lang AS pred_lang,
               n_hits AS n_profile_hits
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY doc_id
                  ORDER BY n_hits DESC, profile_lang) AS rn
              FROM hits)
        WHERE rn = 1
    """,
    "embedding_random_projection": """
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        w AS (SELECT CAST(j AS BIGINT) AS out_dim,
                     list_transform(range(1, 65), i ->
                         CASE WHEN instr('0123456789abcdef',
                                   substring(md5('jl' || CAST(j AS VARCHAR)
                                             || ':' || CAST(i AS VARCHAR)),
                                             1, 1)) - 1 >= 8
                              THEN 0.25 ELSE -0.25 END) AS wv
              FROM UNNEST(range(0, 16)) t(j))
        SELECT v.vec_id, w.out_dim,
               ROUND(list_dot_product(v.e, w.wv), 6) AS value
        FROM v, w
    """,
    "sql_recursive_cte": """
        WITH RECURSIVE months(m) AS (
            SELECT CAST('1995-01-01' AS DATE)
            UNION ALL
            SELECT CAST(m + INTERVAL 1 MONTH AS DATE)
            FROM months WHERE m < CAST('1995-12-01' AS DATE)
        )
        SELECT m AS month_start,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders
        FROM months
        LEFT JOIN (
            SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS mo,
                   COUNT(*) AS n
            FROM orders
            WHERE YEAR(CAST(o_orderdate AS TIMESTAMP)) = 1995
            GROUP BY 1
        ) o ON o.mo = m
    """,
    "sql_udf_banding": """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 200000 THEN 'medium'
                    ELSE 'large' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders GROUP BY 1
    """,
    "events_resample_ffill": """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
                   FROM events WHERE user_id < 50),
        h AS (SELECT user_id, date_trunc('hour', ts) AS hour_ts, ts, event_id,
                     value
              FROM e),
        obs AS (SELECT user_id, hour_ts,
                       arg_max(value, (epoch_us(ts) - epoch_us(hour_ts))
                                      * 1000000 + event_id) AS obs_value
                FROM h GROUP BY 1, 2),
        span AS (SELECT user_id, MIN(hour_ts) AS t0, MAX(hour_ts) AS t1
                 FROM h GROUP BY 1),
        grid AS (SELECT user_id,
                        UNNEST(generate_series(t0, t1, INTERVAL 1 HOUR))
                            AS hour_ts
                 FROM span),
        j AS (SELECT g.user_id, g.hour_ts, o.obs_value
              FROM grid g LEFT JOIN obs o USING (user_id, hour_ts))
        SELECT user_id, hour_ts,
               ROUND(last_value(obs_value IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS value_ffill,
               obs_value IS NULL AS is_gap
        FROM j
    """,
    "dedup_pagerank_hubs": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        und AS (SELECT doc_a AS src, doc_b AS dst FROM cand
                UNION
                SELECT doc_b, doc_a FROM cand),
        deg AS (SELECT src, COUNT(*) AS outdeg FROM und GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        r0 AS (SELECT doc_id AS node, ROUND(1.0 / n.n, 8) AS rank
               FROM documents, n),
        {_pr_iter(1, 'r0')},
        {_pr_iter(2, 'r1')},
        {_pr_iter(3, 'r2')}
        SELECT node AS doc_id, rank AS pagerank FROM r3
    """,
    "dedup_incremental_minhash": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT c.doc_id AS corpus_doc, i.doc_id AS inc_doc
            FROM bands c JOIN bands i ON c.band_key = i.band_key
            WHERE c.doc_id % 10 <> 0 AND i.doc_id % 10 = 0),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM sh GROUP BY doc_id),
        inter AS (
            SELECT ca.corpus_doc, ca.inc_doc, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand ca
            JOIN sh a ON a.doc_id = ca.corpus_doc
            JOIN sh b ON b.doc_id = ca.inc_doc AND b.shingle = a.shingle
            GROUP BY 1, 2)
        SELECT inc_doc, corpus_doc,
               ROUND(n_inter / (sc.n_sh + si.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sc ON corpus_doc = sc.doc_id
        JOIN sizes si ON inc_doc = si.doc_id
        WHERE ROUND(n_inter / (sc.n_sh + si.n_sh - n_inter), 6) >= 0.30
    """,
    "dedup_canonical_by_quality": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        {_CLUSTER_CTE},
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        q AS (SELECT doc_id, quality_score
              FROM ({_ORACLES['text_quality_score']})),
        j AS (SELECT l.cluster_id, l.doc_id, q.quality_score
              FROM labels l JOIN q USING (doc_id)),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY cluster_id
                                        ORDER BY quality_score DESC, doc_id) AS rn,
                     COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
              FROM j)
        SELECT cluster_id, doc_id AS canonical_doc,
               quality_score AS best_quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM r WHERE rn = 1
    """,
    # v_schema/missing_path_null are constants BECAUSE the generator emits a
    # uniform {"k": int} object for every row (asserted by the count parity:
    # any shape drift would break the hash) — the oracle states the expected
    # extraction results, not DuckDB's opinion of Spark's variant encoding.
    "scalar_variant_funcs": """
        SELECT event_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
               'OBJECT<k: BIGINT>' AS v_schema,
               TRUE AS missing_path_null,
               '{"k":' || CAST(CAST(json_extract(props, '$.k') AS BIGINT)
                               AS VARCHAR) || '}' AS roundtrip_json
        FROM events
    """,
    # Gini: ties in o_totalprice make the rank assignment among equal values
    # arbitrary, but sum(i * x) is invariant when the tied x are equal, so
    # the statistic is deterministic.
    "pandas_grouped_agg_gini": """
        WITH r AS (
            SELECT o_orderstatus, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                      ORDER BY o_totalprice) AS i,
                   COUNT(*) OVER (PARTITION BY o_orderstatus) AS n,
                   SUM(o_totalprice) OVER (PARTITION BY o_orderstatus) AS total
            FROM orders)
        SELECT o_orderstatus,
               ROUND(2.0 * SUM(i * o_totalprice) / (ANY_VALUE(n) * ANY_VALUE(total))
                     - (ANY_VALUE(n) + 1.0) / ANY_VALUE(n), 6) AS gini_totalprice,
               CAST(ANY_VALUE(n) AS BIGINT) AS n_orders
        FROM r GROUP BY o_orderstatus
    """,
    "cogroup_activity_orders": """
        WITH e AS (SELECT user_id % 64 AS key,
                          CAST(COUNT(*) AS BIGINT) AS n_events,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
                   FROM events GROUP BY 1),
        o AS (SELECT o_custkey % 64 AS key,
                     CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
              FROM orders GROUP BY 1)
        SELECT COALESCE(e.key, o.key) AS key,
               COALESCE(e.n_events, 0) AS n_events,
               COALESCE(o.n_orders, 0) AS n_orders,
               COALESCE(e.n_users, 0) AS n_users,
               COALESCE(o.n_customers, 0) AS n_customers
        FROM e FULL OUTER JOIN o ON e.key = o.key
    """,
    "stream_static_enrich_join": """
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(e.value), 2) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1
    """,
    # +0.0 on both engines: ROUND can yield IEEE -0.0 for tiny negative
    # correlations, and -0.0 + 0.0 = +0.0 normalizes the sign bit so the
    # string/hash compare cannot split on it.
    "profile_numeric_corr": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(corr(l_quantity, l_extendedprice), 2) + 0.0 AS corr_qty_price,
               ROUND(corr(l_extendedprice, l_discount), 2) + 0.0 AS corr_price_disc,
               ROUND(corr(l_quantity, l_tax), 2) + 0.0 AS corr_qty_tax,
               ROUND(covar_samp(l_quantity, l_discount), 2) + 0.0 AS covar_qty_disc
        FROM lineitem
    """,
    "text_sentence_stats": r"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(list_filter(
                       list_transform(string_split_regex(text, '[.!?]+'),
                                      x -> trim(x)),
                       x -> x <> '')) AS BIGINT) AS n_sentences,
                   CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents)
        SELECT doc_id, n_sentences,
               CASE WHEN n_sentences > 0
                    THEN ROUND(CAST(n_tokens AS DOUBLE) / n_sentences, 4)
               END AS mean_sentence_tokens
        FROM s
    """,
    "events_retention_cohorts": """
        WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        f AS (SELECT user_id, MIN(ts) AS first_ts FROM e GROUP BY 1),
        a AS (SELECT e.user_id,
                     CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
                     CAST(date_trunc('week', e.ts) AS DATE) AS active_week
              FROM e JOIN f USING (user_id))
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT)
                   AS week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
        FROM a GROUP BY 1, 2
    """,
})


_ORACLES.update({
    "similarity_recall_at_k": f"""
        WITH {_VEC_CTE},
        planes3 AS (
            SELECT p,
                   list_transform(range(1, 65), j ->
                       CAST(instr('0123456789abcdef',
                                  substring(md5(CAST(p AS VARCHAR) || ':'
                                      || CAST(j AS VARCHAR)), 1, 1))
                            - 1 AS DOUBLE) - 7.5) AS w
            FROM UNNEST(range(0, 3)) AS t(p)),
        sigs AS (
            SELECT v.vec_id,
                   STRING_AGG(CASE WHEN list_dot_product(v.e, planes3.w) > 0
                                   THEN '1' ELSE '0' END, ''
                              ORDER BY planes3.p) AS bucket
            FROM v, planes3 GROUP BY v.vec_id),
        q AS (SELECT v.vec_id AS q_id, v.e AS qe, sigs.bucket AS qb
              FROM v JOIN sigs ON v.vec_id = sigs.vec_id
              WHERE v.vec_id < 20),
        scored AS (
            SELECT q.q_id, v.vec_id,
                   ROUND({_COS.format(a="v.e", b="q.qe")}, 6) AS cosine,
                   sigs.bucket = q.qb AS in_bucket
            FROM v JOIN sigs ON v.vec_id = sigs.vec_id, q
            WHERE v.vec_id <> q.q_id),
        cand AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
                 FROM scored WHERE in_bucket GROUP BY q_id),
        truth AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored) WHERE rnk <= 10),
        ann AS (SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id, ROW_NUMBER() OVER (
                PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
            FROM scored WHERE in_bucket) WHERE rnk <= 10)
        SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
               cand.n_candidates,
               CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
               ROUND(COUNT(a.vec_id) / 10.0, 6) AS recall_at_k
        FROM truth t
        LEFT JOIN ann a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
        JOIN cand ON t.q_id = cand.q_id
        GROUP BY t.q_id, cand.n_candidates
    """,
    "events_path_trigrams": """
        WITH t AS (
            SELECT LAG(event_type, 2) OVER w AS step_1,
                   LAG(event_type, 1) OVER w AS step_2,
                   event_type AS step_3
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id))
        SELECT step_1, step_2, step_3,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM t WHERE step_1 IS NOT NULL
        GROUP BY 1, 2, 3 HAVING COUNT(*) >= 10
    """,
    "supplier_otif_scorecard": """
        WITH s AS (
            SELECT l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_lineitems,
                   CAST(SUM(CASE WHEN date_diff('day',
                                CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) <= 60
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
                   ROUND(AVG(date_diff('day', CAST(o_orderdate AS DATE),
                                       CAST(l_shipdate AS DATE))), 4)
                       AS avg_ship_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1)
        SELECT l_suppkey AS suppkey, s_name, n_lineitems, n_on_time,
               ROUND(n_on_time / CAST(n_lineitems AS DOUBLE), 6)
                   AS otif_rate,
               avg_ship_days
        FROM s JOIN supplier ON l_suppkey = s_suppkey
    """,
    "events_regr_builtin": """
        WITH e AS (
            SELECT event_type,
                   CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x_raw,
                   value AS y
            FROM events),
        m AS (SELECT event_type, MIN(x_raw) AS x0 FROM e GROUP BY 1),
        c AS (SELECT e.event_type, e.x_raw - m.x0 AS x, e.y
              FROM e JOIN m USING (event_type))
        SELECT event_type,
               CAST(regr_count(y, x) AS BIGINT) AS n_points,
               -- zero-variance guards mirror the Spark side exactly
               ROUND(CASE WHEN var_pop(x) > 0
                          THEN regr_slope(y, x) * 86400 END, 4) AS slope_per_day,
               ROUND(CASE WHEN var_pop(x) > 0
                          THEN regr_intercept(y, x) END, 4) AS intercept,
               ROUND(CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0
                          THEN regr_r2(y, x) END, 4) AS r2
        FROM c GROUP BY event_type
    """,
    "orders_open_backlog": """
        WITH closes AS (
            SELECT l_orderkey, MAX(l_shipdate) AS last_ship
            FROM lineitem GROUP BY 1),
        spans AS (
            SELECT CAST(o_orderdate AS DATE) AS open_day,
                   CAST(last_ship AS DATE) + 1 AS close_day
            FROM orders JOIN closes ON o_orderkey = l_orderkey),
        deltas AS (
            SELECT open_day AS day, 1 AS delta FROM spans
            UNION ALL SELECT close_day, -1 FROM spans),
        per_day AS (
            SELECT day, CAST(SUM(delta) AS BIGINT) AS net_change
            FROM deltas GROUP BY 1)
        SELECT day, net_change,
               CAST(SUM(net_change) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS open_orders
        FROM per_day
    """,
    "compliance_erasure_simulation": """
        WITH t AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id % 97 = 0)
        SELECT 'erasure_subjects' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_erased,
               CAST(0 AS BIGINT) AS n_kept
        FROM t
        UNION ALL
        SELECT 'events',
               CAST(COUNT(*) FILTER (WHERE t.user_id IS NOT NULL) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE t.user_id IS NULL) AS BIGINT)
        FROM events e LEFT JOIN t ON e.user_id = t.user_id
    """,
    "profile_table_checksum": """
        WITH h AS (
            SELECT ('0x' || substr(md5(
                       CAST(event_id AS VARCHAR) || '|'
                       || CAST(user_id AS VARCHAR) || '|'
                       || event_type), 1, 8))::BIGINT AS h
            FROM events)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
               CAST(SUM(h) % 2305843009213693951 AS BIGINT) AS sum_checksum
        FROM h
    """,
    "events_recency_features": """
        WITH a AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS now_ts FROM events),
        d AS (
            SELECT user_id,
                   date_diff('day', CAST(CAST(ts AS TIMESTAMP) AS DATE),
                             CAST(now_ts AS DATE)) AS day_age
            FROM events CROSS JOIN a)
        SELECT user_id,
               CAST(MIN(day_age) AS BIGINT) AS days_since_last,
               CAST(SUM(CASE WHEN day_age < 7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_last_7d,
               CAST(SUM(CASE WHEN day_age >= 7 AND day_age < 37
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_30d,
               ROUND(SUM(CASE WHEN day_age < 7 THEN 1 ELSE 0 END)
                     / (7.0 * GREATEST(
                         SUM(CASE WHEN day_age >= 7 AND day_age < 37
                                  THEN 1 ELSE 0 END) / 30.0, 1e-9)), 6)
                   AS acceleration
        FROM d GROUP BY user_id
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q10_returned_items": """
        WITH rev AS (
            SELECT o_custkey,
                   CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_returned
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name AS nation, revenue, n_returned
        FROM rev
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "events_linear_trend": """
        WITH e AS (
            SELECT event_type,
                   CAST(epoch(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x_raw,
                   value AS y
            FROM events),
        m AS (SELECT event_type, MIN(x_raw) AS x0 FROM e GROUP BY 1),
        c AS (SELECT e.event_type, e.x_raw - m.x0 AS x, e.y
              FROM e JOIN m USING (event_type)),
        s AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM c GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n_events,
               -- degenerate-group guards mirror the Spark side: slope NULL
               -- when x has zero variance, r2 NULL when either side does
               ROUND(CASE WHEN sxx - sx * sx / n > 0
                          THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) * 86400
                     END, 4) AS slope_per_day,
               ROUND(CASE WHEN sxx - sx * sx / n > 0
                          THEN (sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
                     END, 4) AS intercept,
               ROUND(CASE WHEN sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
                          THEN (sxy - sx * sy / n) * (sxy - sx * sy / n)
                               / ((sxx - sx * sx / n) * (syy - sy * sy / n))
                     END, 4) AS r2
        FROM s
    """,
    "events_chi_square": """
        WITH cells AS (
            SELECT event_type,
                   CASE WHEN value < 5 THEN 'lt5'
                        WHEN value < 50 THEN '5to50'
                        WHEN value < 200 THEN '50to200'
                        ELSE 'ge200' END AS value_band,
                   CAST(COUNT(*) AS BIGINT) AS observed
            FROM events GROUP BY 1, 2),
        t AS (SELECT SUM(observed) AS n_total FROM cells),
        bt AS (SELECT event_type, SUM(observed) AS n_type
               FROM cells GROUP BY 1),
        bb AS (SELECT value_band, SUM(observed) AS n_band
               FROM cells GROUP BY 1)
        SELECT cells.event_type, cells.value_band, cells.observed,
               ROUND(bt.n_type * bb.n_band / CAST(n_total AS DOUBLE), 4)
                   AS expected,
               ROUND(POWER(cells.observed
                           - bt.n_type * bb.n_band / CAST(n_total AS DOUBLE),
                           2)
                     / (bt.n_type * bb.n_band / CAST(n_total AS DOUBLE)), 6)
                   AS chi2_term
        FROM cells
        JOIN bt ON cells.event_type = bt.event_type
        JOIN bb ON cells.value_band = bb.value_band
        CROSS JOIN t
    """,
    "agg_histogram_2d": """
        SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hour_of_day,
               CAST(FLOOR(value / 25.0) AS BIGINT) AS value_bin,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(MIN(value), 2) AS bin_min,
               ROUND(MAX(value), 2) AS bin_max
        FROM events GROUP BY 1, 2
    """,
    "agg_hll_mergeable": """
        -- properties, not estimates: mergeability and the error bound
        -- are the cross-engine facts; the estimate itself is
        -- implementation-defined (see the operator docstring)
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               TRUE AS merge_consistent,
               TRUE AS within_rel_bound
        FROM events
    """,
    "events_seasonality": """
        WITH cells AS (
            SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS BIGINT)
                       AS iso_weekday,
                   CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT)
                       AS hour_of_day,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2),
        t AS (SELECT SUM(n_events) AS n_total, COUNT(*) AS n_cells
              FROM cells)
        SELECT iso_weekday, hour_of_day, n_events,
               ROUND(n_events / (n_total / CAST(n_cells AS DOUBLE)), 6)
                   AS ratio_vs_uniform
        FROM cells CROSS JOIN t
    """,
    "orders_cohort_revenue": """
        WITH f AS (
            SELECT o_custkey,
                   date_trunc('month', MIN(o_orderdate)) AS cohort_month
            FROM orders GROUP BY 1),
        e AS (
            SELECT CAST(f.cohort_month AS DATE) AS cohort_month,
                   CAST((year(o_orderdate) - year(f.cohort_month)) * 12
                        + (month(o_orderdate) - month(f.cohort_month))
                       AS BIGINT) AS month_offset,
                   o_totalprice
            FROM orders JOIN f USING (o_custkey)),
        c AS (
            SELECT cohort_month, month_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS revenue
            FROM e GROUP BY 1, 2)
        SELECT cohort_month, month_offset, n_orders, revenue,
               ROUND(SUM(revenue) OVER (
                   PARTITION BY cohort_month ORDER BY month_offset
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS cum_revenue
        FROM c
    """,
    "profile_k_anonymity": """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS class_size,
               COUNT(*) < 5 AS violates_k
        FROM customer GROUP BY 1, 2
    """,
    "sample_shard_routing": """
        WITH r AS (
            SELECT doc_id,
                   arg_max(s, md5(CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(s AS VARCHAR))) AS shard
            FROM documents, UNNEST(range(0, 8)) AS t(s)
            GROUP BY doc_id)
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM r GROUP BY 1
    """,
    "profile_dp_noisy_counts": """
        WITH c AS (
            SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS true_count
            FROM customer GROUP BY 1),
        n AS (
            SELECT c_mktsegment, true_count,
                   (('0x' || substr(md5('dp:' || c_mktsegment), 1, 8))::BIGINT
                    + 1.0) / 4294967298.0 AS u
            FROM c)
        SELECT c_mktsegment, true_count,
               ROUND((CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
                     * -ln(1.0 - 2.0 * ABS(u - 0.5)) / 1.0, 6)
                   AS laplace_noise,
               ROUND(true_count
                     + (CASE WHEN u - 0.5 >= 0 THEN 1.0 ELSE -1.0 END)
                       * -ln(1.0 - 2.0 * ABS(u - 0.5)) / 1.0, 6)
                   AS released_count
        FROM n
    """,
    "dedup_source_overlap_matrix": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs
        FROM cand
        JOIN documents da ON cand.doc_a = da.doc_id
        JOIN documents db ON cand.doc_b = db.doc_id
        GROUP BY 1, 2
    """,
    "events_winsorized_stats": """
        WITH b AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY 1),
        c AS (
            SELECT e.event_type, e.value, b.lo, b.hi,
                   LEAST(GREATEST(e.value, b.lo), b.hi) AS wvalue
            FROM events e JOIN b USING (event_type))
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped_low,
               CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped_high,
               ROUND(AVG(value), 4) AS raw_mean,
               ROUND(AVG(wvalue), 4) AS winsorized_mean
        FROM c GROUP BY event_type
    """,
    "set_ops_all": """
        WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey
                   FROM customer),
        s AS (SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        SELECT 'intersect_all' AS op, nationkey,
               CAST(COUNT(*) AS BIGINT) AS multiplicity
        FROM (SELECT nationkey FROM c INTERSECT ALL SELECT nationkey FROM s)
        GROUP BY nationkey
        UNION ALL
        SELECT 'except_all', nationkey, CAST(COUNT(*) AS BIGINT)
        FROM (SELECT nationkey FROM c EXCEPT ALL SELECT nationkey FROM s)
        GROUP BY nationkey
    """,
    "scalar_try_funcs": """
        SELECT o_orderkey,
               ROUND(o_totalprice
                     / nullif(CAST(o_orderkey % 3 AS DOUBLE), 0), 4)
                   AS div_or_null,
               TRY_CAST('x' || o_orderstatus AS DOUBLE) AS bad_cast_null,
               TRY_CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) AS good_cast,
               CAST(CASE WHEN o_orderkey % 4 + 1 <= 2
                         THEN ([10, 20])[CAST(o_orderkey % 4 AS INT) + 1]
                         END AS BIGINT) AS elem_or_null
        FROM orders
    """,
    "agg_bitwise": """
        WITH b AS (
            SELECT event_type,
                   CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT) AS user_bit
            FROM events)
        SELECT event_type,
               CAST(bit_or(user_bit) AS BIGINT) AS cohort_mask,
               CAST(bit_and(user_bit) AS BIGINT) AS common_bits,
               CAST(bit_xor(user_bit) AS BIGINT) AS parity_bits
        FROM b GROUP BY event_type
    """,
    "events_mean_shift_detect": """
        WITH m AS (
            SELECT user_id, event_id,
                   AVG(value) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
                       AS mean_before,
                   COUNT(*) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_before,
                   AVG(value) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                       AS mean_after,
                   COUNT(*) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id
                       ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS n_after
            FROM events)
        SELECT user_id, event_id,
               ROUND(mean_before, 4) AS mean_before,
               ROUND(mean_after, 4) AS mean_after,
               ROUND(mean_after - mean_before, 4) AS shift
        FROM m
        WHERE n_before = 5 AND n_after = 5
          AND ABS(mean_after - mean_before) > 80
    """,
    "sample_mix_diversity": r"""
        WITH s AS (
            SELECT source,
                   SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                       AS DOUBLE)) AS source_tokens
            FROM documents GROUP BY 1),
        t AS (
            SELECT SUM(source_tokens) AS total_tokens,
                   log2(SUM(source_tokens))
                   - SUM(source_tokens * log2(source_tokens))
                     / SUM(source_tokens) AS entropy_bits
            FROM s)
        SELECT source, CAST(source_tokens AS BIGINT) AS source_tokens,
               ROUND(source_tokens / total_tokens, 6) AS token_share,
               ROUND(entropy_bits, 6) AS mix_entropy_bits,
               ROUND(POWER(2.0, entropy_bits), 4) AS effective_sources
        FROM s CROSS JOIN t
    """,
    "parts_pareto_frontier": """
        WITH p AS (
            SELECT p_partkey, p_name, p_retailprice,
                   CAST(p_size AS BIGINT) AS p_size,
                   CAST(ROUND(p_retailprice * 10) AS BIGINT) AS tick
            FROM part),
        m AS (
            SELECT *, MAX(p_size) OVER (
                ORDER BY tick
                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS best_size_cheaper
            FROM p)
        SELECT p_partkey, p_name, p_retailprice, p_size
        FROM m
        WHERE best_size_cheaper IS NULL OR p_size > best_size_cheaper
    """,
    "sql_lateral_topn": """
        SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
    "join_null_safe": """
        WITH c AS (SELECT nullif(c_nationkey % 5, 0) AS c_key FROM customer),
        s AS (SELECT nullif(s_nationkey % 5, 0) AS s_key FROM supplier)
        SELECT COALESCE(CAST(c_key AS VARCHAR), 'NULL') AS join_key,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM c JOIN s ON c.c_key IS NOT DISTINCT FROM s.s_key
        GROUP BY c_key
    """,
    "scan_file_metadata": """
        -- the driver's oracle runs on pre-registered views (no filename
        -- pseudo-column), but the testdata layout is one file per table
        -- with a fixed name: the literal pins Spark's _metadata.file_name
        -- resolution AND the per-file row rollup
        SELECT 'documents.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM documents
    """,
    "agg_approx_quantile_error": """
        -- exact percentiles + the published rank bound asserted TRUE: a
        -- Spark-side sketch regression flips the hash mismatch
        WITH e AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   quantile_cont(l_extendedprice, 0.25) AS q25,
                   quantile_cont(l_extendedprice, 0.5) AS q50,
                   quantile_cont(l_extendedprice, 0.75) AS q75,
                   quantile_cont(l_extendedprice, 0.9) AS q90
            FROM lineitem)
        SELECT CAST(0.25 AS DOUBLE) AS quantile, n_rows,
               ROUND(q25, 4) AS exact_value, TRUE AS within_rank_bound
        FROM e
        UNION ALL SELECT CAST(0.5 AS DOUBLE), n_rows, ROUND(q50, 4), TRUE
        FROM e
        UNION ALL SELECT CAST(0.75 AS DOUBLE), n_rows, ROUND(q75, 4), TRUE
        FROM e
        UNION ALL SELECT CAST(0.9 AS DOUBLE), n_rows, ROUND(q90, 4), TRUE
        FROM e
    """,
    "events_cumulative_distinct_users": """
        WITH f AS (
            SELECT user_id, CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE)
                       AS first_day
            FROM events GROUP BY 1),
        d AS (SELECT first_day, CAST(COUNT(*) AS BIGINT) AS n_new_users
              FROM f GROUP BY 1)
        SELECT first_day AS day, n_new_users,
               CAST(SUM(n_new_users) OVER (
                   ORDER BY first_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_users
        FROM d
    """,
    "sample_priority_estimate": r"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                       AS DOUBLE) AS w,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       AS u_int
            FROM documents),
        pr AS (
            SELECT doc_id, w,
                   w / ((u_int + 1.0) / 4294967296.0) AS priority
            FROM d),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY priority DESC, doc_id) AS rn
            FROM pr),
        tau AS (SELECT priority AS tau FROM ranked WHERE rn = 101),
        est AS (
            SELECT SUM(GREATEST(w, tau.tau)) AS estimate_raw
            FROM ranked CROSS JOIN tau WHERE rn <= 100),
        exact AS (
            SELECT CAST(SUM(w) AS BIGINT) AS exact_total_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM d)
        SELECT exact.n_docs, CAST(100 AS BIGINT) AS k,
               exact.exact_total_tokens,
               ROUND(est.estimate_raw, 2) AS estimate_tokens,
               ROUND(ABS(est.estimate_raw - exact.exact_total_tokens)
                     / exact.exact_total_tokens, 6) AS rel_error
        FROM est CROSS JOIN exact
    """,
    "profile_benford_deviation": """
        WITH o AS (SELECT o_totalprice FROM orders WHERE o_totalprice > 0),
        d AS (
            SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100)
                       AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM o),
        c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
              FROM d GROUP BY 1),
        n AS (SELECT SUM(n_obs) AS n_total FROM c)
        SELECT digit, n_obs,
               ROUND(n_obs / CAST(n_total AS DOUBLE), 6) AS observed_p,
               ROUND(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS benford_p,
               ROUND(ABS(n_obs / CAST(n_total AS DOUBLE)
                         - log10(1 + 1 / CAST(digit AS DOUBLE))), 6)
                   AS abs_deviation
        FROM c CROSS JOIN n
    """,
    "events_user_entropy": """
        WITH t AS (
            SELECT user_id, event_type, COUNT(*) AS n_t
            FROM events GROUP BY 1, 2),
        u AS (
            SELECT user_id, CAST(SUM(n_t) AS BIGINT) AS n_events,
                   SUM(n_t * log2(n_t)) AS sum_nlogn
            FROM t GROUP BY 1)
        SELECT user_id, n_events,
               ROUND(log2(n_events) - sum_nlogn / n_events, 6)
                   AS entropy_bits
        FROM u
    """,
    "events_mutual_information": """
        WITH cells AS (
            SELECT event_type,
                   CASE WHEN value < 5 THEN 'lt5'
                        WHEN value < 50 THEN '5to50'
                        WHEN value < 200 THEN '50to200'
                        ELSE 'ge200' END AS value_band,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2),
        n_tot AS (SELECT SUM(n) AS n_total FROM cells),
        bt AS (SELECT event_type, SUM(n) AS n_type FROM cells GROUP BY 1),
        bb AS (SELECT value_band, SUM(n) AS n_band FROM cells GROUP BY 1)
        SELECT cells.event_type, cells.value_band, cells.n,
               ROUND(cells.n / CAST(n_total AS DOUBLE), 6) AS p_joint,
               ROUND((cells.n / CAST(n_total AS DOUBLE))
                     * log2((cells.n / CAST(n_total AS DOUBLE))
                            / ((bt.n_type / CAST(n_total AS DOUBLE))
                               * (bb.n_band / CAST(n_total AS DOUBLE)))), 6)
                   AS mi_contribution
        FROM cells
        JOIN bt ON cells.event_type = bt.event_type
        JOIN bb ON cells.value_band = bb.value_band
        CROSS JOIN n_tot
    """,
    "text_collocations_pmi": r"""
        WITH docs AS (
            SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        toks AS (SELECT w FROM docs, UNNEST(ws) AS t(w)),
        uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY 1),
        n_tok AS (SELECT COUNT(*) AS n_tokens FROM toks),
        big AS (
            SELECT ws[i] AS word_a, ws[i + 1] AS word_b
            FROM docs, UNNEST(range(1, len(ws))) AS t(i)),
        n_big AS (SELECT COUNT(*) AS n_pairs_total FROM big),
        pairs AS (
            SELECT word_a, word_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM big GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT word_a, word_b, n_pairs,
               ROUND(log2(
                   (n_pairs / CAST(n_pairs_total AS DOUBLE))
                   / ((ua.n_w / CAST(n_tokens AS DOUBLE))
                      * (ub.n_w / CAST(n_tokens AS DOUBLE)))), 6) AS pmi
        FROM pairs
        JOIN uni ua ON ua.w = pairs.word_a
        JOIN uni ub ON ub.w = pairs.word_b
        CROSS JOIN n_tok CROSS JOIN n_big
    """,
    "text_feature_hashing": r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        toks AS (SELECT doc_id, w FROM docs, UNNEST(ws) AS t(w))
        SELECT doc_id,
               ('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    """,
    "events_activity_islands": """
        WITH e AS (
            SELECT user_id, event_type, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   - ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY CAST(ts AS TIMESTAMP), event_id)
                       AS island_key
            FROM events)
        SELECT user_id, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(event_id) AS first_event_id,
               MAX(event_id) AS last_event_id
        FROM e GROUP BY user_id, event_type, island_key
    """,
    "customers_target_encoding": """
        WITH so AS (
            SELECT c_mktsegment, o_orderkey % 5 AS fold, o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey),
        per_fold AS (
            SELECT c_mktsegment, fold,
                   CAST(COUNT(*) AS BIGINT) AS fold_n,
                   SUM(o_totalprice) AS fold_sum
            FROM so GROUP BY 1, 2),
        totals AS (
            SELECT c_mktsegment, SUM(fold_n) AS seg_n,
                   SUM(fold_sum) AS seg_sum
            FROM per_fold GROUP BY 1)
        SELECT per_fold.c_mktsegment, CAST(fold AS BIGINT) AS fold,
               fold_n AS n_in_fold,
               ROUND((seg_sum - fold_sum) / (seg_n - fold_n), 6)
                   AS oof_mean_totalprice
        FROM per_fold JOIN totals USING (c_mktsegment)
    """,
    "dedup_jaccard_prefix": r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
            FROM docs, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        -- brute force, NO pruning: a hash-match certifies the prefix
        -- filter's completeness guarantee
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                             AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
    """,
    # prefix_df_sum is tie-break invariant: ANY (df asc, *) total order
    # picks the same df multiset for the first prefix_len tokens, so the
    # oracle's row_number tie-break need not match the engine's hash
    # tie-break (dedup_prefix_index_build docstring)
    "dedup_prefix_index_build": r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
            FROM docs, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        dfs AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
                FROM sh GROUP BY 1),
        tok AS (SELECT doc_id, df,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY df ASC) AS rk,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
                FROM sh JOIN dfs USING (shingle))
        SELECT doc_id,
               CAST(n_sh AS BIGINT) AS n_sh,
               CAST(n_sh - CEIL(0.5 * n_sh) + 1 AS BIGINT) AS prefix_len,
               CAST(SUM(CASE WHEN rk <= n_sh - CEIL(0.5 * n_sh) + 1
                             THEN df ELSE 0 END) AS BIGINT) AS prefix_df_sum
        FROM tok GROUP BY doc_id, n_sh
    """,
    "dedup_exact_substring": r"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents),
        g AS (
            SELECT doc_id, md5(array_to_string(ws[i:i+7], ' ')) AS gram_hash
            FROM docs, UNNEST(range(1, len(ws) - 6)) AS t(i))
        SELECT gram_hash,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               MIN(doc_id) AS example_doc
        FROM g GROUP BY gram_hash
        HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    "er_sorted_neighborhood": """
        WITH p AS (
            SELECT p_partkey, p_name,
                   regexp_extract(p_name, ' ([a-z]+)$', 1) AS block_noun
            FROM part),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY block_noun
                ORDER BY p_name, p_partkey) AS rnk
            FROM p)
        SELECT a.block_noun,
               a.p_partkey AS p1, b.p_partkey AS p2,
               a.p_name AS name1, b.p_name AS name2,
               CAST(b.rnk - a.rnk AS BIGINT) AS rank_gap,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
                   AS edit_distance
        FROM r a
        JOIN r b ON a.block_noun = b.block_noun
               AND b.rnk - a.rnk BETWEEN 1 AND 3
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    "er_blocked_match": """
        WITH p AS (
            SELECT p_partkey, p_name, p_brand,
                   regexp_extract(p_name, ' ([a-z]+)$', 1) AS block_noun
            FROM part)
        SELECT a.block_noun, a.p_brand AS brand,
               a.p_partkey AS p1, b.p_partkey AS p2,
               a.p_name AS name1, b.p_name AS name2,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT)
                   AS edit_distance
        FROM p a
        JOIN p b ON a.block_noun = b.block_noun
               AND a.p_brand = b.p_brand
               AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
    "basket_part_pairs": """
        WITH items AS (
            SELECT DISTINCT l_orderkey AS order_id, l_partkey AS part_id
            FROM lineitem),
        n AS (SELECT COUNT(DISTINCT order_id) AS n_orders FROM items),
        freq AS (SELECT part_id, COUNT(*) AS item_orders
                 FROM items GROUP BY 1),
        pairs AS (
            SELECT a.part_id AS part_a, b.part_id AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS pair_orders
            FROM items a
            JOIN items b ON a.order_id = b.order_id
                       AND a.part_id < b.part_id
            GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        SELECT part_a, part_b, pair_orders,
               ROUND(pair_orders / CAST(n.n_orders AS DOUBLE), 6) AS support,
               ROUND((pair_orders * n.n_orders)
                     / CAST(fa.item_orders * fb.item_orders AS DOUBLE), 6)
                   AS lift
        FROM pairs
        CROSS JOIN n
        JOIN freq fa ON fa.part_id = pairs.part_a
        JOIN freq fb ON fb.part_id = pairs.part_b
    """,
    "events_ema_decay": """
        WITH r AS (
            SELECT user_id, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_events
            FROM events)
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               ROUND(SUM(value * CASE
                   WHEN rn = 1 THEN POWER(0.7, n_events - 1)
                   ELSE 0.3 * POWER(0.7, n_events - rn) END), 6) AS ema_value
        FROM r GROUP BY user_id, n_events
    """,
    "events_attribution_last_touch": """
        WITH t AS (
            SELECT user_id, event_type, value,
                   COALESCE(
                       LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                       THEN event_type END IGNORE NULLS)
                           OVER (PARTITION BY user_id
                                 ORDER BY CAST(ts AS TIMESTAMP), event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING),
                       'direct') AS channel
            FROM events)
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS purchases,
               ROUND(SUM(value), 2) AS revenue
        FROM t WHERE event_type = 'purchase' GROUP BY channel
    """,
    "profile_expectations": """
        SELECT 'orders_pk_unique' AS expectation, 'orders' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
                   AS n_failed,
               COUNT(*) = COUNT(DISTINCT o_orderkey) AS passed
        FROM orders
        UNION ALL
        SELECT 'lineitem_fk_orders', 'lineitem',
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
               COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) = 0
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'orders_fk_customer', 'orders',
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
               CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
               COUNT(*) FILTER (WHERE c.c_custkey IS NULL) = 0
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem_quantity_1_to_50', 'lineitem',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'events_ts_not_null', 'events',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) = 0
        FROM events
        UNION ALL
        SELECT 'events_value_positive', 'events',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END)
                   AS BIGINT),
               SUM(CASE WHEN NOT (value > 0) THEN 1 ELSE 0 END) = 0
        FROM events
        UNION ALL
        SELECT 'documents_nchars_matches_text', 'documents',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                   AS BIGINT),
               SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) = 0
        FROM documents
    """,
})

_ORACLES.update({
    # identical CMS construction: md5-derived row hashes -> width-64 cells,
    # estimate = min over 4 rows (depth=4, width=64 are the operator
    # defaults; see the parameter-coupling note above _ORACLES)
    "agg_count_min_sketch": """
        WITH exact AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
            FROM events GROUP BY 1),
        b AS (
            SELECT user_id, n_exact,
                   ('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b0,
                   ('0x' || substring(md5('1:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b1,
                   ('0x' || substring(md5('2:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b2,
                   ('0x' || substring(md5('3:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b3
            FROM exact),
        c0 AS (SELECT b0, CAST(SUM(n_exact) AS BIGINT) AS cell0 FROM b GROUP BY 1),
        c1 AS (SELECT b1, CAST(SUM(n_exact) AS BIGINT) AS cell1 FROM b GROUP BY 1),
        c2 AS (SELECT b2, CAST(SUM(n_exact) AS BIGINT) AS cell2 FROM b GROUP BY 1),
        c3 AS (SELECT b3, CAST(SUM(n_exact) AS BIGINT) AS cell3 FROM b GROUP BY 1)
        SELECT user_id, n_exact,
               LEAST(cell0, cell1, cell2, cell3) AS n_cms,
               LEAST(cell0, cell1, cell2, cell3) - n_exact AS overestimate
        FROM b
        JOIN c0 USING (b0) JOIN c1 USING (b1)
        JOIN c2 USING (b2) JOIN c3 USING (b3)
    """,
    # LSH candidates + signature-agreement estimate vs exact Jaccard
    "dedup_minhash_error": f"""
        WITH {_SHINGLES_CTE},
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   ROUND(((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                        + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                        + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT) / 6.0,
                         6) AS est_jaccard
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.doc_a
            JOIN sig sb ON sb.doc_id = c.doc_b),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM sh GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM cand c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
        -- drive from cand (LEFT JOIN inter, zero-shared-shingle pairs kept
        -- with jaccard 0), mirroring the Spark side: today equal min-md5
        -- band values imply a shared shingle, but an md5 collision or a
        -- banding change must not silently break parity
        SELECT c.doc_a, c.doc_b, e.est_jaccard,
               ROUND(COALESCE(n_inter, 0)
                     / (sa.n_sh + sb.n_sh - COALESCE(n_inter, 0)), 6) AS jaccard,
               ROUND(ABS(e.est_jaccard
                         - COALESCE(n_inter, 0)
                           / (sa.n_sh + sb.n_sh - COALESCE(n_inter, 0))), 6) AS abs_err
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        JOIN est e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
    """,
    # non-overlapping 10-word chunks; per-doc duplicated-chunk fraction
    "text_chunk_dedup_fraction": r"""
        WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
                   FROM documents),
        c AS (
            SELECT DISTINCT doc_id,
                   array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ') AS chunk
            FROM d, UNNEST(range(0, CAST(floor(len(ws) / 10.0) AS BIGINT))) AS t(i)),
        dup AS (SELECT chunk FROM c GROUP BY chunk
                HAVING COUNT(DISTINCT doc_id) >= 2),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
                FROM c GROUP BY 1),
        dd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_chunks
               FROM c WHERE chunk IN (SELECT chunk FROM dup) GROUP BY 1)
        SELECT doc_id,
               COALESCE(n_chunks, 0) AS n_chunks,
               COALESCE(n_dup_chunks, 0) AS n_dup_chunks,
               ROUND(CASE WHEN COALESCE(n_chunks, 0) > 0
                          THEN COALESCE(n_dup_chunks, 0) / CAST(n_chunks AS DOUBLE)
                          ELSE 0.0 END, 6) AS dup_fraction
        FROM documents
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN dd USING (doc_id)
    """,
    # ER matches at the operator's tighter merge threshold (distance 2,
    # not er_blocked_match's candidate threshold 4) -> recursive
    # min-label CC -> survivorship aggregates per multi-member entity
    "er_golden_record": """
        WITH RECURSIVE p AS (
            SELECT p_partkey, p_name, p_brand,
                   regexp_extract(p_name, ' ([a-z]+)$', 1) AS block_noun
            FROM part),
        matches AS (
            SELECT a.p_partkey AS p1, b.p_partkey AS p2
            FROM p a
            JOIN p b ON a.block_noun = b.block_noun
                   AND a.p_brand = b.p_brand
                   AND a.p_partkey < b.p_partkey
            WHERE levenshtein(a.p_name, b.p_name) <= 2),
        edges AS (
            SELECT p1 AS src, p2 AS dst FROM matches
            UNION ALL SELECT p2, p1 FROM matches),
        nodes AS (SELECT DISTINCT src AS pk FROM edges),
        reach(node, label) AS (
            SELECT pk, pk FROM nodes
            UNION
            SELECT e.dst, r.label
            FROM reach r JOIN edges e ON r.node = e.src
            WHERE r.label < e.dst),
        comp AS (SELECT node AS p_partkey, MIN(label) AS entity_id
                 FROM reach GROUP BY node)
        SELECT entity_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MIN(p_name) AS canonical_name,
               ROUND(MAX(CAST(p_retailprice AS DOUBLE)), 2) AS merged_price,
               CAST(MIN(p_size) AS BIGINT) AS min_size,
               CAST(MAX(p_size) AS BIGINT) AS max_size
        FROM part JOIN comp USING (p_partkey)
        GROUP BY entity_id
        HAVING COUNT(*) >= 2
    """,
    # SCD2 build: identical two-window construction
    "cdc_scd2_build": """
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
            FROM events),
        s AS (
            SELECT *, COALESCE(
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                           <> event_type, TRUE) AS is_start
            FROM e),
        st AS (SELECT user_id, event_type, ts, event_id FROM s WHERE is_start)
        SELECT user_id, event_type, ts AS valid_from,
               lead(ts) OVER w2 AS valid_to,
               lead(ts) OVER w2 IS NULL AS is_current
        FROM st WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    # Wilson 95% interval: identical closed-form arithmetic
    "events_adoption_wilson": """
        WITH t AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events),
        k AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS k
              FROM events GROUP BY 1)
        SELECT event_type,
               CAST(k AS BIGINT) AS n_users,
               ROUND(k / n, 6) AS adoption_rate,
               ROUND((k / n + 1.96 * 1.96 / (2.0 * n)
                      - 1.96 * sqrt((k / n) * (1.0 - k / n) / n
                                    + 1.96 * 1.96 / (4.0 * n * n)))
                     / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lower,
               ROUND((k / n + 1.96 * 1.96 / (2.0 * n)
                      + 1.96 * sqrt((k / n) * (1.0 - k / n) / n
                                    + 1.96 * 1.96 / (4.0 * n * n)))
                     / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_upper
        FROM k CROSS JOIN t
    """,
    # interpolated Kneser-Ney bigram model, identical factor ordering
    "text_bigram_kn_perplexity": r"""
        WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
                   FROM documents),
        big AS (
            SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
            FROM d, UNNEST(range(1, len(ws))) AS t(i)),
        -- mirrors the Spark plan: one explode -> per-doc bigram counts,
        -- every model factor derived from d12 (integer-exact sums), and
        -- the occurrence-WEIGHTED mean log-prob
        d12 AS (SELECT doc_id, w1, w2, COUNT(*) AS cnt
                FROM big GROUP BY 1, 2, 3),
        c12 AS (SELECT w1, w2, SUM(cnt) AS c12 FROM d12 GROUP BY 1, 2),
        c1 AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p_fwd
               FROM c12 GROUP BY 1),
        cont AS (SELECT w2, COUNT(*) AS n1p_rev FROM c12 GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n1p_all FROM c12)
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               ROUND(exp(-(SUM(cnt * ln(
                   GREATEST(c12 - 0.75, 0.0) / c1
                   + 0.75 * n1p_fwd / c1 * (n1p_rev / CAST(n1p_all AS DOUBLE))
               )) / SUM(cnt))) + 1e-9, 4) AS kn_perplexity
        FROM d12
        JOIN c12 USING (w1, w2)
        JOIN c1 USING (w1)
        JOIN cont USING (w2)
        CROSS JOIN tot
        GROUP BY doc_id
    """,
    # empirical vs theoretical LSH S-curve on the doc_id < 200 sample
    "dedup_lsh_scurve": r"""
        WITH docs0 AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
            FROM documents WHERE doc_id < 200),
        sh AS (
            SELECT DISTINCT doc_id,
                   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS shingle
            FROM docs0, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM sh GROUP BY 1),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS n_a, b.n_sh AS n_b
            FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id),
        inter AS (
            SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_inter
            FROM sh sa JOIN sh sb
              ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
            GROUP BY 1, 2),
        j AS (
            SELECT p.doc_a, p.doc_b,
                   COALESCE(n_inter, 0)
                       / (n_a + n_b - COALESCE(n_inter, 0)) AS jac
            FROM pairs p LEFT JOIN inter USING (doc_a, doc_b)),
        sig AS (
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
                   min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
                   min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
            FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
            UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
            UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        flagged AS (
            SELECT LEAST(CAST(FLOOR(jac * 10) AS INT), 9) AS jac_decile,
                   CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
                   1.0 - (1.0 - jac * jac) * (1.0 - jac * jac)
                       * (1.0 - jac * jac) AS p_theory
            FROM j LEFT JOIN cand c USING (doc_a, doc_b))
        SELECT jac_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
               ROUND(SUM(is_cand) / COUNT(*), 6) AS cand_rate,
               ROUND(AVG(p_theory), 6) AS avg_p_theory
        FROM flagged GROUP BY 1
    """,
    # importance reweighting to a uniform source target + Kish ESS
    "sample_importance_reweight": """
        WITH s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS n_total,
                     CAST(COUNT(*) AS DOUBLE) AS n_sources FROM s),
        c AS (
            SELECT source, n_docs,
                   n_docs / n_total AS actual,
                   1.0 / n_sources AS target,
                   (1.0 / n_sources) / (n_docs / n_total) AS w,
                   n_docs * ((1.0 / n_sources) / (n_docs / n_total)) AS sw,
                   n_docs * ((1.0 / n_sources) / (n_docs / n_total))
                          * ((1.0 / n_sources) / (n_docs / n_total)) AS sw2,
                   n_total
            FROM s CROSS JOIN t),
        e AS (SELECT SUM(sw) * SUM(sw) / (MAX(n_total) * SUM(sw2)) AS ess
              FROM c)
        SELECT source, n_docs,
               ROUND(actual, 6) AS actual_share,
               ROUND(target, 6) AS target_share,
               ROUND(w, 6) AS weight,
               ROUND(ess, 6) AS ess_fraction
        FROM c CROSS JOIN e
    """,
    # direct vs per-month-partial-merged algebraic aggregates
    "agg_partial_merge": """
        WITH li AS (
            SELECT l_returnflag, date_trunc('month', l_shipdate) AS m,
                   CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS price
            FROM lineitem),
        d AS (SELECT l_returnflag, SUM(qty) AS d_sum,
                     CAST(COUNT(*) AS BIGINT) AS d_n,
                     MIN(price) AS d_min, MAX(price) AS d_max
              FROM li GROUP BY 1),
        p AS (SELECT l_returnflag, m, SUM(qty) AS ps, COUNT(*) AS pn,
                     MIN(price) AS pmin, MAX(price) AS pmax
              FROM li GROUP BY 1, 2),
        mg AS (SELECT l_returnflag, SUM(ps) AS m_sum,
                      CAST(SUM(pn) AS BIGINT) AS m_n,
                      MIN(pmin) AS m_min, MAX(pmax) AS m_max
               FROM p GROUP BY 1)
        SELECT l_returnflag,
               CAST(d_sum AS DOUBLE) AS sum_qty,
               d_n AS n_rows,
               CAST(d_min AS DOUBLE) AS min_price,
               CAST(d_max AS DOUBLE) AS max_price,
               d_sum = m_sum AS sum_merges,
               d_n = m_n AS count_merges,
               d_min = m_min AND d_max = m_max AS minmax_merges
        FROM d JOIN mg USING (l_returnflag)
    """,
    # per-source vs corpus Jensen-Shannon divergence, absent-word mass in
    # closed form (q*ln2), identical factor ordering
    "text_jsd_source_drift": r"""
        WITH toks AS (
            SELECT source,
                   UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS w
            FROM documents),
        sw AS (SELECT source, w, CAST(COUNT(*) AS DOUBLE) AS c_sw
               FROM toks GROUP BY 1, 2),
        s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS c_s
              FROM toks GROUP BY 1),
        wt AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c_w FROM toks GROUP BY 1),
        tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c_all FROM toks),
        j AS (
            SELECT sw.source, sw.c_sw / s.c_s AS p, wt.c_w / tt.c_all AS q,
                   s.c_s
            FROM sw JOIN s USING (source) JOIN wt USING (w) CROSS JOIN tt),
        kt AS (
            SELECT source,
                   SUM(p * ln(p / ((p + q) / 2.0))) AS kl_p,
                   SUM(q * ln(q / ((p + q) / 2.0))) AS kl_q_present,
                   MAX(c_s) AS n_tokens
            FROM j GROUP BY 1),
        qp AS (
            SELECT sw.source, SUM(wt.c_w / tt.c_all) AS q_mass_present
            FROM sw JOIN wt USING (w) CROSS JOIN tt GROUP BY 1)
        SELECT source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(0.5 * kl_p
                     + 0.5 * (kl_q_present
                              + (1.0 - q_mass_present) * ln(2.0)), 6) AS jsd
        FROM kt JOIN qp USING (source)
    """,
    # OHLC via arg_min/arg_max on the zero-padded (epoch_us, event_id) key
    "events_ohlc_candles": """
        WITH e AS (
            SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                   printf('%020d-%012d', epoch_us(CAST(ts AS TIMESTAMP)),
                          event_id) AS ok
            FROM events)
        SELECT event_type, CAST(ts AS DATE) AS day,
               ROUND(arg_min(value, ok), 6) AS open,
               ROUND(MAX(value), 6) AS high,
               ROUND(MIN(value), 6) AS low,
               ROUND(arg_max(value, ok), 6) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS volume
        FROM e GROUP BY 1, 2
    """,
    # lateness vs the running event-time high-water mark in arrival order
    "events_lateness_audit": """
        WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        l AS (
            SELECT CAST(floor(epoch(MAX(ts) OVER (
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
                       AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT) AS late_sec
            FROM e),
        b AS (
            SELECT CASE WHEN late_sec <= 0 THEN 'on-time'
                        WHEN late_sec <= 60 THEN '<=1m'
                        WHEN late_sec <= 600 THEN '<=10m'
                        WHEN late_sec <= 3600 THEN '<=1h'
                        WHEN late_sec <= 86400 THEN '<=1d'
                        ELSE '>1d' END AS lateness_bucket
            FROM l),
        t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM e)
        SELECT lateness_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(COUNT(*) / n_total, 6) AS share
        FROM b CROSS JOIN t
        GROUP BY lateness_bucket, n_total
    """,
    # streaming OHLC == batch OHLC at end-of-stream (complete mode)
    "stream_ohlc_candles": """
        WITH e AS (
            SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
                   printf('%020d-%012d', epoch_us(CAST(ts AS TIMESTAMP)),
                          event_id) AS ok
            FROM events)
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               ROUND(arg_min(value, ok), 6) AS open,
               ROUND(MAX(value), 6) AS high,
               ROUND(MIN(value), 6) AS low,
               ROUND(arg_max(value, ok), 6) AS close,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS volume
        FROM e GROUP BY 1, 2
    """,
    # UNPRUNED brute-force range search: a green row certifies the Spark
    # side's cluster prune lossless
    "similarity_range_search": f"""
        WITH {_VEC_CTE},
        q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id % 200 = 0)
        SELECT q_id, vec_id, c AS cosine FROM (
            SELECT q_id, v.vec_id,
                   ROUND(list_dot_product(qe, v.e)
                         / (sqrt(list_dot_product(qe, qe))
                            * sqrt(list_dot_product(v.e, v.e))), 6) AS c
            FROM q JOIN v ON v.vec_id <> q_id)
        WHERE c >= 0.30
    """,
})

_ORACLES.update({
    # gram -> min-doc_id first occurrence; novelty credited to that doc only
    "text_ngram_novelty": f"""
        WITH {_SHINGLES_CTE},
        firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
                FROM sh GROUP BY 1),
        nov AS (SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_novel
                FROM firsts GROUP BY 1)
        SELECT d.doc_id,
               COALESCE(n_grams, 0) AS n_grams,
               COALESCE(n_novel, 0) AS n_novel,
               ROUND(CASE WHEN COALESCE(n_grams, 0) > 0
                          THEN COALESCE(n_novel, 0) / CAST(n_grams AS DOUBLE)
                          ELSE 0.0 END, 6) AS novelty_fraction
        FROM documents d
        LEFT JOIN tot ON d.doc_id = tot.doc_id
        LEFT JOIN nov ON d.doc_id = nov.doc_id
    """,
    # identical float discipline as the Spark side: 6-dp idf, decimal norm
    # sum, 6-dp unit coords, DECIMAL(18,9) pair contributions (exact,
    # order-free sums on both engines); identical df-cap [2, 100] on the
    # posting lists that generate pairs
    "dedup_tfidf_cosine": r"""
        WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
                   FROM documents),
        -- terms = word 3-gram shingles, NON-distinct (tf counts repeats)
        shm AS (SELECT doc_id,
                       ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS term
                FROM d, UNNEST(range(1, len(ws) - 1)) AS t(i)),
        tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
               FROM shm GROUP BY 1, 2),
        dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_corpus
              FROM documents),
        -- r14 contract: integer fixed-point weights (w_int in 1e-6
        -- units), exact DECIMAL(38,0) reductions, ONE double division
        -- per surviving pair — the 1e-12 units of the dot cancel the
        -- two 1e-6-unit norms
        w AS (SELECT doc_id, term, df,
                     tf * CAST(ROUND(ln(n_corpus / df) * 1000000) AS BIGINT)
                         AS w_int
              FROM tf JOIN dfc USING (term), n),
        norms AS (SELECT doc_id,
                         sqrt(CAST(SUM(CAST(w_int * w_int AS DECIMAL(38,0)))
                              AS DOUBLE)) AS nrm
                  FROM w GROUP BY 1),
        p AS (SELECT doc_id, term FROM w WHERE df BETWEEN 2 AND 10),
        -- candidate = shares >= 3 sub-cap shingles (count over per-term
        -- matches, mirroring bucket_pairs' per-term emissions; r12
        -- raised 2 -> 3 in lockstep with the Spark gate)
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM p a JOIN p b
                   ON a.term = b.term AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        -- lossless verify: FULL dot over ALL shared terms of each
        -- candidate (the cap bounds generation, not the score)
        dots AS (SELECT c.doc_a, c.doc_b,
                        SUM(CAST(a.w_int * b.w_int AS DECIMAL(38,0))) AS dot
                 FROM cand c
                 JOIN w a ON a.doc_id = c.doc_a
                 JOIN w b ON b.doc_id = c.doc_b AND b.term = a.term
                 GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON doc_a = na.doc_id
        JOIN norms nb ON doc_b = nb.doc_id
        WHERE ROUND(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.30
    """,
    # vowel-group syllable proxy; ordered integer folds; identical
    # left-associated double expression for both scores
    "text_readability": r"""
        WITH d AS (SELECT doc_id, text,
                          string_split_regex(lower(trim(text)), '\s+') AS ws
                   FROM documents),
        s AS (SELECT doc_id,
                     CAST(len(ws) AS BIGINT) AS n_words,
                     CAST(list_sum(list_transform(ws,
                          w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                          AS BIGINT) AS n_syllables,
                     CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
                          AS BIGINT) AS n_sentences
              FROM d)
        SELECT doc_id, n_words, n_syllables, n_sentences,
               ROUND(206.835 - 1.015 * (n_words / n_sentences)
                             - 84.6 * (n_syllables / n_words), 6) AS flesch_ease,
               ROUND(0.39 * (n_words / n_sentences)
                     + 11.8 * (n_syllables / n_words) - 15.59, 6) AS fk_grade
        FROM s
    """,
})

_ORACLES.update({
    # pure integer arithmetic: floor share = num // sum_w, leftover cents
    # to the largest integer remainders (ties by line number)
    "orders_penny_allocation": """
        WITH o AS (SELECT o_orderkey,
                          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
                   FROM orders WHERE o_orderkey % 10 = 0),
        l AS (SELECT l_orderkey AS o_orderkey, l_linenumber,
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w_cents
              FROM lineitem),
        s AS (SELECT o_orderkey, SUM(w_cents) AS sum_w FROM l GROUP BY 1),
        base AS (SELECT l.o_orderkey, l_linenumber, total_cents, w_cents,
                        total_cents * w_cents AS num,
                        CAST(sum_w AS BIGINT) AS sum_w
                 FROM l JOIN s USING (o_orderkey) JOIN o USING (o_orderkey)),
        fl AS (SELECT o_orderkey, l_linenumber, total_cents, w_cents,
                      num // sum_w AS floor_share, num % sum_w AS rem
               FROM base),
        r AS (SELECT *,
                     total_cents - SUM(floor_share)
                         OVER (PARTITION BY o_orderkey) AS leftover,
                     ROW_NUMBER() OVER (PARTITION BY o_orderkey
                         ORDER BY rem DESC, l_linenumber ASC, w_cents ASC)
                         AS rk
              FROM fl)
        SELECT o_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               CAST(floor_share
                    + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_cents
        FROM r
    """,
    # exact cent sums -> deterministic divisions -> effects from 6-dp
    # rounded operands
    "orders_mix_shift_decomposition": """
        WITH per AS (
            SELECT c_mktsegment AS segment,
                   EXTRACT(year FROM o_orderdate) AS yr,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
            GROUP BY 1, 2),
        tot AS (SELECT yr, CAST(SUM(n) AS BIGINT) AS n_tot FROM per GROUP BY 1),
        shaped AS (SELECT segment, yr, n,
                          ROUND(n / n_tot, 6) AS share,
                          ROUND(cents / n / 100.0, 6) AS rate
                   FROM per JOIN tot USING (yr)),
        p1 AS (SELECT segment, n AS n_1995, share AS share_1995,
                      rate AS rate_1995 FROM shaped WHERE yr = 1995),
        p2 AS (SELECT segment, n AS n_1996, share AS share_1996,
                      rate AS rate_1996 FROM shaped WHERE yr = 1996)
        SELECT segment, n_1995, n_1996, share_1995, share_1996,
               rate_1995, rate_1996,
               ROUND(share_1996 * (rate_1996 - rate_1995), 6) AS rate_effect,
               ROUND((share_1996 - share_1995) * rate_1995, 6) AS mix_effect
        FROM p1 FULL JOIN p2 USING (segment)
    """,
    # same quantized factors folded in the same ascending-duration order
    "users_kaplan_meier": """
        WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events),
        u AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day,
                     MAX(CAST(ts AS DATE)) AS last_day
              FROM events GROUP BY 1),
        lif AS (SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT)
                           AS duration,
                       date_diff('day', last_day, max_day) < 3 AS censored
                FROM u, mx),
        durs AS (SELECT duration,
                        CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_churned,
                        CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_censored
                 FROM lif GROUP BY 1),
        f AS (SELECT duration, n_churned, n_censored,
                     CAST(SUM(n_churned + n_censored)
                          OVER (ORDER BY duration DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS n_at_risk
              FROM durs),
        fq AS (SELECT *, ROUND(1.0 - n_churned / n_at_risk, 6) AS factor
               FROM f),
        arr AS (SELECT list(struct_pack(duration := duration, factor := factor)
                            ORDER BY duration) AS fs
                FROM fq),
        folded AS (
            SELECT (fs[i]).duration AS duration,
                   ROUND(list_reduce(list_transform(fs[1:i], s -> s.factor),
                                     (a, b) -> a * b), 6) AS survival
            FROM arr, UNNEST(range(1, len(fs) + 1)) AS t(i))
        SELECT fq.duration AS duration_days, n_at_risk, n_churned,
               n_censored, survival
        FROM fq JOIN folded ON fq.duration = folded.duration
    """,
    # hand-rolled sorted-array median (odd -> middle, even -> midpoint),
    # identical indexing formula as the Spark side (0-based there, +1 here)
    "events_theilsen_trend": """
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS d,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY 1, 2),
        dd AS (SELECT event_type,
                      CAST(date_diff('day', DATE '2024-01-01', d) AS BIGINT)
                          AS epoch_d,
                      cents
               FROM daily),
        slopes AS (SELECT a.event_type,
                          (b.cents - a.cents) / (b.epoch_d - a.epoch_d) AS slope
                   FROM dd a JOIN dd b ON a.event_type = b.event_type
                                      AND a.epoch_d < b.epoch_d),
        agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       list_sort(list(slope)) AS ss
                FROM slopes GROUP BY 1),
        nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM daily GROUP BY 1)
        SELECT event_type, n_days, n_pairs,
               ROUND((ss[CAST(floor((len(ss) - 1) / 2) AS BIGINT) + 1]
                      + ss[CAST(floor(len(ss) / 2) AS BIGINT) + 1]) / 2.0,
                     6) AS theilsen_slope
        FROM agg JOIN nd USING (event_type)
    """,
    # byte-identical filter: same md5 positions, same m/k
    "agg_bloom_filter_fpr": """
        WITH buyers AS (SELECT DISTINCT o_custkey AS key FROM orders
                        WHERE o_orderdate < DATE '1996-01-01'),
        nb AS (SELECT c_custkey AS key FROM customer
               WHERE c_custkey NOT IN (SELECT key FROM buyers)),
        bpos AS (SELECT DISTINCT
                        ('0x' || substring(md5(i || ':' || CAST(key AS VARCHAR)),
                                           1, 8))::BIGINT % 4096 AS bit
                 FROM buyers, UNNEST([0, 1, 2]) AS t(i)),
        ppos AS (SELECT key,
                        ('0x' || substring(md5(i || ':' || CAST(key AS VARCHAR)),
                                           1, 8))::BIGINT % 4096 AS bit
                 FROM nb, UNNEST([0, 1, 2]) AS t(i)),
        fp AS (SELECT key FROM ppos WHERE bit IN (SELECT bit FROM bpos)
               GROUP BY key HAVING COUNT(*) = 3),
        counts AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM buyers) AS n_keys,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM bpos) AS n_bits_set,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM nb) AS n_probes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM fp)
                       AS n_false_positives)
        SELECT n_keys, n_bits_set, n_probes, n_false_positives,
               ROUND(n_false_positives / n_probes, 6) AS fpr_measured,
               n_false_positives / n_probes
                   <= 3.0 * POWER(1.0 - POWER(1.0 - 1.0 / 4096, 3 * n_keys),
                                  3) + 1e-3 AS within_bound
        FROM counts
    """,
    # same per-dim grid, same round-half-up quantization, same
    # dimension-order error folds
    "similarity_sq8_error": f"""
        WITH {_VEC_CTE},
        d AS (SELECT vec_id, i, e[i] AS x
              FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
        st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY 1),
        b AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
              FROM st),
        q AS (SELECT vec_id,
                     list_transform(range(1, len(e) + 1),
                         i -> CASE WHEN maxs[i] > mins[i]
                                   THEN e[i] - (mins[i]
                                        + ROUND(255.0 * (e[i] - mins[i])
                                                / (maxs[i] - mins[i]))
                                          / 255 * (maxs[i] - mins[i]))
                                   ELSE 0.0 END) AS errs
              FROM v, b)
        SELECT vec_id,
               ROUND(list_reduce(list_transform(errs, x -> x * x),
                                 (a, b) -> a + b) / len(errs), 8) AS mse,
               ROUND(list_max(list_transform(errs, x -> abs(x))), 8)
                   AS max_abs_err
        FROM q
    """,
    # append-mode chained-window semantics: hours whose end the final
    # watermark (max ts - 1h) passed, rolled to days whose end it passed
    "stream_two_level_window": """
        WITH wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events),
        h AS (SELECT date_trunc('hour', ts) AS hr, event_type,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
        hh AS (SELECT hr, event_type, n FROM h, wm
               WHERE hr + INTERVAL 1 HOUR <= w)
        SELECT CAST(date_trunc('day', hr) AS TIMESTAMP) AS day_start,
               event_type,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_hours
        FROM hh, wm
        WHERE date_trunc('day', hr) + INTERVAL 1 DAY <= w
        GROUP BY 1, 2
    """,
    # exact overlap drives the hash; the HLL bound is certified TRUE
    # (estimates are implementation-defined, properties are the facts)
    "events_audience_overlap_hll": """
        WITH t AS (SELECT DISTINCT event_type FROM events),
        ut AS (SELECT DISTINCT event_type, user_id FROM events),
        ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      CAST(COUNT(*) AS BIGINT) AS exact_overlap
               FROM ut a JOIN ut b ON a.user_id = b.user_id
                                  AND a.event_type < b.event_type
               GROUP BY 1, 2)
        SELECT ta.event_type AS type_a, tb.event_type AS type_b,
               CAST(COALESCE(exact_overlap, 0) AS BIGINT) AS exact_overlap,
               TRUE AS within_bound
        FROM t ta JOIN t tb ON ta.event_type < tb.event_type
        LEFT JOIN ov ON ov.type_a = ta.event_type
                    AND ov.type_b = tb.event_type
    """,
})

_ORACLES.update({
    # identical recursion replayed as a recursive CTE: fold order
    # (ts, event_id), arithmetic order (s + v) - 50, clamp at 0
    "events_cusum_pandas": """
        WITH RECURSIVE ev AS (
            SELECT user_id, CAST(value AS DOUBLE) AS v,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events),
        c(user_id, rn, s) AS (
            SELECT user_id, rn, GREATEST(0.0, v - 50.0)
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, GREATEST(0.0, c.s + e.v - 50.0)
            FROM c JOIN ev e ON e.user_id = c.user_id AND e.rn = c.rn + 1)
        SELECT user_id, ROUND(MAX(s), 6) AS max_cusum,
               CAST(SUM(CASE WHEN s > 100.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_over
        FROM c GROUP BY 1
    """,
    # integer-cent running total over the part-level aggregate
    "parts_abc_classification": """
        WITH per AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                       * 100) AS BIGINT)) AS BIGINT)
                       AS revenue_cents
            FROM lineitem GROUP BY 1),
        tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS total_cents
                FROM per),
        r AS (SELECT l_partkey, revenue_cents,
                     CAST(SUM(revenue_cents)
                          OVER (ORDER BY revenue_cents DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_cents
              FROM per)
        SELECT l_partkey, revenue_cents,
               ROUND(cum_cents / total_cents, 6) AS cum_share,
               CASE WHEN cum_cents / total_cents <= 0.80 THEN 'A'
                    WHEN cum_cents / total_cents <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r, tot
    """,
    # base + delta partial states merged by addition == full recompute
    "cdc_incremental_aggregate": """
        WITH ev AS (SELECT user_id, ts,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents
                    FROM events),
        base AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_base,
                        CAST(SUM(cents) AS BIGINT) AS c_base
                 FROM ev WHERE ts < TIMESTAMP '2024-01-26' GROUP BY 1),
        delta AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_delta,
                         CAST(SUM(cents) AS BIGINT) AS c_delta
                  FROM ev WHERE ts >= TIMESTAMP '2024-01-26' GROUP BY 1),
        m AS (SELECT user_id,
                     COALESCE(n_base, 0) + COALESCE(n_delta, 0) AS n_m,
                     COALESCE(c_base, 0) + COALESCE(c_delta, 0) AS c_m
              FROM base FULL JOIN delta USING (user_id)),
        f AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(cents) AS BIGINT) AS value_cents
              FROM ev GROUP BY 1)
        SELECT user_id, n_events, value_cents,
               n_events = n_m AND value_cents = c_m AS maintained_matches
        FROM f FULL JOIN m USING (user_id)
    """,
    # decimal-exact revenue, two-nation flow per direction and ship year
    "q7_nation_volume": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
                      AND sn.n_nationkey IN (1, 2)
        JOIN nation cn ON c_nationkey = cn.n_nationkey
                      AND cn.n_nationkey IN (1, 2)
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
    """,
    # same one-pass window composition; tolerance in exact microseconds
    "join_asof_tolerance": """
        WITH t AS (SELECT user_id, ts, event_id, event_type FROM events
                   WHERE event_type IN ('click', 'purchase')),
        e AS (SELECT *,
                     last_value(CASE WHEN event_type = 'click'
                                     THEN struct_pack(c_ts := ts,
                                                      c_id := event_id)
                                END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS lc
              FROM t)
        SELECT event_id AS purchase_id, user_id,
               CASE WHEN lc IS NOT NULL
                     AND epoch_us(ts) - epoch_us((lc).c_ts) <= 7200000000
                    THEN (lc).c_id END AS matched_click_id,
               ROUND(CASE WHEN lc IS NOT NULL
                           AND epoch_us(ts) - epoch_us((lc).c_ts)
                               <= 7200000000
                          THEN (epoch_us(ts) - epoch_us((lc).c_ts))
                               / 1000000.0 END, 6) AS staleness_s
        FROM e WHERE event_type = 'purchase'
    """,
})

_ORACLES.update({
    # the nested-SELECT form the pipe query compiles to
    "sql_pipe_syntax": """
        SELECT l_returnflag,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1
    """,
    # collated equality == lower() on both sides
    "scalar_collation": """
        WITH m AS (SELECT CASE WHEN o_orderkey % 2 = 0
                               THEN upper(o_orderpriority)
                               ELSE lower(o_orderpriority) END AS pri
                   FROM orders),
        dim AS (SELECT DISTINCT lower(o_orderpriority) AS priority
                FROM orders)
        SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM m JOIN dim ON lower(pri) = priority
        GROUP BY 1
    """,
    # string_agg with explicit ORDER BY is DuckDB's listagg
    "agg_listagg_countif": """
        WITH per AS (SELECT event_type,
                            CAST(count_if(value > 100) AS BIGINT) AS n_high,
                            bool_or(value > 400) AS any_over_400
                     FROM events GROUP BY 1),
        d AS (SELECT DISTINCT event_type,
                     CAST(CAST(ts AS DATE) AS VARCHAR) AS d
              FROM events),
        days AS (SELECT event_type, string_agg(d, ',' ORDER BY d)
                     AS active_days
                 FROM d GROUP BY 1)
        SELECT event_type, n_high, any_over_400, active_days
        FROM per JOIN days USING (event_type)
    """,
    # first view, first at-or-after purchase, exact micros delta
    "events_time_to_convert": """
        WITH fv AS (SELECT user_id, MIN(epoch_us(ts)) AS fv_us
                    FROM events WHERE event_type = 'view' GROUP BY 1),
        fp AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fp_us,
                      MIN(fv_us) AS fv_us
               FROM events e JOIN fv ON e.user_id = fv.user_id
               WHERE e.event_type = 'purchase'
                 AND epoch_us(e.ts) >= fv_us
               GROUP BY 1)
        SELECT user_id, ROUND((fp_us - fv_us) / 1000000.0, 6) AS convert_s
        FROM fp
    """,
})

_ORACLES.update({
    # same delimiter split, 6-dp DECIMAL word scores -> exact order-free
    # per-phrase sums
    "text_rake_keywords": r"""
        WITH d AS (SELECT regexp_replace(lower(trim(text)),
                                         '\b(a|the)\b', '|', 'g') AS norm
                   FROM documents),
        occ AS (SELECT regexp_replace(trim(p), '\s+', ' ', 'g') AS phrase
                FROM d, UNNEST(string_split(norm, '|')) AS t(p)
                WHERE regexp_replace(trim(p), '\s+', ' ', 'g') <> ''),
        po AS (SELECT phrase, len(string_split(phrase, ' ')) AS plen
               FROM occ),
        ws AS (SELECT t.w,
                      CAST(ROUND(SUM(plen) / COUNT(*), 6) AS DECIMAL(18,6))
                          AS s
               FROM po, UNNEST(string_split(phrase, ' ')) AS t(w)
               GROUP BY 1),
        dp AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
               FROM po GROUP BY 1),
        pw AS (SELECT phrase, n_occurrences, t.w
               FROM dp, UNNEST(string_split(phrase, ' ')) AS t(w)),
        sc AS (SELECT phrase, n_occurrences,
                      ROUND(CAST(SUM(s) AS DOUBLE), 6) AS rake_score
               FROM pw JOIN ws USING (w) GROUP BY 1, 2)
        SELECT phrase, n_occurrences, rake_score
        FROM sc ORDER BY rake_score DESC, phrase LIMIT 50
    """,
    # integer-cent cells; forecast rounded back to integer cents; WAPE is
    # one exact integer division
    "events_forecast_snaive": """
        WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS d,
                           EXTRACT(hour FROM ts) AS hr,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents,
                           CAST(date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE)) % 7 AS INT) AS dow
                    FROM events),
        train AS (SELECT * FROM ev WHERE d < DATE '2024-01-24'),
        test AS (SELECT * FROM ev WHERE d >= DATE '2024-01-24'),
        nd AS (SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days
               FROM (SELECT DISTINCT d, dow FROM train) GROUP BY 1),
        trc AS (SELECT event_type, dow, hr,
                       CAST(SUM(cents) AS BIGINT) AS train_cents
                FROM train GROUP BY 1, 2, 3),
        tec AS (SELECT event_type, dow, hr,
                       CAST(SUM(cents) AS BIGINT) AS actual_cents
                FROM test GROUP BY 1, 2, 3),
        cells AS (SELECT tec.event_type, actual_cents,
                         CAST(ROUND(COALESCE(train_cents, 0) / n_days)
                              AS BIGINT) AS forecast_cents
                  FROM tec
                  LEFT JOIN trc USING (event_type, dow, hr)
                  JOIN nd USING (dow))
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(actual_cents) AS BIGINT) AS total_actual_cents,
               CAST(SUM(ABS(actual_cents - forecast_cents)) AS BIGINT)
                   AS total_abs_err_cents,
               ROUND(SUM(ABS(actual_cents - forecast_cents))
                     / SUM(actual_cents), 6) AS wape
        FROM cells GROUP BY 1
    """,
    # frame values sorted per row; shared odd/even midpoint formula
    "events_rolling_median": """
        WITH w AS (SELECT event_id, user_id,
                          list_sort(list(value)
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS BETWEEN 4 PRECEDING
                                    AND CURRENT ROW)) AS arr
                   FROM events)
        SELECT event_id, user_id,
               ROUND((arr[CAST(floor((len(arr) - 1) / 2) AS BIGINT) + 1]
                      + arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1])
                     / 2.0, 6) AS rolling_median
        FROM w
    """,
    # identical synthesized url, regex-parsed
    "scalar_url_funcs": """
        WITH u AS (SELECT doc_id, source,
                          'https://' || source || '.example.com/docs/'
                          || CAST(doc_id AS VARCHAR) || '?lang=' || lang
                          || '&n=' || CAST(n_chars AS VARCHAR) AS url
                   FROM documents)
        SELECT doc_id,
               regexp_extract(url, 'https://([^/]+)', 1) AS host,
               regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '[?&]lang=([^&]*)', 1) AS q_lang,
               regexp_extract(url, '[?&]n=([^&]*)', 1) AS q_n,
               TRUE AS decoded_ok
        FROM u
    """,
})

_ORACLES.update({
    # integer-cent comparison; the 1% band is integer arithmetic
    "orders_totals_reconciliation": """
        WITH h AS (SELECT o_orderkey,
                          CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS header_cents
                   FROM orders),
        det AS (SELECT l_orderkey AS o_orderkey,
                       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                            AS BIGINT) AS detail_cents
                FROM lineitem GROUP BY 1),
        cls AS (SELECT CASE WHEN detail_cents IS NULL THEN 'NO_LINES'
                            WHEN ABS(header_cents - detail_cents) = 0
                                 THEN 'EXACT'
                            WHEN ABS(header_cents - detail_cents) * 100
                                 <= header_cents THEN 'WITHIN_1PCT'
                            ELSE 'MISMATCH' END AS recon_class,
                       header_cents,
                       COALESCE(detail_cents, 0) AS detail_cents,
                       ABS(header_cents - COALESCE(detail_cents, 0)) AS drift
                FROM h LEFT JOIN det USING (o_orderkey))
        SELECT recon_class, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(header_cents) AS BIGINT) AS total_header_cents,
               CAST(SUM(detail_cents) AS BIGINT) AS total_detail_cents,
               CAST(SUM(drift) AS BIGINT) AS total_abs_drift_cents
        FROM cls GROUP BY 1
    """,
    # gaps-and-islands over distinct active days
    "users_longest_streak": """
        WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
                      FROM events),
        runs AS (SELECT user_id,
                        d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                                    ORDER BY d) AS INT)
                            AS grp
                 FROM days),
        st AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
               FROM runs GROUP BY 1, 2)
        SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
               CAST(MAX(len) AS BIGINT) AS longest_streak,
               CAST(COUNT(*) AS BIGINT) AS n_streaks
        FROM st GROUP BY 1
    """,
    # one (customer, day) aggregation + HAVING; integer cents
    "orders_same_day_repeat": """
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents,
               CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    - MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spread_cents,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey,
               CAST(MAX(o_orderkey) AS BIGINT) AS last_orderkey
        FROM orders
        GROUP BY 1, 2
        HAVING COUNT(*) > 1
    """,
    # 2-6 char word prefixes -> top-k parts by exact cent revenue
    "part_prefix_autocomplete": """
        WITH rev AS (SELECT l_partkey,
                            CAST(SUM(CAST(ROUND(l_extendedprice * 100)
                                          AS BIGINT)) AS BIGINT)
                                AS revenue_cents
                     FROM lineitem GROUP BY 1),
        words AS (SELECT p_partkey AS l_partkey, t.w
                  FROM part, UNNEST(string_split(lower(p_name), ' ')) AS t(w)
                  WHERE len(t.w) >= 2),
        pre AS (SELECT DISTINCT l_partkey, substring(w, 1, i) AS prefix
                FROM words,
                     UNNEST(range(2, LEAST(len(w), 6) + 1)) AS t(i)),
        ranked AS (SELECT prefix, l_partkey, revenue_cents,
                          ROW_NUMBER() OVER (PARTITION BY prefix
                              ORDER BY revenue_cents DESC, l_partkey)
                              AS rank
                   FROM pre JOIN rev USING (l_partkey))
        SELECT prefix, CAST(rank AS BIGINT) AS rank, l_partkey, revenue_cents
        FROM ranked WHERE rank <= 3
    """,
})

_ORACLES.update({
    # exact integer sufficient stats (sum of squares as DECIMAL);
    # hand-rolled median midpoint
    "events_bot_regularity": """
        WITH t AS (SELECT user_id, epoch_us(ts) AS tu, event_id FROM events),
        i AS (SELECT user_id,
                     tu - LAG(tu) OVER (PARTITION BY user_id
                                        ORDER BY tu, event_id) AS iat
              FROM t),
        f AS (SELECT user_id, iat FROM i WHERE iat IS NOT NULL),
        s AS (SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS n_iat,
                     CAST(SUM(iat) AS BIGINT) AS s1,
                     SUM(CAST(iat AS DECIMAL(38,0)) * iat) AS s2,
                     list_sort(list(iat)) AS arr
              FROM f GROUP BY 1),
        c AS (SELECT user_id, n_iat, s1, s2,
                     (arr[CAST(floor((len(arr) - 1) / 2) AS BIGINT) + 1]
                      + arr[CAST(floor(len(arr) / 2) AS BIGINT) + 1])
                     / 2.0 AS med_us,
                     s1 / n_iat AS mean_us,
                     CAST(s2 AS DOUBLE) / n_iat
                         - (s1 / n_iat) * (s1 / n_iat) AS var_us
              FROM s)
        SELECT user_id, n_iat,
               med_us AS median_iat_us,
               mean_us AS mean_iat_us,
               ROUND(sqrt(GREATEST(var_us, 0.0)) / mean_us, 6) AS iat_cv,
               sqrt(GREATEST(var_us, 0.0)) / mean_us < 0.5 AS is_regular
        FROM c
    """,
    # FIFO = pairwise overlap of cumulative-quantity intervals
    "inventory_fifo_matching": """
        WITH li AS (SELECT l_partkey, l_orderkey, l_linenumber, l_linestatus,
                           CAST(l_quantity AS BIGINT) AS qty,
                           CAST(l_shipdate AS DATE) AS sd
                    FROM lineitem),
        r AS (SELECT l_partkey,
                     l_orderkey AS receipt_order,
                     CAST(l_linenumber AS BIGINT) AS receipt_line,
                     CAST(SUM(qty) OVER w AS BIGINT) AS receipt_c1,
                     CAST(SUM(qty) OVER w - qty AS BIGINT) AS receipt_c0
              FROM li WHERE l_linestatus = 'F'
              WINDOW w AS (PARTITION BY l_partkey
                           ORDER BY sd, l_orderkey, l_linenumber, qty
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)),
        i AS (SELECT l_partkey,
                     l_orderkey AS issue_order,
                     CAST(l_linenumber AS BIGINT) AS issue_line,
                     CAST(SUM(qty) OVER w AS BIGINT) AS issue_c1,
                     CAST(SUM(qty) OVER w - qty AS BIGINT) AS issue_c0
              FROM li WHERE l_linestatus = 'O'
              WINDOW w AS (PARTITION BY l_partkey
                           ORDER BY sd, l_orderkey, l_linenumber, qty
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
        SELECT r.l_partkey, receipt_order, receipt_line,
               issue_order, issue_line,
               CAST(LEAST(receipt_c1, issue_c1)
                    - GREATEST(receipt_c0, issue_c0) AS BIGINT)
                   AS qty_allocated
        FROM r JOIN i ON r.l_partkey = i.l_partkey
        WHERE receipt_c0 < issue_c1 AND issue_c0 < receipt_c1
    """,
    # closed-form CUPED from exact integer sufficient statistics
    "events_ab_cuped": """
        WITH pu AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-08'
                                 THEN CAST(ROUND(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS pre,
                   CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08'
                                 THEN CAST(ROUND(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS post,
                   CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                                                1, 8))::BIGINT % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm
            FROM events GROUP BY user_id),
        pooled AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(pre) AS BIGINT) AS sx,
                          CAST(SUM(post) AS BIGINT) AS sy,
                          CAST(SUM(pre * post) AS BIGINT) AS sxy,
                          CAST(SUM(pre * pre) AS BIGINT) AS sxx
                   FROM pu),
        arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                        CAST(SUM(pre) AS BIGINT) AS gx,
                        CAST(SUM(post) AS BIGINT) AS gy
                 FROM pu GROUP BY 1)
        SELECT arm, n_users,
               ROUND(gy / n_users / 100.0, 6) AS mean_post,
               ROUND(gx / n_users / 100.0, 6) AS mean_pre,
               ROUND((gy / n_users
                      - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
                        * (gx / n_users - sx / n)) / 100.0, 6)
                   AS cuped_mean_post
        FROM arms, pooled
    """,
    # bitmap path certified TRUE against the exact distinct join
    "agg_bitmap_distinct": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_bitmap,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
               TRUE AS bitmap_matches_exact
        FROM events GROUP BY 1
    """,
    # EXISTS decorrelates to a semi join; late = shipped >60d after order
    "q4_order_priority": """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY 1
    """,
    # identical operation order: (100.0 * pr) / tr on doubles, 6-dp round
    "q14_promo_revenue": """
        WITH j AS (SELECT CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,6)) AS rev, p_type
                   FROM lineitem JOIN part ON l_partkey = p_partkey
                   WHERE l_shipdate >= TIMESTAMP '1996-03-01'
                     AND l_shipdate < TIMESTAMP '1996-04-01')
        SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                           THEN rev END) AS DOUBLE)
                     / CAST(SUM(rev) AS DOUBLE), 6) AS promo_revenue_pct,
               CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM j
    """,
    # disjunction evaluated post-join on both engines; decimal-exact sum
    "q19_disjunctive_revenue": """
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 36)
    """,
    # threshold from exact integer cents: (sum/count)/100 double on both
    "q22_global_sales_opportunity": """
        WITH ab AS (SELECT (CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
                                 AS DOUBLE) / COUNT(*)) / 100.0 AS avg_bal
                    FROM customer WHERE c_acctbal > 0),
        recent AS (SELECT DISTINCT o_custkey FROM orders
                   WHERE o_orderdate >= TIMESTAMP '2000-01-01'),
        rich AS (SELECT c_custkey, c_nationkey, c_acctbal
                 FROM customer, ab WHERE c_acctbal > avg_bal)
        SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0, 2)
                   AS totacctbal
        FROM rich r
        WHERE NOT EXISTS (SELECT 1 FROM recent
                          WHERE o_custkey = r.c_custkey)
        GROUP BY 1
    """,
    # identical quintile order (acctbal, custkey); woe from exact-integer
    # ratios, 6-dp ln; iv uses the ROUNDED woe so both engines multiply
    # the same double
    "customers_woe_binning": """
        WITH buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT'),
        l AS (SELECT c.c_custkey, c.c_acctbal,
                     CASE WHEN b.c_custkey IS NULL THEN 0 ELSE 1 END
                         AS is_good
              FROM customer c LEFT JOIN buyers b USING (c_custkey)),
        binned AS (SELECT *,
                          ((ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey)
                            - 1) * 5) // (SELECT COUNT(*) FROM l) + 1
                              AS bin
                   FROM l),
        per_bin AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(is_good) AS BIGINT) AS n_good,
                           CAST(COUNT(*) - SUM(is_good) AS BIGINT) AS n_bad,
                           ROUND(MIN(c_acctbal), 2) AS bin_lo,
                           ROUND(MAX(c_acctbal), 2) AS bin_hi
                    FROM binned GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_good) AS BIGINT) AS tg,
                       CAST(SUM(n_bad) AS BIGINT) AS tb
                FROM per_bin)
        SELECT CAST(bin AS BIGINT) AS bin, bin_lo, bin_hi, n, n_good, n_bad,
               ROUND(LN((n_good * tb) / CAST(n_bad * tg AS DOUBLE)), 6)
                   AS woe,
               ROUND((n_good / CAST(tg AS DOUBLE)
                      - n_bad / CAST(tb AS DOUBLE))
                     * ROUND(LN((n_good * tb)
                                / CAST(n_bad * tg AS DOUBLE)), 6), 6)
                   AS iv_contrib
        FROM per_bin, tot
    """,
    # same two-level drill: fine checksums only under mismatched coarse
    # buckets; (count, sum-mod) commutative fold of 8-hex md5 ints
    "profile_merkle_ranges": """
        WITH a AS (SELECT o_orderkey, o_orderstatus FROM orders),
        b AS (SELECT o_orderkey,
                     CASE WHEN o_orderkey % 1000 = 7 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus
              FROM orders WHERE o_orderkey % 1000 <> 13),
        ra AS (SELECT o_orderkey // 2048 AS coarse,
                      o_orderkey // 256 AS fine,
                      ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                                             || '|' || o_orderstatus),
                                         1, 8))::BIGINT AS h
               FROM a),
        rb AS (SELECT o_orderkey // 2048 AS coarse,
                      o_orderkey // 256 AS fine,
                      ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)
                                             || '|' || o_orderstatus),
                                         1, 8))::BIGINT AS h
               FROM b),
        ca AS (SELECT coarse, COUNT(*) AS n,
                      SUM(h) % 2305843009213693951 AS chk
               FROM ra GROUP BY 1),
        cb AS (SELECT coarse, COUNT(*) AS n,
                      SUM(h) % 2305843009213693951 AS chk
               FROM rb GROUP BY 1),
        cd AS (SELECT COALESCE(ca.coarse, cb.coarse) AS coarse
               FROM ca FULL JOIN cb ON ca.coarse = cb.coarse
               WHERE ca.chk IS DISTINCT FROM cb.chk
                  OR ca.n IS DISTINCT FROM cb.n),
        fa AS (SELECT fine, COUNT(*) AS n,
                      SUM(h) % 2305843009213693951 AS chk
               FROM ra JOIN cd USING (coarse) GROUP BY 1),
        fb AS (SELECT fine, COUNT(*) AS n,
                      SUM(h) % 2305843009213693951 AS chk
               FROM rb JOIN cd USING (coarse) GROUP BY 1)
        SELECT CAST(COALESCE(fa.fine, fb.fine) * 256 AS BIGINT)
                   AS range_start,
               CAST((COALESCE(fa.fine, fb.fine) + 1) * 256 - 1 AS BIGINT)
                   AS range_end,
               CAST(COALESCE(fa.n, 0) AS BIGINT) AS n_a,
               CAST(COALESCE(fb.n, 0) AS BIGINT) AS n_b
        FROM fa FULL JOIN fb ON fa.fine = fb.fine
        WHERE fa.chk IS DISTINCT FROM fb.chk OR fa.n IS DISTINCT FROM fb.n
    """,
    # the oracle is the UNPRUNED all-pairs join (length prefilter is
    # lossless: ed >= length difference) — a green hash certifies the
    # FastSS deletion-variant candidates are COMPLETE for ed <= 1
    "er_edit_distance": """
        WITH p AS (SELECT p_partkey, lower(p_name) AS nm FROM part),
        pairs AS (SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
                  FROM p a JOIN p b ON a.p_partkey < b.p_partkey
                  WHERE abs(length(a.nm) - length(b.nm)) <= 1
                    AND levenshtein(a.nm, b.nm) <= 1),
        sym AS (SELECT key_a AS p_partkey, key_b AS nbr FROM pairs
                UNION ALL SELECT key_b, key_a FROM pairs)
        SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
               MIN(nbr) AS min_neighbor
        FROM sym GROUP BY 1
    """,
    # identical left-to-right double expressions; (1.2 + 1.0) computed
    # IN-ENGINE on both sides (a 2.2 literal is NOT the same double as
    # the IEEE sum); per-term 9-dp DECIMAL so the per-doc sum is exact
    "text_bm25_topk": r"""
        WITH tok AS (SELECT doc_id,
                            UNNEST(string_split_regex(lower(trim(text)),
                                                      '\s+')) AS token
                     FROM documents),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM tok GROUP BY 1),
        stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                         CAST(COUNT(*) AS DOUBLE) AS n_docs
                  FROM dl),
        tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
               FROM tok WHERE token IN ('join', 'hash', 'window')
               GROUP BY 1, 2),
        dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
        contrib AS (SELECT tf.doc_id,
                           CAST(ROUND(
                               LN(CAST(1.0 AS DOUBLE)
                                  + (n_docs - df + CAST(0.5 AS DOUBLE))
                                    / (df + CAST(0.5 AS DOUBLE)))
                               * (tf * (CAST(1.2 AS DOUBLE)
                                        + CAST(1.0 AS DOUBLE)))
                               / (tf + CAST(1.2 AS DOUBLE)
                                       * (CAST(1.0 AS DOUBLE)
                                          - CAST(0.75 AS DOUBLE)
                                          + CAST(0.75 AS DOUBLE)
                                            * (dl.dl / avgdl))), 9)
                               AS DECIMAL(18,9)) AS c
                    FROM tf JOIN dfq USING (token)
                    JOIN dl ON tf.doc_id = dl.doc_id, stats)
        SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_terms_matched
        FROM contrib GROUP BY 1
        ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    # p from exact integer token ratios; p^alpha 9-dp quantized before the
    # order-free decimal normalizing sum — identical on both engines
    "sample_temperature_mix": r"""
        WITH d AS (SELECT source,
                          CAST(len(string_split_regex(lower(trim(text)),
                                                      '\s+')) AS BIGINT)
                              AS n_tokens
                   FROM documents),
        per_src AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens,
                           CAST(COUNT(*) AS BIGINT) AS n_docs
                    FROM d GROUP BY 1),
        tot AS (SELECT CAST(SUM(tokens) AS DOUBLE) AS tot FROM per_src),
        w AS (SELECT source, tokens, n_docs, tokens / tot AS p,
                     CAST(ROUND(POWER(tokens / tot,
                                      CAST(0.3 AS DOUBLE)), 9)
                          AS DECIMAL(18,9)) AS q_raw
              FROM per_src, tot),
        z AS (SELECT CAST(SUM(q_raw) AS DOUBLE) AS z FROM w)
        SELECT source, tokens, n_docs,
               ROUND(p, 6) AS natural_share,
               ROUND(CAST(q_raw AS DOUBLE) / z, 6) AS alpha_share,
               ROUND((CAST(q_raw AS DOUBLE) / z) / p, 6) AS upsample_factor
        FROM w, z
    """,
    # the oracle is the direct theta join the binned equi-join replaces
    "join_range_binned": """
        WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                           epoch_us(ts) // 3600000000 AS bin
                    FROM events),
        w AS (SELECT DISTINCT bin AS h FROM ev WHERE bin % 17 = 0)
        SELECT make_timestamp(h * 3600000000) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM ev JOIN w ON us >= h * 3600000000
                      AND us < h * 3600000000 + 5400000000
        GROUP BY 1
    """,
    # batch twin of the foreachBatch upsert: global latest per user by the
    # same zero-padded (epoch-micros, event_id) data-derived order key
    "stream_upsert_latest": """
        WITH e AS (SELECT user_id, event_type, value, ts,
                          printf('%020d-%012d', epoch_us(ts), event_id)
                              AS ord
                   FROM events)
        SELECT user_id,
               arg_max(event_type, ord) AS last_event_type,
               ROUND(arg_max(value, ord), 6) AS last_value,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               arg_max(ts, ord) AS last_ts
        FROM e GROUP BY 1
    """,
    # gaps-and-islands twin of the built-in merging session_window: a gap
    # of exactly 30 min starts a NEW session on both paths; end = last+gap
    "events_session_window_batch": """
        WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events),
        m AS (SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                              OR us - LAG(us) OVER w >= 1800000000
                             THEN 1 ELSE 0 END AS ns
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid
    """,
    # the transposed layout rebuilt row-wise; exact-integer metrics only
    "agg_transpose_summary": """
        WITH s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                          CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                               AS BIGINT) AS value_cents
                   FROM events GROUP BY 1)
        SELECT 'n_events' AS key,
               MAX(CASE WHEN event_type = 'click' THEN n_events END) AS click,
               MAX(CASE WHEN event_type = 'error' THEN n_events END) AS error,
               MAX(CASE WHEN event_type = 'purchase' THEN n_events END) AS purchase,
               MAX(CASE WHEN event_type = 'signup' THEN n_events END) AS signup,
               MAX(CASE WHEN event_type = 'view' THEN n_events END) AS view
        FROM s
        UNION ALL
        SELECT 'n_users',
               MAX(CASE WHEN event_type = 'click' THEN n_users END),
               MAX(CASE WHEN event_type = 'error' THEN n_users END),
               MAX(CASE WHEN event_type = 'purchase' THEN n_users END),
               MAX(CASE WHEN event_type = 'signup' THEN n_users END),
               MAX(CASE WHEN event_type = 'view' THEN n_users END)
        FROM s
        UNION ALL
        SELECT 'value_cents',
               MAX(CASE WHEN event_type = 'click' THEN value_cents END),
               MAX(CASE WHEN event_type = 'error' THEN value_cents END),
               MAX(CASE WHEN event_type = 'purchase' THEN value_cents END),
               MAX(CASE WHEN event_type = 'signup' THEN value_cents END),
               MAX(CASE WHEN event_type = 'view' THEN value_cents END)
        FROM s
    """,
    # explicit form of GROUP BY ALL / ORDER BY ALL
    "sql_group_order_by_all": """
        SELECT c.c_mktsegment,
               o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    """,
    # generic-regex PII detection over per-doc planted contact blocks
    "text_pii_scan": r"""
        WITH blob AS (
          SELECT source,
                 text || ' contact user' || CAST(doc_id % 97 AS VARCHAR) || '@mail'
                      || CAST(doc_id % 13 AS VARCHAR) || '.net tel +44 7'
                      || lpad(CAST((doc_id * 7919 + 13) % 10000000 AS VARCHAR), 7, '0')
                      || ' ip ' || CAST((doc_id * 3 + 7) % 223 + 1 AS VARCHAR)
                      || '.' || CAST((doc_id * 5 + 11) % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7 + 17) % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 11 + 19) % 254 + 1 AS VARCHAR) AS t
          FROM documents),
        red AS (
          SELECT source, t,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                                    '[EMAIL]', 'g'),
                     '\+[0-9]{2} [0-9]{8}', '[PHONE]', 'g'),
                   '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g') AS r,
                 len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS ne,
                 len(regexp_extract_all(t, '\+[0-9]{2} [0-9]{8}')) AS np,
                 len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS ni
          FROM blob)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ne) AS BIGINT) AS n_emails,
               CAST(SUM(np) AS BIGINT) AS n_phones,
               CAST(SUM(ni) AS BIGINT) AS n_ips,
               CAST(SUM(len(t) - len(r)) AS BIGINT) AS chars_redacted
        FROM red GROUP BY source
    """,
    # exact-rank quantile normalization; min/max are picked parquet doubles
    "events_quantile_normalize": """
        WITH ev AS (SELECT event_type, value, event_id FROM events),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
        ranked AS (SELECT event_type, value, event_id,
                          CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                                  ORDER BY value, event_id) AS BIGINT) AS r,
                          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nt
                   FROM ev),
        gv AS (SELECT value,
                      CAST(ROW_NUMBER() OVER (ORDER BY value, event_id) AS BIGINT) AS g
               FROM ev),
        mapped AS (SELECT event_type,
                          1 + (CAST(r - 1 AS HUGEINT) * (n - 1)) // (nt - 1) AS tgt, n
                   FROM ranked, tot WHERE nt > 1),
        norm AS (SELECT event_type, tgt, n, gv.value AS nv
                 FROM mapped JOIN gv ON gv.g = mapped.tgt)
        SELECT event_type,
               CAST(LEAST(9, ((tgt - 1) * 10) // n) AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(nv) AS min_norm, MAX(nv) AS max_norm
        FROM norm GROUP BY 1, 2
    """,
    # oracle is the DIRECT theta join the grid binning replaces
    "join_spatial_grid": """
        WITH c AS (SELECT c_custkey,
                          ((c_custkey % 1000003) * 2654435761) % 1000000 AS cx,
                          (c_custkey * 40503 + 77) % 1000000 AS cy
                   FROM customer),
             s AS (SELECT s_suppkey,
                          (s_suppkey * 97911 + 123) % 1000000 AS sx,
                          (s_suppkey * 31337 + 456) % 1000000 AS sy
                   FROM supplier)
        SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_within,
               CAST(MIN((cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)) AS BIGINT)
                   AS min_dist2
        FROM c JOIN s
          ON (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) <= 625000000
        GROUP BY s_suppkey
    """,
})

# common-neighbor link prediction over the STRICTLY-verified simhash pair
# graph (nibble distance <= 2, one notch tighter than the dedup verify —
# the prediction targets are the pairs the loose threshold would admit)
_ORACLES["dedup_link_prediction"] = f"""
    WITH {_SIMHASH_CTE},
    bands AS (
        SELECT doc_id,
               CAST(b AS VARCHAR) || ':' || substring(simhash, b * 4 + 1, 4) AS band_key
        FROM fp, UNNEST(range(0, 4)) AS t(b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
    e AS (
        SELECT doc_a, doc_b FROM cand
        JOIN fp fa ON doc_a = fa.doc_id
        JOIN fp fb ON doc_b = fb.doc_id
        WHERE {_SIMHASH_DIST} <= 2),
    adj_full AS (SELECT doc_a AS n, doc_b AS nbr FROM e
                 UNION ALL SELECT doc_b, doc_a FROM e),
    -- degree cap 64 in deterministic md5 order: the IDENTICAL capped
    -- graph the Spark side scores (see dedup_link_prediction docstring)
    adj_c AS (SELECT n, nbr FROM (
                SELECT n, nbr,
                       ROW_NUMBER() OVER (
                           PARTITION BY n
                           ORDER BY md5(CAST(n AS VARCHAR) || ':' ||
                                        CAST(nbr AS VARCHAR)), nbr) AS r
                FROM adj_full) WHERE r <= 64),
    -- symmetric cap (r9 advice): the edge must survive BOTH endpoints'
    -- capped lists, so degrees/common/union describe one undirected graph
    adj AS (SELECT x.n, x.nbr FROM adj_c x
            JOIN adj_c y ON x.n = y.nbr AND x.nbr = y.n),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY n),
    wedge AS (SELECT a.nbr AS u, b.nbr AS w, CAST(COUNT(*) AS BIGINT) AS common
              FROM adj a JOIN adj b ON a.n = b.n AND a.nbr < b.nbr
              GROUP BY 1, 2),
    nonedge AS (SELECT u, w, common FROM wedge
                WHERE NOT EXISTS (SELECT 1 FROM e
                                  WHERE doc_a = u AND doc_b = w))
    SELECT u, w, common,
           CAST(du.d + dw.d - common AS BIGINT) AS union_size,
           ROUND(common / (du.d + dw.d - common), 6) AS nbr_jaccard
    FROM nonedge
    JOIN deg du ON du.n = u
    JOIN deg dw ON dw.n = w
    ORDER BY common DESC, u, w LIMIT 50
"""

_ORACLES.update({
    # deepest star join: share numerator/denominator are exact decimal sums
    "q8_market_share": """
        WITH vol AS (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                     AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT o_year,
               ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                     / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share,
               CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS total_volume,
               CAST(COUNT(*) AS BIGINT) AS n_lineitems
        FROM vol GROUP BY o_year
    """,
    # left-outer + double aggregation; COUNT(o_orderkey) keeps the zeros
    "q13_customer_distribution": """
        WITH co AS (
          SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey)
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM co GROUP BY c_count
    """,
    # scalar MAX subquery compared on the EXACT decimal sum
    "q15_top_supplier": """
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,6))) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name,
               CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON s_suppkey = supplier_no
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    # correlated AVG decorrelated to groupBy + re-join; integral doubles
    # make AVG and the 0.2x threshold float-exact on both engines
    "q17_small_quantity_revenue": """
        WITH pk AS (SELECT p_partkey FROM part
                    WHERE p_brand = 'Brand#3' AND p_size < 15),
        li AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
               WHERE l_partkey IN (SELECT p_partkey FROM pk)),
        agg AS (SELECT l_partkey AS a_partkey,
                       CAST(0.2 AS DOUBLE) * AVG(l_quantity) AS small_qty
                FROM li GROUP BY 1)
        SELECT CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)))
                               AS DOUBLE) / CAST(7.0 AS DOUBLE), 2) AS DOUBLE)
                   AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_small
        FROM li JOIN agg ON l_partkey = a_partkey
        WHERE l_quantity < small_qty
    """,
    # group-by-HAVING-IN decorrelated to aggregate-then-join; exact sums
    "q18_large_volume_customer": """
        WITH big AS (
          SELECT l_orderkey AS bok, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 200)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               sum_qty
        FROM big JOIN orders ON bok = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    # EXISTS + NOT EXISTS double correlation (returnflag stands in for
    # the missing receipt/commit dates)
    "q21_suppliers_kept_waiting": """
        WITH l AS (SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem),
        l1 AS (
          SELECT l.l_orderkey, l.l_suppkey, s_name
          FROM l
          JOIN orders ON o_orderkey = l.l_orderkey AND o_orderstatus = 'F'
          JOIN supplier ON s_suppkey = l.l_suppkey
          JOIN nation ON n_nationkey = s_nationkey AND n_regionkey = 2
          WHERE l.l_returnflag = 'R')
        SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM l1
        WHERE EXISTS (SELECT 1 FROM l l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM l l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name LIMIT 100
    """,
    # Pearson r from BIGINT sums; the one double expression is written
    # identically on both engines
    "events_hourly_acf": """
        WITH cnt AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                            CAST(COUNT(*) AS BIGINT) AS c
                     FROM events GROUP BY 1),
        bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM cnt),
        spine AS (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR))
                             AS hr
                  FROM bounds),
        ser AS (SELECT spine.hr, COALESCE(c, 0) AS c
                FROM spine LEFT JOIN cnt ON cnt.hr = spine.hr),
        lags AS (SELECT UNNEST([1, 2, 3, 6, 12, 24]) AS lag),
        pairs AS (SELECT lag, a.c AS x, b.c AS y
                  FROM ser a JOIN lags ON TRUE
                  JOIN ser b ON b.hr = a.hr + INTERVAL 1 HOUR * lag),
        s AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy
              FROM pairs GROUP BY lag)
        SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
               ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))),
                     6) AS acf
        FROM s
    """,
})

# truncated-prefix cosine re-ranking vs the full ranking; outputs are
# pure BIGINT so the hash gate carries no float aggregation
_ORACLES["similarity_matryoshka_error"] = f"""
    WITH {_VEC_CTE},
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    b AS (SELECT UNNEST([8, 16, 32, 64]) AS budget),
    scored AS (
      SELECT b.budget, v.vec_id,
             list_dot_product(list_slice(v.e, 1, b.budget),
                              list_slice(q.qe, 1, b.budget))
               / (sqrt(list_dot_product(list_slice(v.e, 1, b.budget),
                                        list_slice(v.e, 1, b.budget)))
                  * sqrt(list_dot_product(list_slice(q.qe, 1, b.budget),
                                          list_slice(q.qe, 1, b.budget))))
                 AS ct,
             {_COS.format(a='v.e', b='q.qe')} AS cf
      FROM v, q, b WHERE v.vec_id <> 0),
    ranked AS (
      SELECT budget, vec_id,
             ROW_NUMBER() OVER (PARTITION BY budget
                                ORDER BY cf DESC, vec_id) AS rf,
             ROW_NUMBER() OVER (PARTITION BY budget
                                ORDER BY ct DESC, vec_id) AS rt
      FROM scored)
    SELECT CAST(budget AS BIGINT) AS budget,
           CAST(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END)
                AS BIGINT) AS overlap_at_k,
           CAST(SUM(CASE WHEN rf <= 10 THEN ABS(rt - rf) ELSE 0 END)
                AS BIGINT) AS topk_rank_displacement
    FROM ranked GROUP BY 1
"""

# one postings pass feeds both rankers; RRF adds the two reciprocal terms
# in fixed written order
_ORACLES["search_rank_fusion"] = r"""
    WITH tok AS (SELECT doc_id,
                        UNNEST(string_split_regex(lower(trim(text)),
                                                  '\s+')) AS token
                 FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM tok GROUP BY 1),
    stats AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                     CAST(COUNT(*) AS DOUBLE) AS n_docs
              FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE token IN ('join', 'hash', 'window')
           GROUP BY 1, 2),
    dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY 1),
    contrib AS (SELECT tf.doc_id,
                       CAST(ROUND(
                           LN(CAST(1.0 AS DOUBLE)
                              + (n_docs - df + CAST(0.5 AS DOUBLE))
                                / (df + CAST(0.5 AS DOUBLE)))
                           * (tf * (CAST(1.2 AS DOUBLE)
                                    + CAST(1.0 AS DOUBLE)))
                           / (tf + CAST(1.2 AS DOUBLE)
                                   * (CAST(1.0 AS DOUBLE)
                                      - CAST(0.75 AS DOUBLE)
                                      + CAST(0.75 AS DOUBLE)
                                        * (dl.dl / avgdl))), 9)
                           AS DECIMAL(18,9)) AS cb,
                       CAST(ROUND(tf * (LN((n_docs + 1) / (df + 1)) + 1), 9)
                           AS DECIMAL(18,9)) AS ct
                FROM tf JOIN dfq USING (token)
                JOIN dl ON tf.doc_id = dl.doc_id, stats),
    scored AS (SELECT doc_id,
                      ROUND(CAST(SUM(cb) AS DOUBLE), 6) AS bm25,
                      ROUND(CAST(SUM(ct) AS DOUBLE), 6) AS tfidf
               FROM contrib GROUP BY 1),
    rb AS (SELECT doc_id AS doc_bm25,
                  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                       AS BIGINT) AS rank_bm25
           FROM scored QUALIFY rank_bm25 <= 50),
    rt2 AS (SELECT doc_id AS doc_tfidf,
                   CAST(ROW_NUMBER() OVER (ORDER BY tfidf DESC, doc_id)
                        AS BIGINT) AS rank_tfidf
            FROM scored QUALIFY rank_tfidf <= 50)
    SELECT COALESCE(doc_bm25, doc_tfidf) AS doc_id, rank_bm25, rank_tfidf,
           ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_bm25),
                          CAST(0.0 AS DOUBLE))
                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + rank_tfidf),
                            CAST(0.0 AS DOUBLE)), 6) AS rrf
    FROM rb FULL OUTER JOIN rt2 ON doc_bm25 = doc_tfidf
    ORDER BY rrf DESC, doc_id LIMIT 20
"""

_ORACLES.update({
    # Mann-Whitney rank-sum AUC; everything before the one division is
    # BIGINT (doubled midranks so .5s never materialize)
    "eval_auc_rank": """
        WITH ev AS (SELECT event_id, value,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                               AS y
                    FROM events),
        ranked AS (SELECT y,
                          CAST(RANK() OVER (ORDER BY value) AS BIGINT)
                              AS rank_min,
                          CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT)
                              AS ties
                   FROM ev),
        agg AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
                       CAST(SUM(1 - y) AS BIGINT) AS n_neg,
                       CAST(SUM(CASE WHEN y = 1
                                     THEN 2 * rank_min + (ties - 1)
                                     ELSE 0 END) AS BIGINT) AS r_pos_x2
                FROM ranked)
        SELECT n_pos, n_neg, r_pos_x2,
               ROUND((CAST(r_pos_x2 AS DOUBLE) / CAST(2.0 AS DOUBLE)
                      - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE)
                        / CAST(2.0 AS DOUBLE))
                     / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)),
                     6) AS auc
        FROM agg
    """,
    # planted score; p quantized DECIMAL(9,6), Brier terms DECIMAL(18,12)
    "eval_calibration_bins": """
        WITH ev AS (SELECT event_id,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                               AS y
                    FROM events),
        s AS (SELECT y,
                     CAST(ROUND(CAST(CASE WHEN y = 1
                                          THEN 450 + ((event_id % 1000003) * 2654435761
                                                      + 13) % 549
                                          ELSE ((event_id % 1000003) * 2654435761
                                                + 13) % 700 END AS DOUBLE)
                                / CAST(999.0 AS DOUBLE), 6)
                          AS DECIMAL(9,6)) AS p
              FROM ev),
        b AS (SELECT y, p,
                     LEAST(9, CAST(FLOOR(CAST(p AS DOUBLE) * 10) AS BIGINT))
                         AS bin
              FROM s),
        bt AS (SELECT bin, y, p,
                      CAST(ROUND((CAST(p AS DOUBLE) - y)
                                 * (CAST(p AS DOUBLE) - y), 12)
                           AS DECIMAL(18,12)) AS bterm
               FROM b)
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS avg_p,
               ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS frac_pos,
               ROUND(CAST(SUM(bterm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS brier
        FROM bt GROUP BY bin
    """,
})

# MIPS -> cosine norm-augmentation: rank agreement certified on the
# 6-dp-rounded scores both engines share bit-for-bit
_ORACLES["similarity_mips_transform"] = f"""
    WITH {_VEC_CTE},
    q AS (SELECT e AS qe, sqrt(list_dot_product(e, e)) AS qn
          FROM v WHERE vec_id = 0),
    m AS (SELECT MAX(list_dot_product(e, e)) AS m2
          FROM v WHERE vec_id <> 0),
    scored AS (
      SELECT v.vec_id,
             ROUND(list_dot_product(v.e, q.qe), 6) AS dot_score,
             ROUND(list_dot_product(v.e, q.qe)
                   / (sqrt(list_dot_product(v.e, v.e)
                           + sqrt(m2 - list_dot_product(v.e, v.e))
                             * sqrt(m2 - list_dot_product(v.e, v.e)))
                      * q.qn), 6) AS cos_aug
      FROM v, q, m WHERE v.vec_id <> 0),
    ranked AS (SELECT vec_id, dot_score, cos_aug,
                      CAST(ROW_NUMBER() OVER (ORDER BY dot_score DESC, vec_id)
                           AS BIGINT) AS rank_dot,
                      CAST(ROW_NUMBER() OVER (ORDER BY cos_aug DESC, vec_id)
                           AS BIGINT) AS rank_cos
               FROM scored)
    SELECT rank_dot, vec_id, dot_score, cos_aug, rank_cos,
           CAST(CASE WHEN rank_dot = rank_cos THEN 1 ELSE 0 END AS INTEGER)
               AS agree
    FROM ranked WHERE rank_dot <= 10 ORDER BY rank_dot
"""

# unrolled 3-round k=2 peel; degree-at-decision recorded, isolated
# remaining nodes count as degree 0 (the LEFT JOIN + COALESCE)
_ORACLES["dedup_kcore_peel"] = f"""
    WITH {_SIMHASH_CTE},
    bands AS (
        SELECT doc_id,
               CAST(b AS VARCHAR) || ':' || substring(simhash, b * 4 + 1, 4) AS band_key
        FROM fp, UNNEST(range(0, 4)) AS t(b)),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
    e AS MATERIALIZED (
        SELECT doc_a, doc_b FROM cand
        JOIN fp fa ON doc_a = fa.doc_id
        JOIN fp fb ON doc_b = fb.doc_id
        WHERE {_SIMHASH_DIST} <= 3),
    adj0 AS MATERIALIZED (SELECT doc_a AS n, doc_b AS nbr FROM e
             UNION ALL SELECT doc_b, doc_a FROM e),
    nodes0 AS MATERIALIZED (SELECT DISTINCT n AS doc_id FROM adj0),
    deg1 AS MATERIALIZED (SELECT doc_id, CAST(COALESCE(cnt, 0) AS BIGINT) AS d
             FROM nodes0 LEFT JOIN (SELECT n, COUNT(*) AS cnt
                                    FROM adj0 GROUP BY 1) g
               ON g.n = doc_id),
    rm1 AS (SELECT doc_id, d FROM deg1 WHERE d < 2),
    nodes1 AS MATERIALIZED (SELECT doc_id FROM deg1 WHERE d >= 2),
    adj1 AS MATERIALIZED (SELECT a.n, a.nbr FROM adj0 a
             JOIN nodes1 x ON a.n = x.doc_id
             JOIN nodes1 y ON a.nbr = y.doc_id),
    deg2 AS MATERIALIZED (SELECT doc_id, CAST(COALESCE(cnt, 0) AS BIGINT) AS d
             FROM nodes1 LEFT JOIN (SELECT n, COUNT(*) AS cnt
                                    FROM adj1 GROUP BY 1) g
               ON g.n = doc_id),
    rm2 AS (SELECT doc_id, d FROM deg2 WHERE d < 2),
    nodes2 AS MATERIALIZED (SELECT doc_id FROM deg2 WHERE d >= 2),
    adj2 AS MATERIALIZED (SELECT a.n, a.nbr FROM adj1 a
             JOIN nodes2 x ON a.n = x.doc_id
             JOIN nodes2 y ON a.nbr = y.doc_id),
    deg3 AS MATERIALIZED (SELECT doc_id, CAST(COALESCE(cnt, 0) AS BIGINT) AS d
             FROM nodes2 LEFT JOIN (SELECT n, COUNT(*) AS cnt
                                    FROM adj2 GROUP BY 1) g
               ON g.n = doc_id),
    rm3 AS (SELECT doc_id, d FROM deg3 WHERE d < 2),
    nodes3 AS MATERIALIZED (SELECT doc_id FROM deg3 WHERE d >= 2),
    adj3 AS MATERIALIZED (SELECT a.n, a.nbr FROM adj2 a
             JOIN nodes3 x ON a.n = x.doc_id
             JOIN nodes3 y ON a.nbr = y.doc_id),
    degf AS (SELECT doc_id, CAST(COALESCE(cnt, 0) AS BIGINT) AS d
             FROM nodes3 LEFT JOIN (SELECT n, COUNT(*) AS cnt
                                    FROM adj3 GROUP BY 1) g
               ON g.n = doc_id)
    SELECT doc_id, CAST(1 AS BIGINT) AS peeled_round, d AS last_degree
    FROM rm1
    UNION ALL
    SELECT doc_id, CAST(2 AS BIGINT), d FROM rm2
    UNION ALL
    SELECT doc_id, CAST(3 AS BIGINT), d FROM rm3
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT), d FROM degf
"""

# Holt recursion replayed as a recursive CTE; arithmetic order pinned to
# the pandas fold ((a*x) + ((1-a)*(l+t)); (b*(l'-l)) + ((1-b)*t)); the
# one-step error squares into sse BEFORE the update
_ORACLES["events_holt_pandas"] = """
    WITH RECURSIVE cnt AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2),
    o AS (SELECT event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                     AS rn
          FROM cnt),
    h(event_type, rn, l, t, sse) AS (
        SELECT event_type, rn, c, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        FROM o WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               (CAST(0.5 AS DOUBLE) * e.c)
                 + (CAST(0.5 AS DOUBLE) * (h.l + h.t)),
               (CAST(0.3 AS DOUBLE)
                  * (((CAST(0.5 AS DOUBLE) * e.c)
                      + (CAST(0.5 AS DOUBLE) * (h.l + h.t))) - h.l))
                 + (CAST(0.7 AS DOUBLE) * h.t),
               h.sse + ((e.c - (h.l + h.t)) * (e.c - (h.l + h.t)))
        FROM h JOIN o e
          ON e.event_type = h.event_type AND e.rn = h.rn + 1)
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           ROUND(l, 6) AS level, ROUND(t, 6) AS trend,
           ROUND(l + t, 6) AS forecast_next, ROUND(sse, 6) AS sse
    FROM h
    QUALIFY rn = MAX(rn) OVER (PARTITION BY event_type)
"""

# full-outer stream-stream interval join: null-click rows gated by the
# purchase's own event time vs the final watermark, null-purchase rows by
# the click's match-window upper bound (c_ts + 30 min)
_ORACLES["stream_full_outer_interval_join"] = """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
               FROM events),
    c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_event
          FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_event
          FROM e WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(c_ts) FROM c),
                        (SELECT MAX(p_ts) FROM p)) - INTERVAL 1 HOUR AS w),
    j AS (SELECT p.p_user, p.p_ts, p.p_event, c.c_user, c.c_ts, c.c_event
          FROM p FULL OUTER JOIN c
           ON p_user = c_user
          AND c_ts < p_ts
          AND c_ts >= p_ts - INTERVAL 30 MINUTE),
    filt AS (SELECT j.* FROM j, wm
             -- boundary semantics measured on Spark 4.1 (tests/test_streaming.py
             -- ::test_full_outer_interval_join_watermark_boundary): the purchase
             -- side emits its null row when p_ts <= wm (INCLUSIVE), the click
             -- side only when c_ts + 30min < wm (STRICT)
             WHERE (c_event IS NOT NULL AND p_event IS NOT NULL)
                OR (c_event IS NULL AND p_ts <= wm.w)
                OR (p_event IS NULL AND c_ts + INTERVAL 30 MINUTE < wm.w))
    SELECT COALESCE(p_user, c_user) AS user_id,
           CAST(COUNT(DISTINCT p_event) AS BIGINT) AS n_purchases_emitted,
           CAST(SUM(CASE WHEN c_event IS NOT NULL AND p_event IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed_pairs,
           CAST(SUM(CASE WHEN c_event IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_purchases,
           CAST(SUM(CASE WHEN p_event IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_clicks
    FROM filt GROUP BY 1
"""


_ORACLES["eval_ndcg_at_k"] = """
    WITH ev AS (
      SELECT user_id, event_id, value,
             CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
                  WHEN 'view' THEN 1 ELSE 0 END AS rel
      FROM events),
    model AS (
      SELECT user_id, rel,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS pos
      FROM ev),
    ideal AS (
      SELECT user_id, rel,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY rel DESC, value DESC, event_id) AS pos
      FROM ev),
    dcg AS (
      SELECT user_id,
             SUM(CAST(ROUND((POWER(2, rel) - 1) / LOG2(pos + 1), 12)
                      AS DECIMAL(28,12))) AS dcg,
             CAST(COUNT(*) AS BIGINT) AS n_ranked
      FROM model WHERE pos <= 10 GROUP BY 1),
    idcg AS (
      SELECT user_id,
             SUM(CAST(ROUND((POWER(2, rel) - 1) / LOG2(pos + 1), 12)
                      AS DECIMAL(28,12))) AS idcg
      FROM ideal WHERE pos <= 10 GROUP BY 1)
    SELECT d.user_id, d.n_ranked,
           CAST(d.dcg AS DOUBLE) AS dcg,
           CAST(i.idcg AS DOUBLE) AS idcg,
           CASE WHEN i.idcg > 0
                THEN ROUND(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6)
                ELSE 0.0 END AS ndcg_at_k
    FROM dcg d JOIN idcg i USING (user_id)
"""

_ORACLES["eval_rank_correlation"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS rev
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, hr, cnt, rev,
             2 * CAST(RANK() OVER (PARTITION BY event_type ORDER BY cnt)
                      AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY event_type, cnt) AS BIGINT)
               - 1 AS rx,
             2 * CAST(RANK() OVER (PARTITION BY event_type ORDER BY rev)
                      AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY event_type, rev) AS BIGINT)
               - 1 AS ry
      FROM hourly),
    sp AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
             CAST(SUM(rx * ry) AS BIGINT) AS sxy,
             CAST(SUM(rx * rx) AS BIGINT) AS sxx,
             CAST(SUM(ry * ry) AS BIGINT) AS syy
      FROM ranked GROUP BY 1),
    pairs AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN sign(CAST(a.cnt - b.cnt AS DOUBLE))
                              * sign(CAST(a.rev - b.rev AS DOUBLE)) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN sign(CAST(a.cnt - b.cnt AS DOUBLE))
                              * sign(CAST(a.rev - b.rev AS DOUBLE)) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(SUM(CASE WHEN a.cnt = b.cnt AND a.rev <> b.rev
                           THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN a.rev = b.rev AND a.cnt <> b.cnt
                           THEN 1 ELSE 0 END) AS BIGINT) AS ty,
             CAST(SUM(CASE WHEN a.cnt = b.cnt AND a.rev = b.rev
                           THEN 1 ELSE 0 END) AS BIGINT) AS txy
      FROM ranked a JOIN ranked b
        ON a.event_type = b.event_type AND a.hr < b.hr
      GROUP BY 1)
    SELECT sp.event_type, sp.n_hours, pairs.conc, pairs.disc,
           ROUND((CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / SQRT((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS spearman_rho,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / SQRT(CAST(conc + disc + tx + ty + txy - tx - txy AS DOUBLE)
                        * CAST(conc + disc + tx + ty + txy - ty - txy
                               AS DOUBLE)),
                 6) AS kendall_tau_b
    FROM sp JOIN pairs USING (event_type)
"""

_ORACLES["eval_cohens_kappa"] = """
    WITH docs AS (
      SELECT n_chars,
             len(string_split(text, ' ')) AS n_tok,
             len(list_distinct(string_split(text, ' '))) AS n_uniq
      FROM documents),
    labeled AS (
      SELECT CASE WHEN n_chars < 200 THEN 0
                  WHEN n_chars < 350 THEN 1 ELSE 2 END AS a,
             CASE WHEN (n_uniq * 1000) // n_tok < 560 THEN 0
                  WHEN (n_uniq * 1000) // n_tok < 700 THEN 1
                  ELSE 2 END AS b
      FROM docs),
    cells AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM labeled GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
                       AS agree
            FROM cells),
    ma AS (SELECT a, CAST(SUM(c) AS BIGINT) AS na FROM cells GROUP BY 1),
    mb AS (SELECT b AS a, CAST(SUM(c) AS BIGINT) AS nb FROM cells GROUP BY 1),
    chance AS (SELECT CAST(SUM(COALESCE(na, 0) * COALESCE(nb, 0)) AS BIGINT)
                          AS sum_prod
               FROM ma FULL OUTER JOIN mb USING (a))
    SELECT n, agree, sum_prod,
           ROUND(agree / CAST(n AS DOUBLE), 6) AS p_observed,
           ROUND(sum_prod / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS p_expected,
           ROUND((agree / CAST(n AS DOUBLE)
                  - sum_prod / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / (1.0 - sum_prod / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))),
                 6) AS kappa
    FROM tot, chance
"""

_ORACLES["item_item_cf"] = """
    WITH items AS (SELECT DISTINCT l_orderkey AS order_id,
                                   l_partkey AS part_id
                   FROM lineitem),
    io AS (SELECT part_id, CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM items GROUP BY 1),
    pairs AS (
      SELECT a.part_id AS part_a, b.part_id AS part_b,
             CAST(COUNT(*) AS BIGINT) AS cooc
      FROM items a JOIN items b
        ON a.order_id = b.order_id AND a.part_id < b.part_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
    sym AS (SELECT part_a, part_b, cooc FROM pairs
            UNION ALL
            SELECT part_b AS part_a, part_a AS part_b, cooc FROM pairs),
    scored AS (
      SELECT sym.part_a AS part_id, sym.part_b AS neighbor_id, cooc,
             ROUND(cooc / SQRT(CAST(na.n_orders * nb.n_orders AS DOUBLE)), 6)
                 AS cosine
      FROM sym JOIN io na ON na.part_id = sym.part_a
               JOIN io nb ON nb.part_id = sym.part_b)
    SELECT part_id, neighbor_id, cooc, cosine, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY part_id
                                       ORDER BY cosine DESC, cooc DESC,
                                                neighbor_id) AS rk
          FROM scored)
    WHERE rk <= 3
"""

_ORACLES["search_phrase_positional"] = """
    WITH postings AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    p1 AS (SELECT doc_id, lang, CAST(pos AS BIGINT) AS pos_a
           FROM postings WHERE term = 'fast'),
    p2 AS (SELECT doc_id AS doc_b, CAST(pos AS BIGINT) AS pos_b
           FROM postings WHERE term = 'table')
    SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(pos_a) AS BIGINT) AS first_pos
    FROM p1 JOIN p2 ON doc_id = doc_b AND pos_b = pos_a + 1
    GROUP BY 1, 2
"""

_ORACLES["eval_mrr_hit_rate"] = """
    WITH ev AS (
      SELECT user_id, event_id, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    topk AS (
      SELECT user_id, y, pos FROM (
        SELECT user_id, y,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS pos
        FROM ev)
      WHERE pos <= 10),
    pu AS (SELECT user_id,
                  MIN(CASE WHEN y = 1 THEN pos END) AS first_rel
           FROM topk GROUP BY 1),
    rr AS (SELECT first_rel,
                  CAST(CASE WHEN first_rel IS NOT NULL
                            THEN ROUND(CAST(1 AS DOUBLE) / first_rel, 12)
                            ELSE 0.0 END AS DECIMAL(28,12)) AS rr
           FROM pu)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(CAST(SUM(rr) AS DOUBLE) / COUNT(*), 6) AS mrr_at_k,
           ROUND(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hit_rate_at_k
    FROM rr
"""

_ORACLES["eval_ips_offpolicy"] = """
    WITH ev AS (
      SELECT event_type,
             ((event_id % 1000003) * 2654435761 + 13) AS mixed,
             CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS r
      FROM events),
    sc AS (
      SELECT event_type, r,
             CAST(ROUND(CAST(200 + (mixed % 500) AS DOUBLE)
                        / CAST(1000 AS DOUBLE), 6) AS DECIMAL(9,6)) AS p_log,
             CAST(ROUND(CASE WHEN event_type = 'purchase'
                             THEN CAST(500 + (mixed % 499) AS DOUBLE)
                             ELSE CAST(100 + (mixed % 400) AS DOUBLE) END
                        / CAST(1000 AS DOUBLE), 6) AS DECIMAL(9,6)) AS p_tgt
      FROM ev),
    wt AS (
      SELECT event_type,
             CAST(ROUND(LEAST(CAST(10 AS DOUBLE),
                              CAST(p_tgt AS DOUBLE) / CAST(p_log AS DOUBLE)),
                        12) AS DECIMAL(28,12)) AS w,
             CAST(ROUND(LEAST(CAST(10 AS DOUBLE),
                              CAST(p_tgt AS DOUBLE) / CAST(p_log AS DOUBLE))
                        * CAST(r AS DOUBLE), 12) AS DECIMAL(28,12)) AS wr
      FROM sc)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(w) AS DOUBLE), 6) AS sum_w,
           ROUND(CAST(SUM(wr) AS DOUBLE) / COUNT(*), 6) AS ips_value,
           ROUND(CAST(SUM(wr) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6)
               AS snips_value
    FROM wt GROUP BY 1
"""

_ORACLES["events_bootstrap_ci"] = """
    WITH ev AS (SELECT event_type, event_id,
                       CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v
                FROM events),
    ex AS (SELECT event_type, v, b,
                  ((event_id % 1000003) * 2654435761 + b * 97911 + 13) % 1000 AS u
           FROM ev, UNNEST(range(0, 32)) AS t(b)),
    wgt AS (SELECT event_type, v, b,
                   CAST(CASE WHEN u < 368 THEN 0 WHEN u < 736 THEN 1
                             WHEN u < 920 THEN 2 WHEN u < 981 THEN 3
                             WHEN u < 996 THEN 4 ELSE 5 END AS BIGINT) AS w
            FROM ex),
    reps AS (SELECT event_type, b,
                    CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                        AS mean_b
             FROM wgt GROUP BY 1, 2),
    stats AS (SELECT event_type,
                     MAX(CASE WHEN rk = 2 THEN mean_b END) AS lo,
                     MAX(CASE WHEN rk = 31 THEN mean_b END) AS hi
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                                 ORDER BY mean_b) AS rk
                    FROM reps)
              GROUP BY 1),
    pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(v) AS DOUBLE) / COUNT(*) AS pm
           FROM ev GROUP BY 1)
    SELECT pt.event_type, n,
           ROUND(pm, 6) AS point_mean,
           ROUND(lo, 6) AS ci_lo,
           ROUND(hi, 6) AS ci_hi
    FROM pt JOIN stats USING (event_type)
"""

_ORACLES["sample_negative_pairs"] = """
    WITH pos AS (SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    np AS (SELECT CAST(MAX(p_partkey) + 1 AS BIGINT) AS np FROM part),
    cand AS (SELECT DISTINCT custkey,
                    ((custkey % 1000003) * 2654435761 + j * 40503 + partkey * 97911 + 7)
                        % np AS cand_part
             FROM pos, np, UNNEST(range(0, 2)) AS t(j)),
    neg AS (SELECT c.custkey, c.cand_part FROM cand c
            LEFT JOIN pos p
              ON p.custkey = c.custkey AND p.partkey = c.cand_part
            WHERE p.partkey IS NULL),
    a AS (SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_pos
          FROM pos GROUP BY 1),
    b AS (SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_cand
          FROM cand GROUP BY 1),
    c2 AS (SELECT custkey, CAST(COUNT(*) AS BIGINT) AS n_neg
           FROM neg GROUP BY 1)
    SELECT a.custkey, n_pos, n_cand,
           CAST(COALESCE(n_neg, 0) AS BIGINT) AS n_neg
    FROM a JOIN b USING (custkey) LEFT JOIN c2 USING (custkey)
"""

_ORACLES["audit_referential_integrity"] = """
    WITH e AS (
      SELECT 'lineitem.orderkey->orders' AS fk_name,
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
             CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT) AS n_orphans
      UNION ALL
      SELECT 'lineitem.partkey->part',
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'lineitem.suppkey->supplier',
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'orders.custkey->customer',
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'customer.nationkey->nation',
             CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
             CAST((SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
                   (SELECT 1 FROM nation n
                    WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
      UNION ALL
      SELECT 'supplier.nationkey->nation',
             CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
             CAST((SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
                   (SELECT 1 FROM nation n
                    WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
      UNION ALL
      SELECT 'nation.regionkey->region',
             CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
             CAST((SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
                   (SELECT 1 FROM region r
                    WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
      UNION ALL
      SELECT 'events.user_id->customer',
             CAST((SELECT COUNT(*) FROM events) AS BIGINT),
             CAST((SELECT COUNT(*) FROM events e2 WHERE NOT EXISTS
                   (SELECT 1 FROM customer c
                    WHERE c.c_custkey = e2.user_id)) AS BIGINT))
    SELECT fk_name, n_rows, n_orphans,
           (n_orphans * 1000000) // n_rows AS orphan_ppm
    FROM e
"""

_ORACLES["text_dictionary_tagging"] = """
    WITH dict(term, category) AS (VALUES
      ('fast','perf'), ('slow','perf'), ('big','perf'), ('small','perf'),
      ('table','sql'), ('join','sql'), ('scan','sql'), ('filter','sql'),
      ('agg','sql'), ('query','sql'),
      ('spark','infra'), ('stream','infra'), ('batch','infra')),
    toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents)
    SELECT doc_id, category,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_distinct_terms
    FROM toks JOIN dict USING (term)
    GROUP BY 1, 2
"""

_ORACLES["events_global_rank_two_phase"] = """
    WITH ev AS (SELECT event_id,
                       CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v
                FROM events),
    ranked AS (SELECT v,
                      CAST(ROW_NUMBER() OVER (ORDER BY v, event_id) AS BIGINT)
                          AS global_rank
               FROM ev),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev)
    SELECT ((global_rank - 1) * 10) // n AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(global_rank) AS BIGINT) AS sum_rank,
           CAST(MIN(v) AS DOUBLE) AS min_v, CAST(MAX(v) AS DOUBLE) AS max_v
    FROM ranked, tot GROUP BY 1
"""

_ORACLES["agg_weighted_median"] = """
    WITH li AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                       l_extendedprice AS price, l_orderkey, l_linenumber
                FROM lineitem),
    cum AS (SELECT l_returnflag, q, price,
                   CAST(SUM(q) OVER (PARTITION BY l_returnflag
                                     ORDER BY price, l_orderkey, l_linenumber
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT) AS cumw,
                   CAST(SUM(q) OVER (PARTITION BY l_returnflag) AS BIGINT)
                       AS total_qty,
                   CAST(COUNT(*) OVER (PARTITION BY l_returnflag) AS BIGINT)
                       AS n_lines
            FROM li)
    SELECT l_returnflag, MAX(total_qty) AS total_qty,
           MIN(price) AS median_price, MAX(n_lines) AS n_lines
    FROM cum WHERE 2 * cumw >= total_qty GROUP BY 1
"""

_ORACLES["eval_conformal_interval"] = """
    WITH ev AS (SELECT event_type, event_id,
                       CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v,
                       (((event_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS is_calib
                FROM events),
    model AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_calib,
                     CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mu
              FROM ev WHERE is_calib GROUP BY 1),
    scored AS (SELECT e.event_type, e.event_id, m.n_calib,
                      ABS(CAST(e.v AS DOUBLE) - m.mu) AS s
               FROM ev e JOIN model m USING (event_type) WHERE e.is_calib),
    q AS (SELECT event_type, k, s AS q_hat FROM (
            SELECT event_type, n_calib,
                   ((n_calib + 1) * 900 + 999) // 1000 AS k,
                   s,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY s, event_id) AS rk
            FROM scored)
          WHERE rk = LEAST(k, n_calib)),
    cov AS (SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN ABS(CAST(e.v AS DOUBLE) - m.mu)
                                      <= q.q_hat
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM ev e JOIN model m USING (event_type)
                      JOIN q USING (event_type)
            WHERE NOT e.is_calib GROUP BY 1)
    SELECT m.event_type, m.n_calib, c.n_test,
           CAST(q.k AS BIGINT) AS k_rank,
           ROUND(m.mu, 6) AS mu,
           ROUND(q.q_hat, 6) AS q_hat,
           ROUND(c.n_covered / CAST(c.n_test AS DOUBLE), 6) AS coverage
    FROM model m JOIN q USING (event_type) JOIN cov c USING (event_type)
"""

_ORACLES["agg_join_size_sketch"] = """
    WITH o AS (SELECT o_custkey AS k FROM orders),
    e AS (SELECT user_id AS k FROM events),
    params(row_i, a, b) AS (VALUES (0, 2654435761, 13), (1, 97911, 101),
                                   (2, 40503, 7), (3, 31337, 29)),
    so AS (SELECT CAST(row_i AS BIGINT) AS row_i,
                  (((k % 1000003) * a + b) % 2147483647) % 1024 AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS c
           FROM o, params GROUP BY 1, 2),
    se AS (SELECT CAST(row_i AS BIGINT) AS row_i,
                  (((k % 1000003) * a + b) % 2147483647) % 1024 AS bucket,
                  CAST(COUNT(*) AS BIGINT) AS c2
           FROM e, params GROUP BY 1, 2),
    er AS (SELECT so.row_i, CAST(SUM(c * c2) AS BIGINT) AS est
           FROM so JOIN se USING (row_i, bucket) GROUP BY 1),
    est AS (SELECT CAST(MIN(est) AS BIGINT) AS est_size,
                   CAST(MAX(est) AS BIGINT) AS est_max FROM er),
    fo AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS f1 FROM o GROUP BY 1),
    fe AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS f2 FROM e GROUP BY 1),
    ex AS (SELECT CAST(SUM(f1 * f2) AS BIGINT) AS exact_size
           FROM fo JOIN fe USING (k))
    SELECT exact_size, est_size, est_max,
           ((est_size - exact_size) * 1000000) // exact_size
               AS overestimate_ppm
    FROM ex, est
"""

_ORACLES["eval_map_at_k"] = """
    WITH ev AS (SELECT user_id, event_id, value,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
    rt AS (SELECT user_id, CAST(SUM(y) AS BIGINT) AS r_total
           FROM ev GROUP BY 1),
    topk AS (SELECT user_id, y, pos FROM (
               SELECT user_id, y,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY value DESC, event_id) AS pos
               FROM ev) WHERE pos <= 10),
    hits AS (SELECT user_id, pos,
                    ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY pos) AS hit_rank
             FROM topk WHERE y = 1),
    pu AS (SELECT user_id,
                  SUM(CAST(ROUND(CAST(hit_rank AS DOUBLE)
                                 / CAST(pos AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS sum_prec,
                  CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM hits GROUP BY 1),
    ap AS (SELECT rt.user_id,
                  CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
                  CAST(ROUND(COALESCE(CAST(sum_prec AS DOUBLE), 0.0)
                             / CAST(LEAST(r_total, 10) AS DOUBLE), 12)
                       AS DECIMAL(28,12)) AS ap
           FROM rt LEFT JOIN pu USING (user_id) WHERE r_total > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_eval,
           CAST(SUM(n_hits) AS BIGINT) AS sum_hits,
           ROUND(CAST(SUM(ap) AS DOUBLE) / COUNT(*), 6) AS map_at_k
    FROM ap
"""

_ORACLES["sample_neyman_allocation"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v
                FROM events),
    per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_h,
                   SUM(v) AS sv, SUM(v * v) AS svv
            FROM ev GROUP BY 1),
    wtd AS (SELECT event_type, n_h, sv,
                   CAST(ROUND(CAST(n_h AS DOUBLE)
                              * SQRT((CAST(svv AS DOUBLE)
                                      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                                        / CAST(n_h AS DOUBLE))
                                     / CAST(n_h - 1 AS DOUBLE)), 6)
                        AS DECIMAL(28,6)) AS nhsh,
                   ROUND(SQRT((CAST(svv AS DOUBLE)
                               - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                                 / CAST(n_h AS DOUBLE))
                              / CAST(n_h - 1 AS DOUBLE)), 6) AS s_h
            FROM per),
    tot AS (SELECT SUM(nhsh) AS sum_nhsh FROM wtd)
    SELECT event_type, n_h,
           ROUND(CAST(sv AS DOUBLE) / n_h, 6) AS mean_v,
           s_h,
           CAST(FLOOR(CAST(1000 AS DOUBLE) * CAST(nhsh AS DOUBLE)
                      / CAST(sum_nhsh AS DOUBLE)) AS BIGINT) AS alloc
    FROM wtd, tot
"""

_ORACLES["events_changepoint_binseg"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    pref AS (
      SELECT event_type, hr,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                  AS BIGINT) AS t,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY hr
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS ps,
             CAST(SUM(c * c) OVER (PARTITION BY event_type ORDER BY hr
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT) AS pss,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS ts_,
             CAST(SUM(c * c) OVER (PARTITION BY event_type) AS BIGINT) AS tss
      FROM hourly),
    scored AS (
      SELECT event_type, hr, n,
             CAST(tss AS DOUBLE)
               - CAST(ts_ AS DOUBLE) * CAST(ts_ AS DOUBLE)
                 / CAST(n AS DOUBLE) AS sse_all,
             (CAST(pss AS DOUBLE)
                - CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE)
                  / CAST(t AS DOUBLE))
             + (CAST(tss - pss AS DOUBLE)
                - CAST(ts_ - ps AS DOUBLE) * CAST(ts_ - ps AS DOUBLE)
                  / CAST(n - t AS DOUBLE)) AS sse_split
      FROM pref WHERE t < n)
    SELECT event_type,
           n AS n_hours,
           hr AS split_hr,
           ROUND(sse_all, 6) AS sse_total,
           ROUND(sse_split, 6) AS sse_split,
           ROUND(sse_all - sse_split, 6) AS gain
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY sse_split, hr) AS rk
          FROM scored)
    WHERE rk = 1
"""

_ORACLES["events_diff_in_diff"] = """
    WITH ev AS (SELECT CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v,
                       (((user_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS treat,
                       CAST(ts AS TIMESTAMP)
                           >= TIMESTAMP '2024-01-16 00:00:00' AS post
                FROM events),
    agg AS (SELECT
      CAST(SUM(CASE WHEN treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT)
          AS n_t_pre,
      CAST(SUM(CASE WHEN treat AND post THEN 1 ELSE 0 END) AS BIGINT)
          AS n_t_post,
      CAST(SUM(CASE WHEN NOT treat AND NOT post THEN 1 ELSE 0 END) AS BIGINT)
          AS n_c_pre,
      CAST(SUM(CASE WHEN NOT treat AND post THEN 1 ELSE 0 END) AS BIGINT)
          AS n_c_post,
      SUM(CASE WHEN treat AND NOT post THEN v
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_t_pre,
      SUM(CASE WHEN treat AND post THEN v
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_t_post,
      SUM(CASE WHEN NOT treat AND NOT post THEN v
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_c_pre,
      SUM(CASE WHEN NOT treat AND post THEN v
               ELSE CAST(0 AS DECIMAL(18,2)) END) AS s_c_post
      FROM ev)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           ROUND(CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE), 6)
               AS mean_t_pre,
           ROUND(CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE), 6)
               AS mean_t_post,
           ROUND(CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE), 6)
               AS mean_c_pre,
           ROUND(CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE), 6)
               AS mean_c_post,
           ROUND((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
                  - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
                 - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
                    - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)),
                 6) AS did
    FROM agg
"""

_ORACLES["stream_state_inspect"] = """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
"""

_ORACLES["text_bpe_word_merges"] = """
    WITH d0 AS (SELECT doc_id,
                       ' ' || replace(text, ' ', '  ') || ' ' AS work
                FROM documents),
    tk0 AS (SELECT doc_id,
                   unnest(string_split(trim(work), '  ')) AS tok,
                   generate_subscripts(string_split(trim(work), '  '), 1)
                       AS pos
            FROM d0),
    pr0 AS (SELECT a.tok AS x, b.tok AS y, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tk0 a JOIN tk0 b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY 1, 2),
    b0 AS (SELECT x, y, cnt FROM pr0 ORDER BY cnt DESC, x, y LIMIT 1),
    d1 AS (SELECT doc_id,
                  replace(work, ' ' || x || '  ' || y || ' ',
                                ' ' || x || '@' || y || ' ') AS work
           FROM d0, b0),
    tk1 AS (SELECT doc_id,
                   unnest(string_split(trim(work), '  ')) AS tok,
                   generate_subscripts(string_split(trim(work), '  '), 1)
                       AS pos
            FROM d1),
    pr1 AS (SELECT a.tok AS x, b.tok AS y, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tk1 a JOIN tk1 b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY 1, 2),
    b1 AS (SELECT x, y, cnt FROM pr1 ORDER BY cnt DESC, x, y LIMIT 1),
    d2 AS (SELECT doc_id,
                  replace(work, ' ' || x || '  ' || y || ' ',
                                ' ' || x || '@' || y || ' ') AS work
           FROM d1, b1),
    tk2 AS (SELECT doc_id,
                   unnest(string_split(trim(work), '  ')) AS tok,
                   generate_subscripts(string_split(trim(work), '  '), 1)
                       AS pos
            FROM d2),
    pr2 AS (SELECT a.tok AS x, b.tok AS y, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tk2 a JOIN tk2 b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY 1, 2),
    b2 AS (SELECT x, y, cnt FROM pr2 ORDER BY cnt DESC, x, y LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS iter, x AS left_tok, y AS right_tok,
           cnt AS n_occurrences FROM b0
    UNION ALL
    SELECT CAST(2 AS BIGINT), x, y, cnt FROM b1
    UNION ALL
    SELECT CAST(3 AS BIGINT), x, y, cnt FROM b2
"""

_ORACLES["sales_hierarchy_share"] = """
    WITH rev AS (SELECT r_name AS region, n_name AS nation,
                        CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS price
                 FROM orders JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
                      JOIN region ON n_regionkey = r_regionkey),
    rolled AS (SELECT region, nation, SUM(price) AS revenue,
                      CAST(GROUPING(region, nation) AS BIGINT) AS gid
               FROM rev GROUP BY ROLLUP(region, nation)),
    wp AS (SELECT *,
                  CASE WHEN gid = 0
                       THEN MAX(CASE WHEN gid = 1 THEN revenue END)
                            OVER (PARTITION BY region)
                       WHEN gid = 1
                       THEN MAX(CASE WHEN gid = 3 THEN revenue END) OVER ()
                       ELSE revenue END AS parent
           FROM rolled)
    SELECT CAST(CASE WHEN gid = 3 THEN 0 WHEN gid = 1 THEN 1
                     ELSE 2 END AS BIGINT) AS lvl,
           COALESCE(region, 'ALL') AS region,
           COALESCE(nation, 'ALL') AS nation,
           CAST(revenue AS DOUBLE) AS revenue,
           ROUND(CAST(revenue AS DOUBLE) / CAST(parent AS DOUBLE), 6)
               AS pct_of_parent
    FROM wp
"""

_ORACLES["text_heaps_law"] = """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    td AS (SELECT (doc_id * 10) // nd AS decile,
                  CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM toks, nd GROUP BY 1),
    fo AS (SELECT term, MIN(doc_id) AS first_doc FROM toks GROUP BY 1),
    nt AS (SELECT (first_doc * 10) // nd AS decile,
                  CAST(COUNT(*) AS BIGINT) AS new_terms
           FROM fo, nd GROUP BY 1)
    SELECT td.decile, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY td.decile
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
           CAST(COALESCE(new_terms, 0) AS BIGINT) AS new_terms,
           CAST(SUM(COALESCE(new_terms, 0))
                OVER (ORDER BY td.decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab
    FROM td LEFT JOIN nt USING (decile)
"""

_ORACLES["eval_multiclass_prf"] = """
    WITH docs AS (SELECT n_chars,
                         len(string_split(text, ' ')) AS n_tok,
                         len(list_distinct(string_split(text, ' ')))
                             AS n_uniq
                  FROM documents),
    lab AS (SELECT CASE WHEN n_chars < 200 THEN 0
                        WHEN n_chars < 350 THEN 1 ELSE 2 END AS truth,
                   CASE WHEN (n_uniq * 1000) // n_tok < 560 THEN 0
                        WHEN (n_uniq * 1000) // n_tok < 700 THEN 1
                        ELSE 2 END AS pred
            FROM docs),
    cells AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS c
              FROM lab GROUP BY 1, 2),
    cls AS (SELECT * FROM (VALUES (0), (1), (2)) t(cls)),
    tpfn AS (SELECT truth AS cls,
                    CAST(SUM(CASE WHEN pred = truth THEN c ELSE 0 END)
                         AS BIGINT) AS tp,
                    CAST(SUM(CASE WHEN pred <> truth THEN c ELSE 0 END)
                         AS BIGINT) AS fn
             FROM cells GROUP BY 1),
    fps AS (SELECT pred AS cls, CAST(SUM(c) AS BIGINT) AS fp
            FROM cells WHERE pred <> truth GROUP BY 1),
    st AS (SELECT CAST(cls.cls AS BIGINT) AS cls,
                  CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
                  CAST(COALESCE(fp, 0) AS BIGINT) AS fp,
                  CAST(COALESCE(fn, 0) AS BIGINT) AS fn
           FROM cls LEFT JOIN tpfn USING (cls) LEFT JOIN fps USING (cls))
    SELECT cls, tp, fp, fn,
           ROUND(CASE WHEN tp + fp > 0
                      THEN tp / CAST(tp + fp AS DOUBLE)
                      ELSE 0.0 END, 6) AS "precision",
           ROUND(CASE WHEN tp + fn > 0
                      THEN tp / CAST(tp + fn AS DOUBLE)
                      ELSE 0.0 END, 6) AS recall,
           ROUND(CASE WHEN 2 * tp + fp + fn > 0
                      THEN CAST(2 AS DOUBLE) * tp
                           / CAST(2 * tp + fp + fn AS DOUBLE)
                      ELSE 0.0 END, 6) AS f1
    FROM st
"""

_ORACLES["eval_pinball_loss"] = """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    calib AS (SELECT * FROM hourly
              WHERE hr < TIMESTAMP '2024-01-16 00:00:00'),
    test AS (SELECT * FROM hourly
             WHERE hr >= TIMESTAMP '2024-01-16 00:00:00'),
    nc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_calib
           FROM calib GROUP BY 1),
    ranked AS (SELECT calib.event_type, c, n_calib,
                      CAST(ROW_NUMBER() OVER (PARTITION BY calib.event_type
                                              ORDER BY c, hr) AS BIGINT)
                          AS rk,
                      (n_calib * 900 + 999) // 1000 AS k
               FROM calib JOIN nc USING (event_type)),
    q AS (SELECT event_type, n_calib, c AS q_hat
          FROM ranked WHERE rk = k)
    SELECT test.event_type,
           MAX(n_calib) AS n_calib,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           MAX(q_hat) AS q_hat,
           CAST(SUM(CASE WHEN c >= q_hat THEN 9 * (c - q_hat)
                         ELSE 1 * (q_hat - c) END) AS BIGINT)
               AS sum_pinball_x10,
           ROUND(SUM(CASE WHEN c <= q_hat THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS frac_covered
    FROM test JOIN q USING (event_type)
    GROUP BY 1
"""

_ORACLES["graph_degree_powerlaw"] = """
    WITH items AS (SELECT DISTINCT l_orderkey AS order_id,
                                   l_partkey AS part_id
                   FROM lineitem),
    edges AS (SELECT DISTINCT a.part_id AS pa, b.part_id AS pb
              FROM items a JOIN items b
                ON a.order_id = b.order_id AND a.part_id < b.part_id),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT pa AS node FROM edges
              UNION ALL SELECT pb FROM edges) GROUP BY 1),
    hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS freq
             FROM deg GROUP BY 1),
    pt AS (SELECT
             CAST(ROUND(ln(CAST(d AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
             CAST(ROUND(ln(CAST(freq AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
             CAST(ROUND(ln(CAST(d AS DOUBLE)) * ln(CAST(d AS DOUBLE)), 12)
                  AS DECIMAL(28,12)) AS xx,
             CAST(ROUND(ln(CAST(d AS DOUBLE)) * ln(CAST(freq AS DOUBLE)), 12)
                  AS DECIMAL(28,12)) AS xy
           FROM hist),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(xx) AS sxx, SUM(xy) AS sxy
            FROM pt),
    cnts AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes)
    SELECT n_nodes, n_edges, n_points,
           ROUND((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_points AS DOUBLE), 6) AS intercept
    FROM cnts, tot
"""

_ORACLES["join_asof_nearest"] = """
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                       event_type
                FROM events WHERE event_type IN ('click', 'purchase')),
    marked AS (SELECT user_id, ts, event_type,
                      MAX(CASE WHEN event_type = 'click' THEN ts END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS back_ts,
                      MIN(CASE WHEN event_type = 'click' THEN ts END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN 1 FOLLOWING
                                     AND UNBOUNDED FOLLOWING) AS fwd_ts
               FROM ev),
    p AS (SELECT user_id,
                 epoch_us(ts) - epoch_us(back_ts) AS gap_back,
                 epoch_us(fwd_ts) - epoch_us(ts) AS gap_fwd
          FROM marked WHERE event_type = 'purchase')
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN gap_back IS NOT NULL
                          AND (gap_fwd IS NULL OR gap_back <= gap_fwd)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_back,
           CAST(SUM(CASE WHEN gap_fwd IS NOT NULL
                          AND (gap_back IS NULL OR gap_fwd < gap_back)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fwd,
           CAST(SUM(CASE WHEN gap_back IS NULL AND gap_fwd IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_none,
           CAST(SUM(CASE WHEN gap_back IS NOT NULL
                          AND (gap_fwd IS NULL OR gap_back <= gap_fwd)
                         THEN gap_back
                         WHEN gap_fwd IS NOT NULL
                          AND (gap_back IS NULL OR gap_fwd < gap_back)
                         THEN gap_fwd
                         ELSE 0 END) AS BIGINT) AS sum_gap_us
    FROM p GROUP BY 1
"""

_ORACLES["sample_kcenter_coreset"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    n AS (SELECT vec_id, e, list_dot_product(e, e) AS n2 FROM v),
    c0 AS (SELECT vec_id, e, n2 FROM n
           WHERE vec_id = (SELECT MIN(vec_id) FROM n)),
    s1 AS (SELECT a.vec_id,
                  MIN(ROUND(a.n2 + c.n2 - 2 * list_dot_product(a.e, c.e), 12))
                      AS dist2
           FROM n a, c0 c
           WHERE a.vec_id <> c.vec_id
             AND a.vec_id NOT IN (SELECT vec_id FROM c0)
           GROUP BY 1),
    b1 AS (SELECT s1.vec_id, dist2, e, n2 FROM s1 JOIN n USING (vec_id)
           ORDER BY dist2 DESC, s1.vec_id LIMIT 1),
    ch1 AS (SELECT vec_id, e, n2 FROM c0
            UNION ALL SELECT vec_id, e, n2 FROM b1),
    s2 AS (SELECT a.vec_id,
                  MIN(ROUND(a.n2 + c.n2 - 2 * list_dot_product(a.e, c.e), 12))
                      AS dist2
           FROM n a, ch1 c
           WHERE a.vec_id <> c.vec_id
             AND a.vec_id NOT IN (SELECT vec_id FROM ch1)
           GROUP BY 1),
    b2 AS (SELECT s2.vec_id, dist2, e, n2 FROM s2 JOIN n USING (vec_id)
           ORDER BY dist2 DESC, s2.vec_id LIMIT 1),
    ch2 AS (SELECT vec_id, e, n2 FROM ch1
            UNION ALL SELECT vec_id, e, n2 FROM b2),
    s3 AS (SELECT a.vec_id,
                  MIN(ROUND(a.n2 + c.n2 - 2 * list_dot_product(a.e, c.e), 12))
                      AS dist2
           FROM n a, ch2 c
           WHERE a.vec_id <> c.vec_id
             AND a.vec_id NOT IN (SELECT vec_id FROM ch2)
           GROUP BY 1),
    b3 AS (SELECT s3.vec_id, dist2, e, n2 FROM s3 JOIN n USING (vec_id)
           ORDER BY dist2 DESC, s3.vec_id LIMIT 1),
    ch3 AS (SELECT vec_id, e, n2 FROM ch2
            UNION ALL SELECT vec_id, e, n2 FROM b3),
    s4 AS (SELECT a.vec_id,
                  MIN(ROUND(a.n2 + c.n2 - 2 * list_dot_product(a.e, c.e), 12))
                      AS dist2
           FROM n a, ch3 c
           WHERE a.vec_id <> c.vec_id
             AND a.vec_id NOT IN (SELECT vec_id FROM ch3)
           GROUP BY 1),
    b4 AS (SELECT s4.vec_id, dist2 FROM s4
           ORDER BY dist2 DESC, s4.vec_id LIMIT 1)
    SELECT CAST(0 AS BIGINT) AS round, vec_id, 0.0 AS dist2_to_set FROM c0
    UNION ALL SELECT CAST(1 AS BIGINT), vec_id, ROUND(dist2, 6) FROM b1
    UNION ALL SELECT CAST(2 AS BIGINT), vec_id, ROUND(dist2, 6) FROM b2
    UNION ALL SELECT CAST(3 AS BIGINT), vec_id, ROUND(dist2, 6) FROM b3
    UNION ALL SELECT CAST(4 AS BIGINT), vec_id, ROUND(dist2, 6) FROM b4
"""

_ORACLES["events_power_analysis"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value, 2) AS DECIMAL(18,2)) AS v
                FROM events),
    per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
                   SUM(v) AS sv, SUM(v * v) AS svv
            FROM ev GROUP BY 1)
    SELECT event_type, n_obs,
           ROUND(CAST(sv AS DOUBLE) / CAST(n_obs AS DOUBLE), 6) AS mean_v,
           ROUND((CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                    / CAST(n_obs AS DOUBLE))
                 / CAST(n_obs - 1 AS DOUBLE), 6) AS var_v,
           CAST(CEIL(CAST(2 AS DOUBLE)
                     * ((CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                           / CAST(n_obs AS DOUBLE))
                        / CAST(n_obs - 1 AS DOUBLE))
                     * 7.848878512225001
                     / ((CAST(0.02 AS DOUBLE)
                         * (CAST(sv AS DOUBLE) / CAST(n_obs AS DOUBLE)))
                        * (CAST(0.02 AS DOUBLE)
                           * (CAST(sv AS DOUBLE) / CAST(n_obs AS DOUBLE)))))
                AS BIGINT) AS n_per_arm
    FROM per
"""

_ORACLES["eval_qini_uplift"] = """
    WITH ev AS (SELECT event_id, value,
                       (((user_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS treat,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS y
                FROM events),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
    ranked AS (SELECT treat, y,
                      CAST(ROW_NUMBER() OVER (ORDER BY value DESC, event_id)
                           AS BIGINT) AS rk
               FROM ev),
    per_dec AS (SELECT ((rk - 1) * 10) // n AS decile,
                       CAST(SUM(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_t,
                       CAST(SUM(CASE WHEN NOT treat THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_c,
                       CAST(SUM(CASE WHEN treat THEN y ELSE 0 END) AS BIGINT)
                           AS y_t,
                       CAST(SUM(CASE WHEN NOT treat THEN y ELSE 0 END)
                            AS BIGINT) AS y_c
                FROM ranked, tot GROUP BY 1),
    cum AS (SELECT decile, n_t, n_c,
                   CAST(SUM(n_t) OVER (ORDER BY decile
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                       AS cn_t,
                   CAST(SUM(n_c) OVER (ORDER BY decile
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                       AS cn_c,
                   CAST(SUM(y_t) OVER (ORDER BY decile
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                       AS cum_resp_t,
                   CAST(SUM(y_c) OVER (ORDER BY decile
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                       AS cum_resp_c
            FROM per_dec)
    SELECT decile, n_t, n_c, cum_resp_t, cum_resp_c,
           ROUND(CAST(cum_resp_t AS DOUBLE)
                 - CAST(cum_resp_c AS DOUBLE) * CAST(cn_t AS DOUBLE)
                   / CAST(cn_c AS DOUBLE), 6) AS qini
    FROM cum
"""

# the Fourier oracle shares the operator's Python-precomputed trig table
# verbatim (no engine-native trig in the hash gate)
_FOURIER_VALUES = ", ".join(
    f"({p}, {relational._FOURIER_COS[p]!r}, {relational._FOURIER_SIN[p]!r})"
    for p in range(24)
)

_ORACLES["events_fourier_strength"] = f"""
    WITH phases(phase, cosv, sinv) AS (VALUES {_FOURIER_VALUES}),
    hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    fanned AS (
      SELECT event_type, c, m,
             (CAST(extract(hour FROM hr) AS BIGINT) * m) % 24 AS phase
      FROM hourly, UNNEST([1, 2, 3]) AS t(m)),
    terms AS (
      SELECT event_type, m, c,
             CAST(ROUND(CAST(c AS DOUBLE) * cosv, 12) AS DECIMAL(28,12))
                 AS ac,
             CAST(ROUND(CAST(c AS DOUBLE) * sinv, 12) AS DECIMAL(28,12))
                 AS bs
      FROM fanned JOIN phases USING (phase))
    SELECT event_type,
           CAST(m AS BIGINT) AS harmonic,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(c) AS BIGINT) AS total_events,
           ROUND((CAST(SUM(ac) AS DOUBLE) * CAST(SUM(ac) AS DOUBLE)
                  + CAST(SUM(bs) AS DOUBLE) * CAST(SUM(bs) AS DOUBLE))
                 / CAST(COUNT(*) AS DOUBLE), 6) AS power
    FROM terms GROUP BY 1, 2
"""

_ORACLES["graph_assortativity"] = """
    WITH items AS (SELECT DISTINCT l_orderkey AS order_id,
                                   l_partkey AS part_id
                   FROM lineitem),
    edges AS (SELECT DISTINCT a.part_id AS pa, b.part_id AS pb
              FROM items a JOIN items b
                ON a.order_id = b.order_id AND a.part_id < b.part_id),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT pa AS node FROM edges
              UNION ALL SELECT pb FROM edges) GROUP BY 1),
    oriented AS (SELECT pa, pb FROM edges
                 UNION ALL SELECT pb AS pa, pa AS pb FROM edges),
    j AS (SELECT da.d AS da, db.d AS db
          FROM oriented JOIN deg da ON da.node = oriented.pa
                        JOIN deg db ON db.node = oriented.pb),
    mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2,
                   CAST(SUM(da) AS BIGINT) AS sa,
                   CAST(SUM(da * da) AS BIGINT) AS saa,
                   CAST(SUM(da * db) AS BIGINT) AS sab
            FROM j)
    SELECT m2, sa, saa, sab,
           ROUND((CAST(m2 AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                 / (CAST(m2 AS DOUBLE) * CAST(saa AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)), 6)
               AS assortativity
    FROM mom
"""

_ORACLES["graph_modularity"] = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTER_CTE},
    comp AS (SELECT node AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY node),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM cand),
    deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS d FROM (
              SELECT doc_a AS doc_id FROM cand
              UNION ALL SELECT doc_b FROM cand) GROUP BY 1),
    cdeg AS (SELECT c.cluster_id,
                    CAST(SUM(deg.d) AS BIGINT) AS degree_sum,
                    CAST(COUNT(*) AS BIGINT) AS n_nodes
             FROM deg JOIN comp c USING (doc_id) GROUP BY 1),
    cedge AS (SELECT c.cluster_id,
                     CAST(COUNT(*) AS BIGINT) AS intra_edges
              FROM cand JOIN comp c ON cand.doc_a = c.doc_id GROUP BY 1)
    SELECT cdeg.cluster_id, n_nodes, degree_sum, intra_edges,
           ROUND(CAST(intra_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
                 - (CAST(degree_sum AS DOUBLE) / (2 * m_edges))
                   * (CAST(degree_sum AS DOUBLE) / (2 * m_edges)), 6)
               AS q_contrib
    FROM cdeg JOIN cedge USING (cluster_id), m
"""

_ORACLES["events_ks_test"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       (((user_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS in_a
                FROM events),
    g AS (SELECT event_type, cents,
                 CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          FROM ev GROUP BY 1, 2),
    d AS (SELECT event_type, cents,
                 CAST(SUM(ca) OVER w AS DECIMAL(38,0)) AS cuma,
                 CAST(SUM(cb) OVER w AS DECIMAL(38,0)) AS cumb,
                 CAST(SUM(ca) OVER wp AS DECIMAL(38,0)) AS n_a,
                 CAST(SUM(cb) OVER wp AS DECIMAL(38,0)) AS n_b
          FROM g
          WINDOW w AS (PARTITION BY event_type ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wp AS (PARTITION BY event_type)),
    dd AS (SELECT *,
                  ABS(n_b * cuma - n_a * cumb) AS diff,
                  MAX(ABS(n_b * cuma - n_a * cumb))
                      OVER (PARTITION BY event_type) AS max_diff
           FROM d)
    SELECT event_type,
           CAST(MIN(n_a) AS BIGINT) AS n_a,
           CAST(MIN(n_b) AS BIGINT) AS n_b,
           ROUND(CAST(MIN(max_diff) AS DOUBLE)
                 / CAST(MIN(n_a * n_b) AS DOUBLE), 12) AS ks_d,
           ROUND(CAST(MIN(cents) AS DOUBLE) / 100.0, 2) AS ks_at_value
    FROM dd WHERE diff = max_diff
    GROUP BY event_type
"""

_ORACLES["events_mann_whitney"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       (((user_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS in_a
                FROM events),
    g AS (SELECT event_type, cents,
                 CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                 CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
          FROM ev GROUP BY 1, 2),
    d AS (SELECT event_type, ca, cb, ca + cb AS t,
                 CAST(COALESCE(SUM(ca + cb) OVER (
                     PARTITION BY event_type ORDER BY cents
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_prev
          FROM g),
    m AS (SELECT event_type,
                 CAST(SUM(ca) AS DECIMAL(38,0)) AS n_a,
                 CAST(SUM(cb) AS DECIMAL(38,0)) AS n_b,
                 CAST(SUM(CAST(ca AS DECIMAL(38,0))
                          * CAST(2 * cum_prev + t + 1 AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS r2,
                 CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                          * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS tie3
          FROM d GROUP BY event_type)
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(r2 - n_a * (n_a + 1) AS BIGINT) AS u1_x2,
           ROUND((CAST(r2 - n_a * (n_a + 1) AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0
                        * ((CAST(n_a + n_b AS DOUBLE) + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n_a + n_b AS DOUBLE)
                                * (CAST(n_a + n_b AS DOUBLE) - 1)))), 6)
               AS z_score,
           ROUND(CAST(r2 - n_a * (n_a + 1) AS DOUBLE)
                 / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 12)
               AS auc_effect
    FROM m
"""

_ORACLES["events_psi_drift"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents,
                       CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16 00:00:00'
                           AS is_ref
                FROM events),
    g AS (SELECT event_type, cents,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nr,
                 CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS nc
          FROM ev GROUP BY 1, 2),
    cum AS (SELECT event_type, cents,
                   SUM(nr) OVER (PARTITION BY event_type ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum,
                   SUM(nr) OVER (PARTITION BY event_type) AS n_ref
            FROM g WHERE nr > 0),
    edges AS (SELECT event_type, i, MIN(cents) AS edge
              FROM cum CROSS JOIN (SELECT UNNEST(range(1, 10)) AS i)
              WHERE cum >= CEIL(i * n_ref / 10.0)
              GROUP BY 1, 2),
    earr AS (SELECT event_type,
                    list_sort(list(edge)) AS edges
             FROM edges GROUP BY 1),
    bucketed AS (SELECT g.event_type,
                        CAST(len(list_filter(edges, e -> e < g.cents)) + 1
                             AS BIGINT) AS bucket,
                        SUM(nr) AS c_ref, SUM(nc) AS c_cur
                 FROM g JOIN earr ON g.event_type = earr.event_type
                 GROUP BY 1, 2),
    skeleton AS (SELECT DISTINCT event_type, CAST(b AS BIGINT) AS bucket
                 FROM bucketed CROSS JOIN (SELECT UNNEST(range(1, 11)) AS b)),
    full_b AS (SELECT s.event_type, s.bucket,
                      COALESCE(c_ref, 0) AS c_ref,
                      COALESCE(c_cur, 0) AS c_cur
               FROM skeleton s LEFT JOIN bucketed b
                    ON s.event_type = b.event_type AND s.bucket = b.bucket),
    tot AS (SELECT *,
                   SUM(c_ref) OVER (PARTITION BY event_type) AS t_ref,
                   SUM(c_cur) OVER (PARTITION BY event_type) AS t_cur
            FROM full_b),
    terms AS (SELECT event_type, t_ref, t_cur,
                     CAST(ROUND(
                         (CAST(c_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE)
                          - CAST(c_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE))
                         * LN((CAST(c_ref + 1 AS DOUBLE) / CAST(t_ref + 10 AS DOUBLE))
                              / (CAST(c_cur + 1 AS DOUBLE) / CAST(t_cur + 10 AS DOUBLE))),
                         6) AS DECIMAL(28,6)) AS term
              FROM tot)
    SELECT event_type,
           CAST(MIN(t_ref) AS BIGINT) AS n_ref,
           CAST(MIN(t_cur) AS BIGINT) AS n_cur,
           CAST(CAST(SUM(term) AS DECIMAL(38,6)) AS DOUBLE) AS psi
    FROM terms GROUP BY event_type
"""

_ORACLES["orders_simpson_paradox"] = """
    WITH o AS (SELECT o_orderpriority,
                      CAST(datediff('day', DATE '1992-01-01',
                                    CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
               FROM orders),
    strata AS (SELECT o_orderpriority,
                      CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                      CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                      CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                      CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
                      CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
               FROM o GROUP BY 1),
    pooled AS (SELECT ROUND(CAST(SUM(n) * SUM(sxy) - SUM(sx) * SUM(sy) AS DOUBLE)
                            / CAST(SUM(n) * SUM(sxx) - SUM(sx) * SUM(sx) AS DOUBLE),
                            6) AS pooled_slope
               FROM strata)
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS stratum_slope,
           pooled_slope,
           (ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE), 6) > 0)
               != (pooled_slope > 0) AS sign_reversed
    FROM strata, pooled
"""

_ORACLES["profile_l_diversity"] = """
    WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                      CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS acct_band,
                      c_mktsegment
               FROM customer),
    cells AS (SELECT nationkey, acct_band, c_mktsegment,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM c GROUP BY 1, 2, 3)
    SELECT nationkey, acct_band,
           CAST(SUM(n) AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           CAST(MAX(n) AS BIGINT) AS modal_count,
           COUNT(*) < 3 AS violates_l
    FROM cells GROUP BY 1, 2
"""

_ORACLES["text_chao1_vocab"] = r"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS w
        FROM documents),
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w)
    SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           ROUND(COUNT(*)
                 + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE)
                   / (2.0 * CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1
                               AS DOUBLE)),
                 6) AS chao1,
           ROUND(1.0 - CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(SUM(c) AS DOUBLE), 6) AS coverage
    FROM freq
"""

_ORACLES["text_textrank_keywords"] = r"""
    WITH toks AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
        FROM documents),
    adj AS (
        SELECT ws[i] AS a, ws[i + 1] AS b
        FROM toks, UNNEST(range(1, len(ws))) AS t(i)),
    edges AS (
        SELECT DISTINCT LEAST(a, b) AS wa, GREATEST(a, b) AS wb
        FROM adj
        WHERE LENGTH(a) >= 4 AND LENGTH(b) >= 4 AND a != b),
    und AS (SELECT wa AS src, wb AS dst FROM edges
            UNION
            SELECT wb, wa FROM edges),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM und GROUP BY 1),
    nodes AS (
        SELECT DISTINCT w AS node FROM (
            SELECT UNNEST(ws) AS w FROM toks)
        WHERE LENGTH(w) >= 4),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, ROUND(1.0 / n.n, 8) AS rank FROM nodes, n),
    c1 AS (SELECT u.dst AS node, ROUND(r.rank / d.outdeg, 8) AS c
           FROM und u JOIN r0 r ON u.src = r.node JOIN deg d ON u.src = d.src),
    i1 AS (SELECT node, ROUND(SUM(c), 8) AS inflow FROM c1 GROUP BY 1),
    r1 AS (SELECT nd.node,
                  ROUND((1.0 - 0.85) / n.n
                        + 0.85 * COALESCE(i.inflow, 0.0), 8) AS rank
           FROM nodes nd LEFT JOIN i1 i ON nd.node = i.node, n),
    c2 AS (SELECT u.dst AS node, ROUND(r.rank / d.outdeg, 8) AS c
           FROM und u JOIN r1 r ON u.src = r.node JOIN deg d ON u.src = d.src),
    i2 AS (SELECT node, ROUND(SUM(c), 8) AS inflow FROM c2 GROUP BY 1),
    r2 AS (SELECT nd.node,
                  ROUND((1.0 - 0.85) / n.n
                        + 0.85 * COALESCE(i.inflow, 0.0), 8) AS rank
           FROM nodes nd LEFT JOIN i2 i ON nd.node = i.node, n),
    c3 AS (SELECT u.dst AS node, ROUND(r.rank / d.outdeg, 8) AS c
           FROM und u JOIN r2 r ON u.src = r.node JOIN deg d ON u.src = d.src),
    i3 AS (SELECT node, ROUND(SUM(c), 8) AS inflow FROM c3 GROUP BY 1),
    r3 AS (SELECT nd.node,
                  ROUND((1.0 - 0.85) / n.n
                        + 0.85 * COALESCE(i.inflow, 0.0), 8) AS rank
           FROM nodes nd LEFT JOIN i3 i ON nd.node = i.node, n)
    SELECT node AS word, rank AS textrank
    FROM r3
    ORDER BY textrank DESC, word ASC
    LIMIT 15
"""

_ORACLES["eval_brier_decomposition"] = """
    WITH ev AS (SELECT event_id,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events),
    scored AS (SELECT y,
                      CAST(ROUND(
                          CAST(CASE WHEN y = 1
                                    THEN 450 + ((event_id % 1000003) * 2654435761 + 13) % 549
                                    ELSE ((event_id % 1000003) * 2654435761 + 13) % 700
                               END AS DOUBLE) / 999.0, 6) AS DECIMAL(9,6)) AS p
               FROM ev),
    binned AS (SELECT y, p,
                      LEAST(9, CAST(FLOOR(CAST(p AS DOUBLE) * 10) AS BIGINT))
                          AS bin
               FROM scored),
    bins AS (SELECT bin,
                    CAST(COUNT(*) AS BIGINT) AS n_k,
                    SUM(p) AS sum_p,
                    CAST(SUM(y) AS BIGINT) AS sum_y,
                    SUM(CAST(ROUND((CAST(p AS DOUBLE) - y)
                                   * (CAST(p AS DOUBLE) - y), 12)
                             AS DECIMAL(18,12))) AS sum_brier
             FROM binned GROUP BY bin),
    base AS (SELECT CAST(SUM(n_k) AS BIGINT) AS n,
                    CAST(SUM(sum_y) AS BIGINT) AS pos,
                    CAST(SUM(sum_brier) AS DECIMAL(38,12)) AS brier_sum
             FROM bins),
    terms AS (SELECT n, pos, brier_sum,
                     CAST(ROUND(CAST(n_k AS DOUBLE)
                          * (CAST(sum_p AS DOUBLE) / n_k - CAST(sum_y AS DOUBLE) / n_k)
                          * (CAST(sum_p AS DOUBLE) / n_k - CAST(sum_y AS DOUBLE) / n_k),
                          12) AS DECIMAL(28,12)) AS rel_term,
                     CAST(ROUND(CAST(n_k AS DOUBLE)
                          * (CAST(sum_y AS DOUBLE) / n_k - CAST(pos AS DOUBLE) / n)
                          * (CAST(sum_y AS DOUBLE) / n_k - CAST(pos AS DOUBLE) / n),
                          12) AS DECIMAL(28,12)) AS res_term
              FROM bins, base)
    SELECT MIN(n) AS n,
           MIN(pos) AS n_pos,
           ROUND(CAST(MIN(brier_sum) AS DOUBLE) / MIN(n), 9) AS brier,
           ROUND(CAST(SUM(rel_term) AS DOUBLE) / MIN(n), 9) AS reliability,
           ROUND(CAST(SUM(res_term) AS DOUBLE) / MIN(n), 9) AS resolution,
           ROUND((CAST(MIN(pos) AS DOUBLE) / MIN(n))
                 * (1.0 - CAST(MIN(pos) AS DOUBLE) / MIN(n)), 9) AS uncertainty
    FROM terms
"""

_ORACLES["events_sprt_decision"] = """
    WITH ev AS (SELECT event_type,
                       DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
                       CASE WHEN CAST(ROUND(value * 100) AS BIGINT) % 2 = 0
                            THEN 1 ELSE 0 END AS x
                FROM events),
    hourly AS (SELECT event_type, h,
                      CAST(SUM(x) AS BIGINT) AS pos,
                      CAST(COUNT(*) - SUM(x) AS BIGINT) AS neg
               FROM ev GROUP BY 1, 2),
    cum AS (SELECT event_type, h,
                   SUM(pos) OVER w AS cpos,
                   SUM(neg) OVER w AS cneg
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    llrs AS (SELECT event_type, h, cpos, cneg,
                    CAST(CAST(cpos AS DECIMAL(18,0))
                             * CAST('0.095310179804' AS DECIMAL(13,12))
                         + CAST(cneg AS DECIMAL(18,0))
                             * CAST('-0.105360515658' AS DECIMAL(13,12))
                         AS DECIMAL(28,12)) AS llr
             FROM cum),
    crossed AS (SELECT * FROM llrs
                WHERE llr >= CAST('2.944438979166' AS DECIMAL(13,12))
                   OR llr <= CAST('-2.944438979166' AS DECIMAL(13,12))),
    first_x AS (SELECT event_type, MIN(h) AS decision_hour
                FROM crossed GROUP BY 1),
    decided AS (SELECT c.event_type, f.decision_hour,
                       CAST(c.cpos + c.cneg AS BIGINT) AS n_at_decision,
                       c.llr AS llr_at_decision,
                       CASE WHEN c.llr >= CAST('2.944438979166' AS DECIMAL(13,12))
                            THEN 'accept_h1' ELSE 'accept_h0' END AS decision
                FROM crossed c JOIN first_x f
                     ON c.event_type = f.event_type AND c.h = f.decision_hour),
    all_types AS (SELECT event_type,
                         CAST(MAX(cpos) + MAX(cneg) AS BIGINT) AS n_total
                  FROM cum GROUP BY 1)
    SELECT a.event_type,
           d.decision_hour,
           COALESCE(d.n_at_decision, a.n_total) AS n_at_decision,
           CAST(d.llr_at_decision AS DOUBLE) AS llr_at_decision,
           COALESCE(d.decision, 'continue') AS decision
    FROM all_types a LEFT JOIN decided d ON a.event_type = d.event_type
"""

_ORACLES["events_lag_xcorr"] = """
    WITH hourly AS (
        SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2),
    clicks AS (SELECT h AS ch, n AS x FROM hourly WHERE event_type = 'click'),
    purch AS (SELECT h AS ph, n AS y FROM hourly WHERE event_type = 'purchase'),
    lagged AS (
        SELECT CAST(lag AS INTEGER) AS lag, x, y
        FROM clicks
        CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS lag)
        JOIN purch ON ph = ch + to_hours(lag)),
    m AS (SELECT lag,
                 CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                 CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
                 CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                 CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
          FROM lagged GROUP BY lag)
    SELECT lag,
           CAST(n AS BIGINT) AS n_hours,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcorr
    FROM m
"""

_ORACLES["events_entropy_rate"] = """
    WITH steps AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events),
    counts AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
               FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2),
    totals AS (SELECT from_type, CAST(SUM(c) AS BIGINT) AS c_from
               FROM counts GROUP BY 1),
    grand AS (SELECT CAST(SUM(c_from) AS BIGINT) AS c_all FROM totals),
    terms AS (SELECT counts.from_type, c_from,
                     CAST(ROUND(
                         -(CAST(c AS DOUBLE) / CAST(c_from AS DOUBLE))
                         * LN(CAST(c AS DOUBLE) / CAST(c_from AS DOUBLE)), 6)
                          AS DECIMAL(28,6)) AS term
              FROM counts JOIN totals USING (from_type))
    SELECT from_type,
           MIN(c_from) AS n_from,
           CAST(CAST(SUM(term) AS DECIMAL(38,6)) AS DOUBLE) AS cond_entropy,
           ROUND(CAST(MIN(c_from) AS DOUBLE) / CAST(MIN(c_all) AS DOUBLE), 6)
               AS weight
    FROM terms, grand
    GROUP BY from_type, c_all
"""

_ORACLES["orders_hill_tail_index"] = """
    WITH top AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        ORDER BY cents DESC, o_orderkey ASC
        LIMIT 101),
    ref AS (SELECT MIN(cents) AS ref_cents FROM top),
    terms AS (SELECT ref_cents,
                     CAST(ROUND(LN(CAST(cents AS DOUBLE)
                                   / CAST(ref_cents AS DOUBLE)), 12)
                          AS DECIMAL(28,12)) AS term
              FROM top, ref WHERE cents > ref_cents)
    SELECT ref_cents,
           CAST(COUNT(*) AS BIGINT) AS k_used,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(term) AS DOUBLE), 6)
               AS hill_alpha
    FROM terms GROUP BY ref_cents
"""

_ORACLES["graph_hits_scores"] = """
    WITH edges AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h0 AS (SELECT DISTINCT u, 1.0 AS h FROM edges),
    a1r AS (SELECT p, ROUND(SUM(h), 8) AS s
            FROM edges JOIN h0 USING (u) GROUP BY p),
    a1 AS (SELECT p, ROUND(s / (SELECT MAX(s) FROM a1r), 8) AS a FROM a1r),
    h1r AS (SELECT u, ROUND(SUM(a), 8) AS s
            FROM edges JOIN a1 USING (p) GROUP BY u),
    h1 AS (SELECT u, ROUND(s / (SELECT MAX(s) FROM h1r), 8) AS h FROM h1r),
    a2r AS (SELECT p, ROUND(SUM(h), 8) AS s
            FROM edges JOIN h1 USING (u) GROUP BY p),
    a2 AS (SELECT p, ROUND(s / (SELECT MAX(s) FROM a2r), 8) AS a FROM a2r),
    h2r AS (SELECT u, ROUND(SUM(a), 8) AS s
            FROM edges JOIN a2 USING (p) GROUP BY u),
    h2 AS (SELECT u, ROUND(s / (SELECT MAX(s) FROM h2r), 8) AS h FROM h2r),
    a3r AS (SELECT p, ROUND(SUM(h), 8) AS s
            FROM edges JOIN h2 USING (u) GROUP BY p),
    a3 AS (SELECT p, ROUND(s / (SELECT MAX(s) FROM a3r), 8) AS a FROM a3r),
    h3r AS (SELECT u, ROUND(SUM(a), 8) AS s
            FROM edges JOIN a3 USING (p) GROUP BY u),
    h3 AS (SELECT u, ROUND(s / (SELECT MAX(s) FROM h3r), 8) AS h FROM h3r),
    top_a AS (SELECT 'authority:part' AS kind, CAST(p AS BIGINT) AS node_id,
                     a AS score
              FROM a3 ORDER BY a DESC, p ASC LIMIT 10),
    top_h AS (SELECT 'hub:customer' AS kind, CAST(u AS BIGINT) AS node_id,
                     h AS score
              FROM h3 ORDER BY h DESC, u ASC LIMIT 10)
    SELECT * FROM top_a UNION ALL SELECT * FROM top_h
"""

_ORACLES["graph_label_propagation"] = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_CLUSTER_CTE},
    l0 AS (SELECT doc_id AS node, doc_id AS label FROM documents),
    n1c AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
            FROM edges e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
    n1w AS (SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM n1c) WHERE rn = 1),
    l1 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
           FROM l0 l LEFT JOIN n1w w ON l.node = w.node),
    n2c AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
            FROM edges e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
    n2w AS (SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM n2c) WHERE rn = 1),
    l2 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
           FROM l1 l LEFT JOIN n2w w ON l.node = w.node),
    n3c AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
            FROM edges e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
    n3w AS (SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM n3c) WHERE rn = 1),
    l3 AS (SELECT l.node, COALESCE(w.label, l.label) AS label
           FROM l2 l LEFT JOIN n3w w ON l.node = w.node)
    SELECT node AS doc_id, label AS community FROM l3
"""

_ORACLES["events_kruskal_wallis"] = """
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events),
    per_tv AS (SELECT cents, event_type, CAST(COUNT(*) AS BIGINT) AS c
               FROM ev GROUP BY 1, 2),
    per_v AS (SELECT cents, CAST(SUM(c) AS BIGINT) AS t
              FROM per_tv GROUP BY 1),
    ranked AS (SELECT cents, t,
                      CAST(COALESCE(SUM(t) OVER (ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS cum_prev
               FROM per_v),
    drk AS (SELECT cents, t, CAST(2 * cum_prev + t + 1 AS BIGINT) AS dr
            FROM ranked),
    groups AS (SELECT event_type,
                      CAST(SUM(c) AS BIGINT) AS n_g,
                      CAST(SUM(CAST(c AS DECIMAL(38,0))
                               * CAST(dr AS DECIMAL(38,0)))
                           AS DECIMAL(38,0)) AS r2_g
               FROM per_tv JOIN drk USING (cents) GROUP BY 1),
    ties AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                    CAST(SUM(CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0))
                             * CAST(t AS DECIMAL(38,0)) - CAST(t AS DECIMAL(38,0)))
                         AS DECIMAL(38,0)) AS tie3
             FROM drk),
    hsum AS (SELECT MIN(n) AS n, MIN(tie3) AS tie3,
                    SUM(CAST(ROUND(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                                   / (4.0 * CAST(n_g AS DOUBLE)), 6)
                             AS DECIMAL(38,6))) AS sum_term
             FROM groups, ties),
    hrow AS (SELECT CAST(n AS BIGINT) AS n,
                    ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
                          * CAST(sum_term AS DOUBLE)
                          - 3.0 * (CAST(n AS DOUBLE) + 1), 6) AS h_stat,
                    ROUND((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
                           * CAST(sum_term AS DOUBLE)
                           - 3.0 * (CAST(n AS DOUBLE) + 1))
                          / (1.0 - CAST(tie3 AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                                * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
                        AS h_corrected
             FROM hsum)
    SELECT event_type, n_g,
           ROUND(CAST(r2_g AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE)), 6)
               AS mean_rank,
           n, h_stat, h_corrected
    FROM groups, hrow
"""

_ORACLES["events_runs_test"] = """
    WITH hourly AS (
        SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    med AS (SELECT event_type, n AS median_n FROM (
                SELECT event_type, n,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY n, h) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS cnt
                FROM hourly)
            WHERE rn = FLOOR((cnt + 1) / 2.0)),
    signed AS (SELECT hourly.event_type, h,
                      CASE WHEN n > median_n THEN 1 ELSE 0 END AS s
               FROM hourly JOIN med ON hourly.event_type = med.event_type
               WHERE n != median_n),
    lagged AS (SELECT event_type, s,
                      LAG(s) OVER (PARTITION BY event_type ORDER BY h) AS prev
               FROM signed),
    runs AS (SELECT event_type,
                    CAST(SUM(s) AS BIGINT) AS n1,
                    CAST(SUM(1 - s) AS BIGINT) AS n2,
                    CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND s != prev
                                      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
             FROM lagged GROUP BY 1)
    SELECT event_type,
           n1 AS n_above,
           n2 AS n_below,
           n_runs,
           ROUND((CAST(n_runs AS DOUBLE)
                  - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
               AS z_score
    FROM runs
"""

_ORACLES["events_ab_srm_check"] = """
    WITH ev AS (SELECT DISTINCT event_type, user_id,
                       (((user_id % 1000003) * 2654435761 + 13) % 1000) < 500 AS in_a
                FROM events),
    g AS (SELECT event_type,
                 CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
          FROM ev GROUP BY 1)
    SELECT event_type, n_a, n_b,
           ROUND(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
           ROUND(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE), 6) > 3.841459 AS srm_detected
    FROM g
"""

_ORACLES["parts_xyz_classification"] = """
    WITH weekly AS (
        SELECT l_partkey,
               weekofyear(CAST(l_shipdate AS DATE)) AS wk,
               year(CAST(l_shipdate AS DATE)) AS yr,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2, 3),
    nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks
           FROM (SELECT DISTINCT yr, wk FROM weekly)),
    m AS (SELECT l_partkey,
                 CAST(COUNT(*) AS BIGINT) AS active_weeks,
                 CAST(SUM(CAST(qty AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
                 CAST(SUM(CAST(qty * qty AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
          FROM weekly GROUP BY 1)
    SELECT l_partkey,
           active_weeks,
           CAST(s1 AS BIGINT) AS total_qty,
           ROUND(SQRT(CAST(CAST(n_weeks AS DECIMAL(38,0)) * s2 - s1 * s1
                           AS DOUBLE)) / CAST(s1 AS DOUBLE), 6) AS cv,
           CASE WHEN 4 * (CAST(n_weeks AS DECIMAL(38,0)) * s2 - s1 * s1)
                     <= s1 * s1 THEN 'X'
                WHEN CAST(n_weeks AS DECIMAL(38,0)) * s2 - s1 * s1
                     <= s1 * s1 THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM m, nw
"""

_ORACLES["customers_rfm_migration"] = """
    WITH o AS (SELECT o_custkey,
                      CAST(o_orderdate AS DATE) < DATE '1995-01-01' AS p1,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    per_cust AS (SELECT o_custkey,
                        CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                        CAST(SUM(CASE WHEN p1 THEN cents ELSE 0 END) AS BIGINT) AS m1,
                        CAST(SUM(CASE WHEN p1 THEN 0 ELSE 1 END) AS BIGINT) AS f2,
                        CAST(SUM(CASE WHEN p1 THEN 0 ELSE cents END) AS BIGINT) AS m2
                 FROM o GROUP BY 1),
    labeled AS (SELECT
        CASE WHEN f1 <= 0 THEN NULL
             ELSE 'F' || (CASE WHEN f1 <= 2 THEN 1 WHEN f1 <= 5 THEN 2 ELSE 3 END)
                  || 'M' || (CASE WHEN m1 <= 3000000 THEN 1
                                  WHEN m1 <= 9000000 THEN 2 ELSE 3 END)
        END AS seg_from_raw,
        CASE WHEN f2 <= 0 THEN NULL
             ELSE 'F' || (CASE WHEN f2 <= 2 THEN 1 WHEN f2 <= 5 THEN 2 ELSE 3 END)
                  || 'M' || (CASE WHEN m2 <= 3000000 THEN 1
                                  WHEN m2 <= 9000000 THEN 2 ELSE 3 END)
        END AS seg_to_raw
        FROM per_cust)
    SELECT COALESCE(seg_from_raw, 'new') AS seg_from,
           COALESCE(seg_to_raw, 'churned') AS seg_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM labeled GROUP BY 1, 2
"""

_ORACLES["events_holt_winters_pandas"] = """
    WITH RECURSIVE cnt AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2),
    o AS (SELECT event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                     AS rn
          FROM cnt),
    h(event_type, rn, xs, acc, l, b, s, sse) AS (
        SELECT event_type, rn, [c], c,
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST([] AS DOUBLE[]), CAST(0.0 AS DOUBLE)
        FROM o WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               CASE WHEN e.rn <= 24 THEN list_append(h.xs, e.c)
                    ELSE h.xs END,
               CASE WHEN e.rn <= 24 THEN h.acc + e.c ELSE h.acc END,
               CASE WHEN e.rn <= 23 THEN CAST(0.0 AS DOUBLE)
                    WHEN e.rn = 24 THEN (h.acc + e.c) / 24.0
                    ELSE (CAST(0.4 AS DOUBLE) * (e.c - h.s[1]))
                         + (CAST(0.6 AS DOUBLE) * (h.l + h.b))
               END,
               CASE WHEN e.rn <= 24 THEN CAST(0.0 AS DOUBLE)
                    ELSE (CAST(0.2 AS DOUBLE)
                           * (((CAST(0.4 AS DOUBLE) * (e.c - h.s[1]))
                               + (CAST(0.6 AS DOUBLE) * (h.l + h.b))) - h.l))
                         + (CAST(0.8 AS DOUBLE) * h.b)
               END,
               CASE WHEN e.rn <= 23 THEN CAST([] AS DOUBLE[])
                    WHEN e.rn = 24 THEN list_transform(
                        list_append(h.xs, e.c),
                        v -> v - ((h.acc + e.c) / 24.0))
                    ELSE list_append(h.s[2:],
                        (CAST(0.3 AS DOUBLE)
                          * (e.c - ((CAST(0.4 AS DOUBLE) * (e.c - h.s[1]))
                                    + (CAST(0.6 AS DOUBLE) * (h.l + h.b)))))
                        + (CAST(0.7 AS DOUBLE) * h.s[1]))
               END,
               CASE WHEN e.rn <= 24 THEN CAST(0.0 AS DOUBLE)
                    ELSE h.sse + ((e.c - ((h.l + h.b) + h.s[1]))
                                  * (e.c - ((h.l + h.b) + h.s[1])))
               END
        FROM h JOIN o e
          ON e.event_type = h.event_type AND e.rn = h.rn + 1)
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND((l + b) + s[1], 6) AS forecast_next,
           ROUND(list_aggregate(s, 'max') - list_aggregate(s, 'min'), 6)
               AS season_amplitude,
           ROUND(sse, 6) AS sse
    FROM h
    QUALIFY rn >= 25 AND rn = MAX(rn) OVER (PARTITION BY event_type)
"""

_ORACLES["events_kalman_level"] = """
    WITH RECURSIVE cnt AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2),
    o AS (SELECT event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                     AS rn
          FROM cnt),
    h(event_type, rn, l, p, k, issq) AS (
        SELECT event_type, rn, c, CAST(25.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        FROM o WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               h.l + (((h.p + CAST(4.0 AS DOUBLE))
                       / ((h.p + CAST(4.0 AS DOUBLE)) + CAST(25.0 AS DOUBLE)))
                      * (e.c - h.l)),
               (CAST(1.0 AS DOUBLE)
                - ((h.p + CAST(4.0 AS DOUBLE))
                   / ((h.p + CAST(4.0 AS DOUBLE)) + CAST(25.0 AS DOUBLE))))
               * (h.p + CAST(4.0 AS DOUBLE)),
               ((h.p + CAST(4.0 AS DOUBLE))
                / ((h.p + CAST(4.0 AS DOUBLE)) + CAST(25.0 AS DOUBLE))),
               h.issq + ((e.c - h.l) * (e.c - h.l))
        FROM h JOIN o e
          ON e.event_type = h.event_type AND e.rn = h.rn + 1)
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           ROUND(l, 6) AS level, ROUND(p, 6) AS variance,
           ROUND(k, 6) AS gain_last, ROUND(issq, 6) AS innovation_ssq
    FROM h
    QUALIFY rn = MAX(rn) OVER (PARTITION BY event_type)
"""

_ORACLES["agg_ams_f2_sketch"] = """
    WITH ev AS (SELECT event_type, user_id FROM events),
    signed AS (SELECT event_type,
    """ + ",\n    ".join(
        f"CASE WHEN (instr('0123456789abcdef', "
        f"substring(md5(CAST(user_id AS VARCHAR) || ':{j}'), 4, 1)) - 1) % 2 = 0 "
        f"THEN 1 ELSE -1 END AS s{j}" for j in range(16)
    ) + """
        FROM ev),
    zs AS (SELECT event_type,
    """ + ",\n    ".join(
        f"CAST(SUM(s{j}) AS BIGINT) AS z{j}" for j in range(16)
    ) + """,
                  CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM signed GROUP BY event_type),
    est AS (SELECT event_type, n_rows,
                   CAST((""" + " + ".join(
        f"CAST(z{j} AS DECIMAL(38,0)) * CAST(z{j} AS DECIMAL(38,0))"
        for j in range(16)
    ) + """) / 16 AS DECIMAL(38,0)) AS f2_estimate
            FROM zs),
    exact AS (SELECT event_type,
                     CAST(SUM(CAST(f AS DECIMAL(38,0)) * CAST(f AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS f2_exact
              FROM (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS f
                    FROM ev GROUP BY 1, 2)
              GROUP BY event_type)
    SELECT est.event_type, n_rows,
           CAST(f2_estimate AS BIGINT) AS f2_estimate,
           CAST(f2_exact AS BIGINT) AS f2_exact,
           ROUND(ABS(CAST(f2_estimate AS DOUBLE) - CAST(f2_exact AS DOUBLE))
                 / CAST(f2_exact AS DOUBLE), 6) AS rel_error
    FROM est JOIN exact ON est.event_type = exact.event_type
"""

_ORACLES["agg_kmv_distinct"] = """
    WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
    hashed AS (SELECT event_type,
                      list_sum(list_transform(range(1, 13), i ->
                          (instr('0123456789abcdef',
                                 md5(CAST(user_id AS VARCHAR))[i:i]) - 1)
                          * (16 ** (12 - i)))) / 281474976710656.0 AS h
               FROM ev),
    ranked AS (SELECT event_type, h,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                          AS rn
               FROM hashed),
    kth AS (SELECT event_type, h AS h_k FROM ranked WHERE rn = 256),
    exact AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d_exact
              FROM ev GROUP BY 1)
    SELECT exact.event_type, d_exact,
           CAST(CASE WHEN h_k IS NOT NULL THEN ROUND(255 / h_k, 0)
                     ELSE CAST(d_exact AS DOUBLE) END AS BIGINT) AS d_estimate,
           ROUND(ABS(CASE WHEN h_k IS NOT NULL THEN ROUND(255 / h_k, 0)
                          ELSE CAST(d_exact AS DOUBLE) END
                     - CAST(d_exact AS DOUBLE))
                 / CAST(d_exact AS DOUBLE), 6) AS rel_error
    FROM exact LEFT JOIN kth ON exact.event_type = kth.event_type
"""

_ORACLES["geo_nearest_hub"] = """
    WITH hubs(hub_id, hlat, hlon, hcos) AS (VALUES
        (1, 40.7, -74.0, 0.758134),
        (2, 51.5, -0.1, 0.622515),
        (3, 35.7, 139.7, 0.812084),
        (4, -33.9, 151.2, 0.830012),
        (5, 19.4, -99.1, 0.943223),
        (6, 52.5, 13.4, 0.608761),
        (7, 1.35, 103.8, 0.999722),
        (8, -23.55, -46.63, 0.916712)),
    cust AS (SELECT c_custkey AS k,
                    -60.0 + CAST(((c_custkey % 1000003) * 2654435761 + 97) % 12000
                                 AS DOUBLE) / 100.0 AS lat,
                    -180.0 + CAST((c_custkey * 40503 + 11) % 36000
                                  AS DOUBLE) / 100.0 AS lon
             FROM customer),
    scored AS (SELECT k, hub_id,
                      (lat - hlat) * (lat - hlat)
                      + ((lon - hlon) * hcos) * ((lon - hlon) * hcos) AS d2,
                      ROW_NUMBER() OVER (PARTITION BY k
                          ORDER BY (lat - hlat) * (lat - hlat)
                                   + ((lon - hlon) * hcos)
                                     * ((lon - hlon) * hcos),
                                   hub_id) AS rn
               FROM cust CROSS JOIN hubs),
    assigned AS (SELECT k, hub_id,
                        CAST(ROUND(d2, 6) AS DECIMAL(28,6)) AS d2q
                 FROM scored WHERE rn = 1)
    SELECT CAST(hub_id AS INTEGER) AS hub_id,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(d2q) AS DOUBLE) AS min_d2,
           CAST(CAST(SUM(d2q) AS DECIMAL(38,6)) AS DOUBLE) AS sum_d2
    FROM assigned GROUP BY hub_id
"""

_ORACLES["sample_ipf_raking"] = """
    WITH cells AS (
        SELECT event_type,
               CAST(FLOOR(hour(CAST(ts AS TIMESTAMP)) / 6.0)
                    AS INTEGER) AS day_part,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    total AS (SELECT CAST(SUM(n) AS DOUBLE) AS grand FROM cells),
    w0 AS (SELECT event_type, day_part, n,
                  CAST(ROUND(n / grand, 9) AS DECIMAL(28,9)) AS w
           FROM cells, total),
    r1 AS (SELECT event_type, SUM(w) AS row_sum FROM w0 GROUP BY 1),
    w1 AS (SELECT w0.event_type, day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.2 / CAST(row_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w0 JOIN r1 ON w0.event_type = r1.event_type),
    c1 AS (SELECT day_part, SUM(w) AS col_sum FROM w1 GROUP BY 1),
    w2 AS (SELECT event_type, w1.day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.25 / CAST(col_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w1 JOIN c1 ON w1.day_part = c1.day_part),
    r2 AS (SELECT event_type, SUM(w) AS row_sum FROM w2 GROUP BY 1),
    w3 AS (SELECT w2.event_type, day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.2 / CAST(row_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w2 JOIN r2 ON w2.event_type = r2.event_type),
    c2 AS (SELECT day_part, SUM(w) AS col_sum FROM w3 GROUP BY 1),
    w4 AS (SELECT event_type, w3.day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.25 / CAST(col_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w3 JOIN c2 ON w3.day_part = c2.day_part),
    r3 AS (SELECT event_type, SUM(w) AS row_sum FROM w4 GROUP BY 1),
    w5 AS (SELECT w4.event_type, day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.2 / CAST(row_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w4 JOIN r3 ON w4.event_type = r3.event_type),
    c3 AS (SELECT day_part, SUM(w) AS col_sum FROM w5 GROUP BY 1),
    w6 AS (SELECT event_type, w5.day_part, n,
                  CAST(ROUND(CAST(w AS DOUBLE)
                             * (0.25 / CAST(col_sum AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM w5 JOIN c3 ON w5.day_part = c3.day_part)
    SELECT event_type, CAST(day_part AS BIGINT) AS day_part, n,
           CAST(w AS DOUBLE) AS weight
    FROM w6
"""


_ORACLES["customers_gini_concentration"] = """
    WITH rev AS (SELECT o_custkey,
                        CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
                             AS DECIMAL(18,2)) AS rev
                 FROM orders GROUP BY 1),
    u AS (SELECT r.o_custkey, r.rev, c.c_mktsegment AS seg
          FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
          UNION ALL
          SELECT o_custkey, rev, 'ALL' AS seg FROM rev),
    ranked AS (SELECT seg, rev,
                      ROW_NUMBER() OVER (PARTITION BY seg
                                         ORDER BY rev, o_custkey) AS i
               FROM u),
    agg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(rev) AS DECIMAL(38,2)) AS sum_rev,
                   CAST(SUM(CAST(2 * i AS DECIMAL(16,0)) * rev)
                        AS DECIMAL(38,2)) AS sum_2ix
            FROM ranked GROUP BY 1)
    SELECT seg AS segment, n_customers,
           CAST(CAST(sum_rev AS DECIMAL(18,2)) AS DOUBLE) AS sum_rev,
           ROUND((CAST(sum_2ix AS DOUBLE)
                  - CAST(n_customers + 1 AS DOUBLE) * CAST(sum_rev AS DOUBLE))
                 / (CAST(n_customers AS DOUBLE) * CAST(sum_rev AS DOUBLE)),
                 6) AS gini
    FROM agg
"""

_ORACLES["orders_pareto_8020"] = """
    WITH rev AS (SELECT o_custkey,
                        CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)))
                             AS DECIMAL(18,2)) AS rev
                 FROM orders GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rev),
    ranked AS (SELECT rev,
                      ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rk
               FROM rev),
    per_dec AS (SELECT ((rk - 1) * 10) // n AS decile,
                       CAST(COUNT(*) AS BIGINT) AS n_cust,
                       CAST(SUM(rev) AS DECIMAL(38,2)) AS dec_rev
                FROM ranked, n GROUP BY 1, n.n),
    tot AS (SELECT CAST(SUM(dec_rev) AS DECIMAL(38,2)) AS tot FROM per_dec),
    cum AS (SELECT decile, n_cust,
                   CAST(SUM(dec_rev) OVER (ORDER BY decile
                        ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,2)) AS cum_rev
            FROM per_dec)
    SELECT decile, n_cust,
           CAST(CAST(cum_rev AS DECIMAL(18,2)) AS DOUBLE) AS cum_rev,
           ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share,
           CAST(cum_rev AS DECIMAL(28,2)) * 5
               >= CAST(tot AS DECIMAL(28,2)) * 4 AS crossed_80
    FROM cum, tot
"""

_ORACLES["orders_cohort_retention_triangle"] = """
    WITH o AS (SELECT o_custkey,
                      date_trunc('month', o_orderdate) AS om
               FROM orders),
    first AS (SELECT o_custkey, MIN(om) AS cohort_month FROM o GROUP BY 1),
    size_t AS (SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS cohort_size
               FROM first GROUP BY 1),
    cells AS (SELECT cohort_month, months_since,
                     CAST(COUNT(*) AS BIGINT) AS n_active
              FROM (SELECT DISTINCT o.o_custkey, f.cohort_month,
                           CAST(date_diff('month', f.cohort_month, o.om)
                                AS BIGINT) AS months_since
                    FROM o JOIN first f ON o.o_custkey = f.o_custkey
                    WHERE date_diff('month', f.cohort_month, o.om) <= 12)
              GROUP BY 1, 2)
    SELECT c.cohort_month, c.months_since, c.n_active, s.cohort_size,
           ROUND(CAST(c.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE),
                 6) AS retention
    FROM cells c JOIN size_t s ON c.cohort_month = s.cohort_month
"""

# direct dominance semantics — NOT the windowed prune the engine uses, so
# the hash certifies the distributed skyline against first principles
_ORACLES["part_skyline_pareto"] = """
    WITH pairs AS (SELECT CAST(ROUND(p_retailprice, 2) AS DECIMAL(12,2))
                              AS price,
                          CAST(p_size AS BIGINT) AS size,
                          CAST(COUNT(*) AS BIGINT) AS n_parts
                   FROM part GROUP BY 1, 2)
    SELECT CAST(price AS DOUBLE) AS p_retailprice, size AS p_size, n_parts
    FROM pairs p
    WHERE NOT EXISTS (
        SELECT 1 FROM pairs q
        WHERE q.price <= p.price AND q.size >= p.size
          AND (q.price < p.price OR q.size > p.size))
"""

_ORACLES["orders_backlog_burndown"] = """
    WITH o AS (SELECT date_trunc('month', o_orderdate) AS open_m,
                      date_trunc('month',
                          o_orderdate
                          + (CASE o_orderpriority
                                 WHEN '1-URGENT' THEN 2
                                 WHEN '2-HIGH' THEN 5
                                 WHEN '3-MEDIUM' THEN 9
                                 WHEN '4-NOT SPECIFIED' THEN 14
                                 ELSE 20 END) * INTERVAL 1 DAY) AS ship_m
               FROM orders),
    opened AS (SELECT open_m AS m, CAST(COUNT(*) AS BIGINT) AS n_opened
               FROM o GROUP BY 1),
    shipped AS (SELECT ship_m AS m, CAST(COUNT(*) AS BIGINT) AS n_shipped
                FROM o GROUP BY 1),
    months AS (SELECT COALESCE(op.m, sh.m) AS m,
                      COALESCE(n_opened, 0) AS n_opened,
                      COALESCE(n_shipped, 0) AS n_shipped
               FROM opened op FULL OUTER JOIN shipped sh ON op.m = sh.m)
    SELECT m AS month, CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_shipped AS BIGINT) AS n_shipped,
           CAST(SUM(n_opened) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                - SUM(n_shipped) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS open_eom
    FROM months
"""


_ORACLES["events_winsorized_order_stats"] = """
    WITH ev AS (SELECT event_type, event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS c
                FROM events),
    ranked AS (SELECT event_type, c,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY c, event_id) AS rk,
                      CAST(COUNT(*) OVER (PARTITION BY event_type)
                           AS BIGINT) AS n
               FROM ev),
    bounds AS (SELECT event_type,
                      CAST(MIN(c) AS BIGINT) AS p5_cents,
                      CAST(MAX(c) AS BIGINT) AS p95_cents
               FROM ranked
               WHERE rk = (n * 5 + 99) // 100 OR rk = (n * 95 + 99) // 100
               GROUP BY 1),
    clipped AS (SELECT r.event_type, r.n,
                       GREATEST(b.p5_cents, LEAST(b.p95_cents, r.c)) AS wc,
                       CASE WHEN r.c < b.p5_cents THEN 1 ELSE 0 END AS lo,
                       CASE WHEN r.c > b.p95_cents THEN 1 ELSE 0 END AS hi,
                       b.p5_cents, b.p95_cents
                FROM ranked r JOIN bounds b ON r.event_type = b.event_type)
    SELECT event_type, MAX(n) AS n,
           MAX(p5_cents) AS p5_cents, MAX(p95_cents) AS p95_cents,
           CAST(SUM(lo) AS BIGINT) AS n_clipped_low,
           CAST(SUM(hi) AS BIGINT) AS n_clipped_high,
           ROUND(CAST(SUM(wc) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) / 100.0,
                 6) AS winsorized_mean
    FROM clipped GROUP BY 1
"""

_ORACLES["events_mad_outliers"] = """
    WITH ev AS (SELECT event_type, event_id,
                       CAST(ROUND(value * 100, 0) AS BIGINT) AS c
                FROM events),
    ranked AS (SELECT event_type, c,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY c, event_id) AS rk,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM ev),
    med AS (SELECT event_type, c AS med FROM ranked WHERE rk = (n + 1) // 2),
    dev AS (SELECT e.event_type, e.event_id, e.c, m.med,
                   ABS(e.c - m.med) AS d
            FROM ev e JOIN med m ON e.event_type = m.event_type),
    dranked AS (SELECT event_type, d,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY d, event_id) AS rk,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM dev),
    mad AS (SELECT event_type, d AS mad FROM dranked WHERE rk = (n + 1) // 2)
    SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(dev.med) AS BIGINT) AS median_cents,
           CAST(MAX(mad.mad) AS BIGINT) AS mad_cents,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY 1
"""

_ORACLES["events_benford_audit"] = """
    WITH ev AS (SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
                FROM events
                WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 0),
    obs AS (SELECT CAST(SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM ev GROUP BY 1),
    n_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
    p AS (SELECT obs.digit, obs.n_obs, n_t.n,
                 CASE obs.digit
                     WHEN 1 THEN 0.301029995663981
                     WHEN 2 THEN 0.176091259055681
                     WHEN 3 THEN 0.124938736608300
                     WHEN 4 THEN 0.096910013008056
                     WHEN 5 THEN 0.079181246047625
                     WHEN 6 THEN 0.066946789630613
                     WHEN 7 THEN 0.057991946977687
                     WHEN 8 THEN 0.051152522447381
                     ELSE 0.045757490560675 END AS pd
          FROM obs, n_t)
    SELECT digit, n_obs,
           ROUND(CAST(n AS DOUBLE) * pd, 6) AS expected,
           ROUND((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pd)
                 * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pd)
                 / (CAST(n AS DOUBLE) * pd), 6) AS chi2_term
    FROM p
"""

_ORACLES["customers_nps_bayes_shrinkage"] = """
    WITH conv AS (SELECT o_custkey,
                         MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                             AS is_conv
                  FROM orders GROUP BY 1),
    nation AS (SELECT c.c_nationkey,
                      CAST(COUNT(*) AS BIGINT) AS n_cust,
                      CAST(SUM(COALESCE(v.is_conv, 0)) AS BIGINT) AS k_conv
               FROM customer c LEFT JOIN conv v ON c.c_custkey = v.o_custkey
               GROUP BY 1),
    rated AS (SELECT c_nationkey, n_cust, k_conv,
                     CAST(ROUND(CAST(k_conv AS DOUBLE) / n_cust, 6)
                          AS DECIMAL(9,6)) AS rate
              FROM nation),
    pm AS (SELECT ROUND(CAST(SUM(rate) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE), 6) AS m
           FROM rated),
    pv AS (SELECT MAX(m) AS m,
                  ROUND(CAST(SUM(CAST(ROUND(
                            (CAST(rate AS DOUBLE) - m)
                            * (CAST(rate AS DOUBLE) - m), 12)
                        AS DECIMAL(28,12))) AS DOUBLE)
                        / (CAST(COUNT(*) AS DOUBLE) - 1.0), 12) AS v
           FROM rated, pm)
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey, n_cust, k_conv,
           CAST(rate AS DOUBLE) AS raw_rate,
           ROUND((CAST(k_conv AS DOUBLE)
                  + m * ROUND(m * (1.0 - m) / v - 1.0, 6))
                 / (CAST(n_cust AS DOUBLE)
                    + ROUND(m * (1.0 - m) / v - 1.0, 6)), 6) AS shrunk_rate
    FROM rated, pv
"""

_ORACLES["lineitem_price_elasticity"] = """
    WITH rows_t AS (
        SELECT p.p_brand,
               CAST(ROUND(LN(ROUND(l.l_extendedprice, 2)), 12)
                    AS DECIMAL(28,12)) AS x,
               CAST(ROUND(LN(CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE)),
                          12) AS DECIMAL(28,12)) AS y,
               CAST(ROUND(LN(ROUND(l.l_extendedprice, 2))
                          * LN(CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE)),
                          12) AS DECIMAL(28,12)) AS xy,
               CAST(ROUND(LN(ROUND(l.l_extendedprice, 2))
                          * LN(ROUND(l.l_extendedprice, 2)), 12)
                    AS DECIMAL(28,12)) AS xx
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    agg AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(xy) AS sxy, SUM(xx) AS sxx
            FROM rows_t GROUP BY 1)
    SELECT p_brand, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM agg
"""


_ORACLES["events_gap_fill_interpolate"] = """
    WITH hourly AS (SELECT event_type,
                           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM hourly),
    g AS (SELECT UNNEST(generate_series(b.mn, b.mx, INTERVAL 1 HOUR))
                     AS hr
          FROM b),
    spine AS (SELECT t.event_type, g.hr
              FROM (SELECT DISTINCT event_type FROM hourly) t, g),
    j AS (SELECT s.event_type, s.hr, h.c
          FROM spine s LEFT JOIN hourly h
            ON s.event_type = h.event_type AND s.hr = h.hr),
    w AS (SELECT event_type, hr, c,
                 LAST_VALUE(c IGNORE NULLS) OVER
                     (PARTITION BY event_type ORDER BY hr
                      ROWS UNBOUNDED PRECEDING) AS prev_c,
                 LAST_VALUE(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hr
                           ROWS UNBOUNDED PRECEDING) AS prev_hr,
                 FIRST_VALUE(c IGNORE NULLS) OVER
                     (PARTITION BY event_type ORDER BY hr
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS next_c,
                 FIRST_VALUE(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
                     OVER (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS next_hr
          FROM j)
    SELECT event_type, hr, c IS NULL AS was_gap,
           ROUND(CASE
                     WHEN c IS NOT NULL THEN CAST(c AS DOUBLE)
                     WHEN prev_c IS NULL THEN CAST(next_c AS DOUBLE)
                     WHEN next_c IS NULL THEN CAST(prev_c AS DOUBLE)
                     ELSE CAST(prev_c AS DOUBLE)
                          + (CAST(next_c AS DOUBLE) - CAST(prev_c AS DOUBLE))
                            * (CAST(CAST(date_diff('hour', prev_hr, hr)
                                         AS BIGINT) AS DOUBLE)
                               / CAST(CAST(date_diff('hour', prev_hr, next_hr)
                                           AS BIGINT) AS DOUBLE))
                 END, 6) AS filled
    FROM w
"""

_ORACLES["events_haar_wavelet_energy"] = """
    WITH hourly AS (SELECT event_type,
                           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
    b AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM hourly),
    g AS (SELECT UNNEST(generate_series(b.mn, b.mx, INTERVAL 1 HOUR))
                     AS hr,
                 b.mn
          FROM b),
    spine AS (SELECT t.event_type, g.hr, g.mn
              FROM (SELECT DISTINCT event_type FROM hourly) t, g),
    series AS (SELECT s.event_type,
                      CAST(date_diff('hour', s.mn, s.hr) AS BIGINT) AS idx,
                      CAST(COALESCE(h.c, 0) AS BIGINT) AS v
               FROM spine s LEFT JOIN hourly h
                 ON s.event_type = h.event_type AND s.hr = h.hr),
    l1 AS (SELECT event_type, idx // 2 AS pi,
                  CAST(SUM(CASE WHEN idx % 2 = 0 THEN v ELSE -v END)
                       AS BIGINT) AS d,
                  CAST(SUM(v) AS BIGINT) AS a
           FROM series GROUP BY 1, 2),
    l2 AS (SELECT event_type, pi // 2 AS pi,
                  CAST(SUM(CASE WHEN pi % 2 = 0 THEN a ELSE -a END)
                       AS BIGINT) AS d,
                  CAST(SUM(a) AS BIGINT) AS a
           FROM l1 GROUP BY 1, 2),
    l3 AS (SELECT event_type, pi // 2 AS pi,
                  CAST(SUM(CASE WHEN pi % 2 = 0 THEN a ELSE -a END)
                       AS BIGINT) AS d,
                  CAST(SUM(a) AS BIGINT) AS a
           FROM l2 GROUP BY 1, 2)
    SELECT event_type, CAST(1 AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(d * d) AS BIGINT) AS energy
    FROM l1 GROUP BY 1
    UNION ALL
    SELECT event_type, CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(d * d) AS BIGINT)
    FROM l2 GROUP BY 1
    UNION ALL
    SELECT event_type, CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(SUM(d * d) AS BIGINT)
    FROM l3 GROUP BY 1
"""

_ORACLES["events_ewma_crossover"] = """
    WITH RECURSIVE cnt AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2),
    o AS (SELECT event_type, c,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                     AS rn
          FROM cnt),
    h(event_type, rn, f, s, prev_sign, crossings) AS (
        SELECT event_type, rn, c, c, 0, CAST(0 AS BIGINT)
        FROM o WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               (CAST(0.4 AS DOUBLE) * e.c) + (CAST(0.6 AS DOUBLE) * h.f),
               (CAST(0.1 AS DOUBLE) * e.c) + (CAST(0.9 AS DOUBLE) * h.s),
               CASE WHEN ((CAST(0.4 AS DOUBLE) * e.c)
                          + (CAST(0.6 AS DOUBLE) * h.f))
                         > ((CAST(0.1 AS DOUBLE) * e.c)
                            + (CAST(0.9 AS DOUBLE) * h.s)) THEN 1
                    WHEN ((CAST(0.4 AS DOUBLE) * e.c)
                          + (CAST(0.6 AS DOUBLE) * h.f))
                         < ((CAST(0.1 AS DOUBLE) * e.c)
                            + (CAST(0.9 AS DOUBLE) * h.s)) THEN -1
                    ELSE h.prev_sign END,
               h.crossings
               + CASE WHEN h.prev_sign <> 0
                       AND ((CAST(0.4 AS DOUBLE) * e.c)
                            + (CAST(0.6 AS DOUBLE) * h.f))
                           > ((CAST(0.1 AS DOUBLE) * e.c)
                              + (CAST(0.9 AS DOUBLE) * h.s))
                       AND h.prev_sign = -1 THEN 1
                      WHEN h.prev_sign <> 0
                       AND ((CAST(0.4 AS DOUBLE) * e.c)
                            + (CAST(0.6 AS DOUBLE) * h.f))
                           < ((CAST(0.1 AS DOUBLE) * e.c)
                              + (CAST(0.9 AS DOUBLE) * h.s))
                       AND h.prev_sign = 1 THEN 1
                      ELSE 0 END
        FROM h JOIN o e
          ON e.event_type = h.event_type AND e.rn = h.rn + 1)
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           ROUND(f, 6) AS ewma_fast, ROUND(s, 6) AS ewma_slow,
           CAST(crossings AS BIGINT) AS n_crossings
    FROM h
    QUALIFY rn = MAX(rn) OVER (PARTITION BY event_type)
"""

_ORACLES["events_page_hinkley_drift"] = """
    WITH RECURSIVE cnt AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS c
        FROM events GROUP BY 1, 2),
    mu AS (SELECT event_type,
                  ROUND(SUM(c) / COUNT(*), 6) AS mu
           FROM cnt GROUP BY 1),
    o AS (SELECT cnt.event_type, cnt.c, mu.mu,
                 ROW_NUMBER() OVER (PARTITION BY cnt.event_type
                                    ORDER BY cnt.hr) AS rn
          FROM cnt JOIN mu ON cnt.event_type = mu.event_type),
    h(event_type, rn, m, m_min, n_alarms, first_alarm) AS (
        SELECT event_type, rn,
               (c - mu - CAST(0.5 AS DOUBLE)),
               LEAST(CAST(0.0 AS DOUBLE), (c - mu - CAST(0.5 AS DOUBLE))),
               CASE WHEN (c - mu - CAST(0.5 AS DOUBLE))
                         - LEAST(CAST(0.0 AS DOUBLE),
                                 (c - mu - CAST(0.5 AS DOUBLE)))
                        > CAST(50.0 AS DOUBLE)
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END,
               CASE WHEN (c - mu - CAST(0.5 AS DOUBLE))
                         - LEAST(CAST(0.0 AS DOUBLE),
                                 (c - mu - CAST(0.5 AS DOUBLE)))
                        > CAST(50.0 AS DOUBLE)
                    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        FROM o WHERE rn = 1
        UNION ALL
        SELECT e.event_type, e.rn,
               h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE)),
               LEAST(h.m_min, h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE))),
               h.n_alarms
               + CASE WHEN (h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE)))
                           - LEAST(h.m_min,
                                   h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE)))
                          > CAST(50.0 AS DOUBLE) THEN 1 ELSE 0 END,
               CASE WHEN h.first_alarm > 0 THEN h.first_alarm
                    WHEN (h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE)))
                         - LEAST(h.m_min,
                                 h.m + (e.c - e.mu - CAST(0.5 AS DOUBLE)))
                        > CAST(50.0 AS DOUBLE) THEN e.rn
                    ELSE CAST(0 AS BIGINT) END
        FROM h JOIN o e
          ON e.event_type = h.event_type AND e.rn = h.rn + 1)
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           ROUND(m, 6) AS m_final, ROUND(m_min, 6) AS m_min,
           ROUND(m - m_min, 6) AS ph_stat,
           CAST(n_alarms AS BIGINT) AS n_alarms,
           CAST(first_alarm AS BIGINT) AS first_alarm_at
    FROM h
    QUALIFY rn = MAX(rn) OVER (PARTITION BY event_type)
"""


_ORACLES["text_simpson_diversity"] = r"""
    WITH tok AS (SELECT source,
                        UNNEST(string_split_regex(lower(trim(text)), '\s+'))
                            AS token
                 FROM documents),
    cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_i
            FROM tok WHERE token <> '' GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(n_i) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS vocab,
                   CAST(SUM(n_i * (n_i - 1)) AS BIGINT) AS coll
            FROM cnt GROUP BY 1),
    sh AS (SELECT cnt.source,
                  SUM(CAST(ROUND(-(CAST(n_i AS DOUBLE) / CAST(n AS DOUBLE))
                                 * LN(CAST(n_i AS DOUBLE) / CAST(n AS DOUBLE)),
                                 12) AS DECIMAL(28,12))) AS s
           FROM cnt JOIN tot ON cnt.source = tot.source GROUP BY 1)
    SELECT tot.source, n AS n_tokens, vocab,
           ROUND(CAST(coll AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)),
                 6) AS simpson,
           ROUND(CAST(s AS DOUBLE), 6) AS shannon
    FROM tot JOIN sh ON tot.source = sh.source
"""

_ORACLES["text_js_divergence"] = r"""
    WITH tok AS (SELECT source,
                        UNNEST(string_split_regex(lower(trim(text)), '\s+'))
                            AS token
                 FROM documents),
    cnt AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok WHERE token <> '' GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    vocab AS (SELECT DISTINCT token FROM cnt),
    dense AS (SELECT t.source, v.token,
                     CAST(COALESCE(c.c, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
                         AS p
              FROM vocab v CROSS JOIN tot t
              LEFT JOIN cnt c ON c.source = t.source AND c.token = v.token),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b, a.token,
                     a.p AS pa, b.p AS pb
              FROM dense a JOIN dense b
                ON a.token = b.token AND a.source < b.source)
    SELECT source_a, source_b,
           CAST(SUM(CASE WHEN pa > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN pb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           ROUND((CAST(SUM(CASE WHEN pa > 0
                               THEN CAST(ROUND(pa * LN(2.0 * pa / (pa + pb)),
                                               12) AS DECIMAL(28,12))
                               ELSE CAST(0.0 AS DECIMAL(28,12)) END)
                       AS DOUBLE)
                  + CAST(SUM(CASE WHEN pb > 0
                                 THEN CAST(ROUND(pb * LN(2.0 * pb / (pa + pb)),
                                                 12) AS DECIMAL(28,12))
                                 ELSE CAST(0.0 AS DECIMAL(28,12)) END)
                         AS DOUBLE)) / 2.0, 6) AS jsd
    FROM pairs GROUP BY 1, 2
"""

_ORACLES["text_minhash_jaccard_estimate"] = f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id,
               min(md5('0:' || shingle)) AS h0, min(md5('1:' || shingle)) AS h1,
               min(md5('2:' || shingle)) AS h2, min(md5('3:' || shingle)) AS h3,
               min(md5('4:' || shingle)) AS h4, min(md5('5:' || shingle)) AS h5
        FROM sh GROUP BY doc_id),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM sh GROUP BY doc_id),
    bands AS (
        SELECT doc_id, '0:' || h0 || h1 AS band_key FROM sig
        UNION ALL SELECT doc_id, '1:' || h2 || h3 FROM sig
        UNION ALL SELECT doc_id, '2:' || h4 || h5 FROM sig),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST((CASE WHEN fa.h0 = fb.h0 THEN 1 ELSE 0 END)
                    + (CASE WHEN fa.h1 = fb.h1 THEN 1 ELSE 0 END)
                    + (CASE WHEN fa.h2 = fb.h2 THEN 1 ELSE 0 END)
                    + (CASE WHEN fa.h3 = fb.h3 THEN 1 ELSE 0 END)
                    + (CASE WHEN fa.h4 = fb.h4 THEN 1 ELSE 0 END)
                    + (CASE WHEN fa.h5 = fb.h5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS est_matches,
               i.n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
        FROM cand c
        JOIN sig fa ON c.doc_a = fa.doc_id
        JOIN sig fb ON c.doc_b = fb.doc_id
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
    SELECT doc_a, doc_b, est_matches,
           ROUND(CAST(est_matches AS DOUBLE) / 6.0, 6) AS jaccard_est,
           ROUND(n_inter / (n_a + n_b - n_inter), 6) AS jaccard_exact,
           ROUND(ABS(ROUND(CAST(est_matches AS DOUBLE) / 6.0, 6)
                     - ROUND(n_inter / (n_a + n_b - n_inter), 6)),
                 6) AS abs_err
    FROM scored
"""

_ORACLES["orders_market_basket_lift"] = """
    WITH basket AS (SELECT DISTINCT l.l_orderkey, p.p_brand AS brand
                    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n_o AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
            FROM basket),
    supp AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS supp
             FROM basket GROUP BY 1),
    pair AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
                    CAST(COUNT(*) AS BIGINT) AS pair_n
             FROM basket a JOIN basket b
               ON a.l_orderkey = b.l_orderkey AND a.brand < b.brand
             GROUP BY 1, 2
             HAVING COUNT(*) >= 5)
    SELECT brand_a, brand_b, pair_n, sa.supp AS supp_a, sb.supp AS supp_b,
           ROUND(CAST(pair_n AS DOUBLE) * CAST(n_orders AS DOUBLE)
                 / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)),
                 6) AS lift,
           ROUND(CAST(pair_n AS DOUBLE) / CAST(sa.supp AS DOUBLE),
                 6) AS conf_a_to_b
    FROM pair
    JOIN supp sa ON brand_a = sa.brand
    JOIN supp sb ON brand_b = sb.brand
    CROSS JOIN n_o
"""

_ORACLES["agg_kmv_setops"] = """
    WITH ev AS (SELECT user_id,
                       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           AS in_p,
                       MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                           AS in_c
                FROM events
                WHERE event_type IN ('purchase', 'click')
                GROUP BY 1),
    hashed AS (SELECT user_id, in_p, in_c,
                      list_sum(list_transform(range(1, 13), i ->
                          (instr('0123456789abcdef',
                                 md5(CAST(user_id AS VARCHAR))[i:i]) - 1)
                          * (16 ** (12 - i)))) / 281474976710656.0 AS h
               FROM ev),
    sample_t AS (SELECT * FROM hashed ORDER BY h LIMIT 64),
    samp AS (SELECT MAX(h) AS h_k,
                    CAST(COUNT(*) AS BIGINT) AS n_samp,
                    CAST(SUM(in_p * in_c) AS BIGINT) AS both_samp
             FROM sample_t),
    exact AS (SELECT CAST(SUM(in_p) AS BIGINT) AS d_purchase,
                     CAST(SUM(in_c) AS BIGINT) AS d_click,
                     CAST(COUNT(*) AS BIGINT) AS d_union,
                     CAST(SUM(in_p * in_c) AS BIGINT) AS d_inter
              FROM hashed)
    SELECT d_purchase, d_click, d_union, d_inter,
           CASE WHEN d_union <= 64 THEN CAST(d_union AS DOUBLE)
                ELSE ROUND(63 / h_k, 0) END AS union_est,
           CASE WHEN d_union <= 64 THEN CAST(d_inter AS DOUBLE)
                ELSE ROUND((CAST(both_samp AS DOUBLE) / 64.0)
                           * (63 / h_k), 0) END AS inter_est
    FROM exact, samp
"""

_ORACLES["join_interval_overlap_weighted"] = """
    WITH ev AS (SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                           AS s
                FROM events),
    iv AS (SELECT s, s + 300 AS e FROM ev),
    cand AS (SELECT s, e, c.d, c.i
             FROM iv,
                  LATERAL (SELECT DISTINCT * FROM (VALUES
                      (s - s % 86400, (s % 86400) // 21600),
                      ((e - 1) - (e - 1) % 86400,
                       ((e - 1) % 86400) // 21600)) AS t(d, i)) AS c),
    scored AS (SELECT CASE WHEN i = 0 THEN 'night'
                           WHEN i = 1 THEN 'morning'
                           WHEN i = 2 THEN 'afternoon'
                           ELSE 'evening' END AS band,
                      LEAST(e, d + i * 21600 + 21600)
                      - GREATEST(s, d + i * 21600) AS ov
               FROM cand)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_events_touching,
           CAST(SUM(ov) AS BIGINT) AS total_overlap_seconds
    FROM scored WHERE ov > 0 GROUP BY 1
"""


_ORACLES["events_anova_f"] = """
    WITH ev AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_g,
                 CAST(SUM(CAST(cents AS DECIMAL(38,0))
                          * CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q_g
          FROM ev GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
                   CAST(SUM(s_g) AS DECIMAL(38,0)) AS s,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   SUM(CAST(ROUND(CAST(q_g AS DOUBLE)
                                  - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                                    / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)))
                       AS ssw,
                   SUM(CAST(ROUND(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                                  / CAST(n_g AS DOUBLE), 6) AS DECIMAL(38,6)))
                       AS sum_sq_over_n
            FROM g),
    frow AS (SELECT CAST(k - 1 AS BIGINT) AS df_between,
                    CAST(n - k AS BIGINT) AS df_within,
                    ROUND(((CAST(sum_sq_over_n AS DOUBLE)
                            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                              / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
                          / (CAST(ssw AS DOUBLE)
                             / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
                        AS f_stat
             FROM tot)
    SELECT event_type, n_g,
           ROUND(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) / 100.0, 6) AS mean_g,
           df_between, df_within, f_stat
    FROM g, frow
"""

_ORACLES["events_welch_ttest"] = """
    WITH ev AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events
                WHERE event_type IN ('click', 'purchase')),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
                 CAST(SUM(CAST(cents AS DECIMAL(38,0))
                          * CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS q
          FROM ev GROUP BY 1),
    a AS (SELECT n AS n_a, s AS s_a, q AS q_a FROM g WHERE event_type = 'click'),
    b AS (SELECT n AS n_b, s AS s_b, q AS q_b FROM g WHERE event_type = 'purchase'),
    j AS (SELECT *,
                 CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                  / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)
                     / CAST(n_a AS DOUBLE) AS sea,
                 (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                  / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)
                     / CAST(n_b AS DOUBLE) AS seb
          FROM a, b)
    SELECT n_a, n_b,
           ROUND(ma / 100.0, 6) AS mean_a,
           ROUND(mb / 100.0, 6) AS mean_b,
           ROUND((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
           ROUND((sea + seb) * (sea + seb)
                 / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
                    + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS welch_df
    FROM j
"""

_ORACLES["orders_nelson_aalen"] = """
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
    hz AS (SELECT MAX(d) AS end_d FROM o),
    pc AS (SELECT o_custkey, MIN(d) AS first_d FROM o GROUP BY 1),
    sec AS (SELECT o.o_custkey, MIN(d) AS second_d
            FROM o JOIN pc USING (o_custkey)
            WHERE d > first_d GROUP BY 1),
    ep AS (SELECT (second_d IS NOT NULL) AS is_event,
                  CAST(FLOOR(date_diff('day', first_d,
                                       COALESCE(second_d, end_d)) / 30.0)
                       AS BIGINT) AS interval_idx
           FROM pc LEFT JOIN sec USING (o_custkey), hz),
    pi AS (SELECT interval_idx,
                  CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_event,
                  CAST(COUNT(*) AS BIGINT) AS n_end
           FROM ep GROUP BY 1),
    rk AS (SELECT interval_idx, n_event,
                  CAST(SUM(n_end) OVER (ORDER BY interval_idx DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS n_risk
           FROM pi)
    SELECT interval_idx, n_risk, n_event,
           ROUND(CAST(n_event AS DOUBLE) / CAST(n_risk AS DOUBLE), 6) AS hazard,
           ROUND(CAST(SUM(CAST(ROUND(CAST(n_event AS DOUBLE)
                                     / CAST(n_risk AS DOUBLE), 12)
                               AS DECIMAL(28,12)))
                      OVER (ORDER BY interval_idx
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE), 6) AS cum_hazard
    FROM rk
"""

_ORACLES["events_stl_decompose"] = """
    WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
                           CAST(COUNT(*) AS BIGINT) AS y
                    FROM events GROUP BY 1),
    t AS (SELECT h, y,
                 CAST(SUM(y) OVER (ORDER BY h
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                      AS BIGINT) AS win_sum,
                 CAST(COUNT(*) OVER (ORDER BY h
                      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                      AS BIGINT) AS win_n
          FROM hourly),
    det AS (SELECT CAST(EXTRACT(hour FROM h) AS BIGINT) AS hour_of_day,
                   CAST(ROUND(CAST(y AS DOUBLE)
                              - CAST(win_sum AS DOUBLE) / 25.0, 12)
                        AS DECIMAL(28,12)) AS dq
            FROM t WHERE win_n = 25),
    seas AS (SELECT hour_of_day, CAST(COUNT(*) AS BIGINT) AS n_hours,
                    CAST(ROUND(CAST(SUM(dq) AS DOUBLE)
                               / CAST(COUNT(*) AS DOUBLE), 12)
                         AS DECIMAL(28,12)) AS seasonal_q
             FROM det GROUP BY 1),
    resid AS (SELECT hour_of_day, n_hours, seasonal_q,
                     SUM(CAST(ROUND(ABS(CAST(dq AS DOUBLE)
                                        - CAST(seasonal_q AS DOUBLE)), 12)
                              AS DECIMAL(28,12))) AS asum
              FROM det JOIN seas USING (hour_of_day)
              GROUP BY 1, 2, 3)
    SELECT hour_of_day, n_hours,
           ROUND(CAST(seasonal_q AS DOUBLE), 6) AS seasonal,
           ROUND(CAST(asum AS DOUBLE) / CAST(n_hours AS DOUBLE), 6)
               AS mean_abs_resid
    FROM resid
"""

_ORACLES["events_sax_motifs"] = """
    WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
                           CAST(COUNT(*) AS BIGINT) AS y
                    FROM events GROUP BY 1),
    n_total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hourly),
    ranked AS (SELECT h, y,
                      CAST(ROW_NUMBER() OVER (ORDER BY y, h) AS BIGINT) AS rnk
               FROM hourly),
    picks AS (SELECT
                MIN(CASE WHEN rnk = CAST(FLOOR((n + 1) / 4.0) AS BIGINT)
                         THEN y END) AS q1,
                MIN(CASE WHEN rnk = CAST(FLOOR((n + 1) * 2 / 4.0) AS BIGINT)
                         THEN y END) AS q2,
                MIN(CASE WHEN rnk = CAST(FLOOR((n + 1) * 3 / 4.0) AS BIGINT)
                         THEN y END) AS q3
              FROM ranked, n_total),
    sym AS (SELECT h,
                   CASE WHEN y <= q1 THEN 'a'
                        WHEN y <= q2 THEN 'b'
                        WHEN y <= q3 THEN 'c'
                        ELSE 'd' END AS s
            FROM hourly, picks),
    grams AS (SELECT s || LEAD(s, 1) OVER (ORDER BY h)
                       || LEAD(s, 2) OVER (ORDER BY h) AS motif
              FROM sym)
    SELECT motif, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM grams WHERE length(motif) = 3
    GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10
"""

_ORACLES["profile_partition_skew"] = """
    WITH fams AS (
        SELECT 'orders.o_custkey' AS family, o_custkey AS k FROM orders
        UNION ALL
        SELECT 'lineitem.l_partkey', l_partkey FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_suppkey', l_suppkey FROM lineitem),
    counts AS (SELECT family, k, CAST(COUNT(*) AS BIGINT) AS c
               FROM fams GROUP BY 1, 2),
    ranked AS (SELECT family, c,
                      CAST(ROW_NUMBER() OVER (PARTITION BY family
                           ORDER BY c, k) AS BIGINT) AS i
               FROM counts),
    tot AS (SELECT family,
                   CAST(SUM(c) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(MAX(c) AS BIGINT) AS top1,
                   CAST(SUM(CAST(i AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                        AS DECIMAL(38,0)) AS ic
            FROM ranked GROUP BY 1),
    t10 AS (SELECT r.family, CAST(SUM(c) AS BIGINT) AS top10
            FROM ranked r JOIN tot USING (family)
            WHERE i > n_keys - 10 GROUP BY 1)
    SELECT family, n_rows, n_keys,
           ROUND(CAST(top1 AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS top1_share,
           ROUND(CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS top10_share,
           ROUND(2.0 * CAST(ic AS DOUBLE)
                 / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
                 - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 6)
               AS gini
    FROM tot JOIN t10 USING (family)
"""

_ORACLES["join_semi_bloom_pruned"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS DOUBLE) AS total_price
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate >= TIMESTAMP '1995-09-01')
    GROUP BY 1
"""

_ORACLES["text_term_burstiness"] = r"""
    WITH td AS (
        SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id,
                     UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS term
              FROM documents)
        GROUP BY 1, 2),
    terms AS (SELECT term,
                     CAST(COUNT(*) AS BIGINT) AS df,
                     CAST(SUM(c) AS BIGINT) AS cf,
                     CAST(SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
                          AS DECIMAL(38,0)) AS c2
              FROM td GROUP BY 1
              HAVING COUNT(*) >= 20)
    SELECT term, df, cf,
           ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burstiness,
           ROUND(((CAST(c2 AS DOUBLE) - CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE)
                   / CAST(df AS DOUBLE)) / CAST(df AS DOUBLE))
                 / (CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS fano
    FROM terms
    ORDER BY burstiness DESC, term LIMIT 20
"""

_ORACLES["text_code_detect"] = r"""
    WITH docs AS (SELECT source, text,
                         CAST(length(text) AS BIGINT) AS n_chars
                  FROM documents WHERE length(text) > 0),
    feats AS (SELECT source,
                     ROUND(CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]'))
                                AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
                         AS symbol_ratio,
                     ROUND(CAST(len(regexp_extract_all(text, '(^|\n)(    |\t)'))
                                AS DOUBLE)
                           / CAST(len(regexp_extract_all(text, '\n')) + 1
                                  AS DOUBLE), 6) AS indent_ratio,
                     ROUND(CAST(n_chars AS DOUBLE)
                           / CAST(len(regexp_extract_all(text, '\n')) + 1
                                  AS DOUBLE), 6) AS mean_line_len
              FROM docs),
    scored AS (SELECT source, symbol_ratio,
                      ((CASE WHEN symbol_ratio > 0.03 THEN 1 ELSE 0 END)
                       + (CASE WHEN indent_ratio > 0.2 THEN 1 ELSE 0 END)
                       + (CASE WHEN mean_line_len < 40.0 THEN 1 ELSE 0 END))
                          >= 2 AS is_code
               FROM feats)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           ROUND(CAST(SUM(CASE WHEN is_code THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS code_rate,
           ROUND(CAST(SUM(CAST(symbol_ratio AS DECIMAL(28,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_symbol_ratio
    FROM scored GROUP BY 1
"""

_ORACLES["sample_soft_dedup_weights"] = """
    WITH docs AS (SELECT source, md5(text) AS h FROM documents),
    clusters AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS s FROM docs GROUP BY 1),
    weighted AS (SELECT source, h,
                        CAST(ROUND(1.0 / CAST(s AS DOUBLE), 12)
                             AS DECIMAL(28,12)) AS w
                 FROM docs JOIN clusters USING (h))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_clusters_touched,
           ROUND(CAST(SUM(w) AS DOUBLE), 6) AS effective_docs,
           ROUND(1.0 - CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS dup_rate
    FROM weighted GROUP BY 1
"""

# oracle is the DIRECT theta join the date binning replaces (lossless)
_ORACLES["orders_duplicate_invoices"] = """
    WITH o AS (SELECT o_custkey, o_orderkey AS k,
                      CAST(date_diff('day', DATE '1970-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT) AS ed,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
    pairs AS (SELECT a.o_custkey, ABS(a.ed - b.ed) AS days_apart
              FROM o a JOIN o b
                ON a.o_custkey = b.o_custkey AND a.k < b.k
               AND ABS(a.ed - b.ed) <= 3
               AND 100 * ABS(a.cents - b.cents) <= GREATEST(a.cents, b.cents))
    SELECT CAST(days_apart AS BIGINT) AS days_apart,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM pairs GROUP BY 1
"""

_ORACLES["similarity_power_iteration"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    x AS (SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS i, e[t.i] AS xi
          FROM v, UNNEST(range(1, len(e) + 1)) AS t(i)),
    v0 AS (SELECT CAST(t.i AS BIGINT) AS i,
                  CAST(0.125 AS DECIMAL(28,12)) AS vi
           FROM UNNEST(range(0, 64)) AS t(i)),
    s1 AS (SELECT vec_id,
                  SUM(CAST(ROUND(xi * CAST(vi AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS sv
           FROM x JOIN v0 USING (i) GROUP BY 1),
    y1 AS (SELECT i,
                  SUM(CAST(ROUND(xi * CAST(sv AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS yi
           FROM x JOIN s1 USING (vec_id) GROUP BY 1),
    m1 AS (SELECT MAX(ABS(yi)) AS m FROM y1),
    v1 AS (SELECT i, CAST(ROUND(CAST(yi AS DOUBLE) / CAST(m AS DOUBLE), 12)
                          AS DECIMAL(28,12)) AS vi
           FROM y1, m1),
    s2 AS (SELECT vec_id,
                  SUM(CAST(ROUND(xi * CAST(vi AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS sv
           FROM x JOIN v1 USING (i) GROUP BY 1),
    y2 AS (SELECT i,
                  SUM(CAST(ROUND(xi * CAST(sv AS DOUBLE), 12)
                           AS DECIMAL(28,12))) AS yi
           FROM x JOIN s2 USING (vec_id) GROUP BY 1),
    m2 AS (SELECT MAX(ABS(yi)) AS m FROM y2),
    v2 AS (SELECT i, CAST(ROUND(CAST(yi AS DOUBLE) / CAST(m AS DOUBLE), 12)
                          AS DECIMAL(28,12)) AS vi
           FROM y2, m2)
    SELECT i AS dim_idx,
           ROUND(CAST(vi AS DOUBLE), 6) AS loading,
           ROUND(CAST(m AS DOUBLE), 6) AS growth
    FROM v2, m2
"""

_ORACLES["join_asof_forward"] = """
    WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
                WHERE event_type IN ('click', 'purchase')),
    marked AS (SELECT user_id, ts, event_type,
                      MIN(CASE WHEN event_type = 'click' THEN ts END)
                          OVER (PARTITION BY user_id
                                ORDER BY ts,
                                         CASE WHEN event_type = 'purchase'
                                              THEN 1 ELSE 0 END,
                                         event_id
                                ROWS BETWEEN 1 FOLLOWING
                                         AND UNBOUNDED FOLLOWING) AS fwd_ts
               FROM ev),
    p AS (SELECT user_id,
                 CAST(date_diff('microsecond', ts, fwd_ts) AS BIGINT) AS gap_us
          FROM marked WHERE event_type = 'purchase')
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000
                         THEN gap_us ELSE 0 END) AS BIGINT) AS sum_gap_us,
           CAST(MAX(CASE WHEN gap_us IS NOT NULL AND gap_us <= 3600000000
                         THEN gap_us ELSE 0 END) AS BIGINT) AS max_gap_us
    FROM p GROUP BY 1
"""

_ORACLES["sample_balanced_classes"] = """
    WITH emb AS (SELECT vec_id, label FROM embeddings),
    counts AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
               FROM emb GROUP BY 1),
    nm AS (SELECT CAST(MIN(n) AS BIGINT) AS n_min FROM counts),
    ranked AS (SELECT vec_id, label,
                      CAST(ROW_NUMBER() OVER (PARTITION BY label
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                           AS BIGINT) AS rnk
               FROM emb)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rnk <= n_min THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN rnk <= n_min THEN vec_id ELSE 0 END) AS BIGINT)
               AS kept_id_sum
    FROM ranked, nm GROUP BY 1
"""

_ORACLES["profile_functional_dependency"] = """
    WITH c1 AS (SELECT o_orderkey AS det, o_orderstatus AS dep FROM orders),
    c2 AS (SELECT o_custkey, o_orderpriority FROM orders),
    c3 AS (SELECT l_orderkey, l_linestatus FROM lineitem),
    c4 AS (SELECT l_partkey, l_suppkey FROM lineitem),
    g1 AS (SELECT det, CAST(COUNT(DISTINCT dep) AS BIGINT) AS nd
           FROM c1 GROUP BY 1),
    g2 AS (SELECT o_custkey, CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
               AS nd FROM c2 GROUP BY 1),
    g3 AS (SELECT l_orderkey, CAST(COUNT(DISTINCT l_linestatus) AS BIGINT)
               AS nd FROM c3 GROUP BY 1),
    g4 AS (SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
               AS nd FROM c4 GROUP BY 1),
    u AS (
      SELECT 'orders.o_orderkey->o_orderstatus' AS fd, nd FROM g1
      UNION ALL
      SELECT 'orders.o_custkey->o_orderpriority', nd FROM g2
      UNION ALL
      SELECT 'lineitem.l_orderkey->l_linestatus', nd FROM g3
      UNION ALL
      SELECT 'lineitem.l_partkey->l_suppkey', nd FROM g4)
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS violation_rate,
           CAST(MAX(nd) AS BIGINT) AS max_distinct_dep
    FROM u GROUP BY 1
"""


_ORACLES["events_circular_hour_stats"] = """
    WITH angles(h, c, s) AS (VALUES
        (0, 1.000000000000, 0.000000000000),
        (1, 0.965925826289, 0.258819045103),
        (2, 0.866025403784, 0.500000000000),
        (3, 0.707106781187, 0.707106781187),
        (4, 0.500000000000, 0.866025403784),
        (5, 0.258819045103, 0.965925826289),
        (6, 0.000000000000, 1.000000000000),
        (7, -0.258819045103, 0.965925826289),
        (8, -0.500000000000, 0.866025403784),
        (9, -0.707106781187, 0.707106781187),
        (10, -0.866025403784, 0.500000000000),
        (11, -0.965925826289, 0.258819045103),
        (12, -1.000000000000, 0.000000000000),
        (13, -0.965925826289, -0.258819045103),
        (14, -0.866025403784, -0.500000000000),
        (15, -0.707106781187, -0.707106781187),
        (16, -0.500000000000, -0.866025403784),
        (17, -0.258819045103, -0.965925826289),
        (18, 0.000000000000, -1.000000000000),
        (19, 0.258819045103, -0.965925826289),
        (20, 0.500000000000, -0.866025403784),
        (21, 0.707106781187, -0.707106781187),
        (22, 0.866025403784, -0.500000000000),
        (23, 0.965925826289, -0.258819045103)),
    ev AS (SELECT event_type,
                  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS h
           FROM events),
    grid AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS n_h
             FROM ev GROUP BY 1, 2),
    comp AS (SELECT event_type, grid.h, n_h,
                    CAST(CAST(n_h AS DECIMAL(18,0))
                         * CAST(c AS DECIMAL(13,12)) AS DECIMAL(38,12)) AS cterm,
                    CAST(CAST(n_h AS DECIMAL(18,0))
                         * CAST(s AS DECIMAL(13,12)) AS DECIMAL(38,12)) AS sterm,
                    ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY n_h DESC, grid.h ASC) AS rk
             FROM grid JOIN angles ON grid.h = angles.h),
    agg AS (SELECT event_type,
                   CAST(SUM(n_h) AS BIGINT) AS n_events,
                   CAST(MAX(CASE WHEN rk = 1 THEN h END) AS BIGINT) AS peak_hour,
                   CAST(MAX(CASE WHEN rk = 1 THEN n_h END) AS BIGINT) AS peak_n,
                   CAST(SUM(cterm) AS DECIMAL(38,12)) AS csum,
                   CAST(SUM(sterm) AS DECIMAL(38,12)) AS ssum
            FROM comp GROUP BY 1)
    SELECT event_type, n_events, peak_hour,
           ROUND(CAST(peak_n AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
               AS peak_share,
           ROUND(SQRT(CAST(csum AS DOUBLE) * CAST(csum AS DOUBLE)
                      + CAST(ssum AS DOUBLE) * CAST(ssum AS DOUBLE))
                 / CAST(n_events AS DOUBLE), 6) AS resultant_r
    FROM agg
"""

_ORACLES["orders_lorenz_asymmetry"] = """
    WITH rev AS (SELECT o_custkey,
                        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                             AS BIGINT) AS cents
                 FROM orders GROUP BY 1),
    seg AS (SELECT r.o_custkey, r.cents, c.c_mktsegment AS segment
            FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey),
    totals AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_cust,
                      CAST(SUM(cents) AS DECIMAL(38,0)) AS total_cents
               FROM seg GROUP BY 1),
    flagged AS (SELECT seg.segment, cents, n_cust, total_cents,
                       CASE WHEN CAST(cents AS DECIMAL(38,0)) * n_cust
                                 < total_cents THEN 1 ELSE 0 END AS below,
                       CASE WHEN CAST(cents AS DECIMAL(38,0)) * n_cust
                                 = total_cents THEN 1 ELSE 0 END AS at_mean
                FROM seg JOIN totals ON seg.segment = totals.segment),
    agg AS (SELECT segment,
                   MAX(n_cust) AS n_cust,
                   CAST(SUM(below) AS BIGINT) AS n_below_mean,
                   CAST(SUM(at_mean) AS BIGINT) AS n_at_mean,
                   CAST(SUM(CASE WHEN below = 1 THEN cents ELSE 0 END)
                        AS DECIMAL(38,0)) AS below_cents,
                   MAX(total_cents) AS total_cents
            FROM flagged GROUP BY 1)
    SELECT segment, n_cust, n_below_mean,
           ROUND(CAST(below_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                 + CAST(n_at_mean AS DOUBLE) / (2.0 * CAST(n_cust AS DOUBLE)),
                 6) AS share_below,
           ROUND(CAST(n_below_mean AS DOUBLE) / CAST(n_cust AS DOUBLE)
                 + CAST(below_cents AS DOUBLE) / CAST(total_cents AS DOUBLE)
                 + CAST(n_at_mean AS DOUBLE) / CAST(n_cust AS DOUBLE), 6)
               AS lorenz_s
    FROM agg
"""

_ORACLES["events_turning_points"] = """
    WITH hourly AS (SELECT event_type,
                           DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
    marked AS (SELECT event_type,
                      LAG(c) OVER w AS prev, c AS cur, LEAD(c) OVER w AS nxt
               FROM hourly
               WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    interior AS (SELECT event_type,
                        CASE WHEN (prev < cur AND cur > nxt)
                               OR (prev > cur AND cur < nxt)
                             THEN 1 ELSE 0 END AS turning
                 FROM marked WHERE prev IS NOT NULL AND nxt IS NOT NULL),
    agg AS (SELECT event_type,
                   CAST(COUNT(*) + 2 AS BIGINT) AS n_hours,
                   CAST(SUM(turning) AS BIGINT) AS n_turning
            FROM interior GROUP BY 1)
    SELECT event_type, n_hours, n_turning,
           CAST(2 * (n_hours - 2) AS BIGINT) AS expected_x3,
           ROUND((CAST(n_turning AS DOUBLE)
                  - 2.0 * (CAST(n_hours AS DOUBLE) - 2.0) / 3.0)
                 / SQRT((16.0 * CAST(n_hours AS DOUBLE) - 29.0) / 90.0), 6)
               AS z_score
    FROM agg
"""

_ORACLES["text_length_spectrum"] = r"""
    WITH docs AS (SELECT source,
                         CAST(len(string_split_regex(lower(trim(text)), '\s+'))
                              AS BIGINT) AS ntok
                  FROM documents),
    bucketed AS (SELECT source, ntok,
                        CAST(CASE WHEN ntok >= 8192 THEN 8192 WHEN ntok >= 4096 THEN 4096 WHEN ntok >= 2048 THEN 2048 WHEN ntok >= 1024 THEN 1024 WHEN ntok >= 512 THEN 512 WHEN ntok >= 256 THEN 256 WHEN ntok >= 128 THEN 128 WHEN ntok >= 64 THEN 64 WHEN ntok >= 32 THEN 32 WHEN ntok >= 16 THEN 16 WHEN ntok >= 8 THEN 8 WHEN ntok >= 4 THEN 4 WHEN ntok >= 2 THEN 2 WHEN ntok >= 1 THEN 1 ELSE 0 END AS BIGINT) AS bucket_lo
                 FROM docs),
    spec AS (SELECT source, bucket_lo,
                    CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(ntok) AS BIGINT) AS total_tokens
             FROM bucketed GROUP BY 1, 2)
    SELECT source, bucket_lo, n_docs, total_tokens,
           ROUND(CAST(n_docs AS DOUBLE)
                 / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE), 6)
               AS doc_share
    FROM spec
"""

_ORACLES["orders_interarrival_burstiness"] = """
    WITH o AS (SELECT o_custkey,
                      CAST(date_diff('day', DATE '1992-01-01',
                                     CAST(o_orderdate AS DATE)) AS BIGINT) AS ed,
                      o_orderkey
               FROM orders),
    gaps AS (SELECT o_custkey,
                    ed - LAG(ed) OVER (PARTITION BY o_custkey
                                       ORDER BY ed, o_orderkey) AS d
             FROM o),
    mom AS (SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(d) AS BIGINT) AS sd,
                   CAST(SUM(d * d) AS BIGINT) AS sd2
            FROM gaps WHERE d IS NOT NULL GROUP BY 1
            HAVING COUNT(*) >= 2 AND SUM(d) > 0),
    scored AS (SELECT o_custkey,
                      CAST(ROUND(
                          (SQRT((CAST(k AS DOUBLE) * CAST(sd2 AS DOUBLE)
                                 - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                                / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
                           / (CAST(sd AS DOUBLE) / CAST(k AS DOUBLE)) - 1.0)
                          / (SQRT((CAST(k AS DOUBLE) * CAST(sd2 AS DOUBLE)
                                   - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                                  / (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)))
                             / (CAST(sd AS DOUBLE) / CAST(k AS DOUBLE)) + 1.0),
                          6) AS DECIMAL(18,6)) AS bq
               FROM mom)
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(CAST(SUM(bq) AS DECIMAL(38,6)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_burstiness,
           CAST(SUM(CASE WHEN bq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bursty
    FROM scored s JOIN customer c ON s.o_custkey = c.c_custkey
    GROUP BY 1
"""


def _resolve(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """The single ``_FAMILIES`` function named ``name`` defined in its module."""
    hits = [
        getattr(mod, name)
        for mod in _FAMILIES
        if getattr(getattr(mod, name, None), "__module__", None) == mod.__name__
    ]
    if len(hits) != 1:
        raise ImportError(f"oracle {name!r} names {len(hits)} query functions, expected 1")
    return hits[0]


_FUNCS = {name: _resolve(name) for name in _ORACLES}

#: Registry order: the window first, then ``_ORACLES`` order.
_ORDER = _R16_WINDOW + [n for n in _ORACLES if n not in _R16_WINDOW]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per ``_ORACLES`` key, in the same order as ``oracle_sql()``.

    Ordering contract: the driver certifies a 50-entry PREFIX, so the
    current window (_R16_WINDOW) is moved to the front; the rest keep their
    ``_ORACLES`` order.
    """
    return {name: _wrap(_FUNCS[name]) for name in _ORDER}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI twins for each ``queries()`` entry.

    Ordered identically to queries() (window prefix first) so a harness
    that takes its 50-entry prefix from EITHER dict certifies the same
    set."""
    return {name: _ORACLES[name] for name in _ORDER}
