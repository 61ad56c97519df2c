"""Scaling spot-check for the dedup family (r04 verdict item 8).

No sf1 testdata exists in the sandbox, so this builds a DETERMINISTIC 10x
corpus from sf0.1: ten copies of `documents`, copy 0 verbatim and copies
1-9 with a per-copy ORDER-PRESERVING word substitution (every word w is
renamed to a 6-hex token md5(w || copy)).  The rename is a bijection on
the vocabulary, so within a copy every 3-gram shingle maps 1:1 to an
original shingle — each copy's near-duplicate pair structure is EXACTLY
the base corpus's — while across copies the substitutions differ, so
copies share no shingles and the corpus does not degenerate into
cross-copy duplicate groups.  (A first attempt SORTED words per copy;
that canonicalizes every doc over the small vocab and turned the whole
copy into one near-dup cluster — 1200x the base pair count.  The
substitution keeps selectivity flat: rows_10x ~ 10 * rows_1x.)
`embeddings` copies rotate the vector by `copy` positions — norm and
coordinate distribution preserved, cross-copy cosine decorrelated.

Writes BENCH_SCALING.json: per-query wall seconds at 1x vs 10x (best of
2 after a warm-up pass at 1x) plus the wall-time slope (t10/t1; linear
scaling on 32 fixed cores = 10).

Usage: python tools/bench_scaling.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession, functions as F

import __spark_entry__ as entry_mod
from bench import _clear_persisted
from simple_land_registry_data_ingestion_spark.session import get_spark
from simple_land_registry_data_ingestion_spark.tables import load

BASE = "/root/testdata/sf0.1"
SCALED = "/root/repo/.scratch/sf1"
COPIES = 10

#: Registry names timed at 1x and 10x, in output order.
QUERIES = (
    # dedup family (documents)
    "dedup_jaccard_prefix",
    "dedup_prefix_index_build",
    "dedup_ngram_jaccard",
    "dedup_semdedup",
    "dedup_exact_substring",
    "dedup_minhash_lsh",
    # r11: the two LSH-candidate exact scorers (shared checkpointed
    # front half — see _minhash_candidate_sets)
    "dedup_jaccard_lsh",
    "dedup_containment_lsh",
    # r11 close: scale rows for every remaining bench-top-40 batch query
    # that lacked one (streams excluded — the availableNow drain shape is
    # trigger-bound, not data-bound, and the tool's corpus swap does not
    # rebuild the chunked-tail checkpoints)
    "dedup_simhash_pairs",
    "dedup_canonical_by_quality",
    "dedup_cluster_assignments",
    "dedup_decontaminate",
    "dedup_pagerank_hubs",
    "dedup_source_overlap_matrix",
    "split_leakage_free",
    "dedup_triangle_stats",
    "events_cusum_pandas",
    "multimodal_decode_features",
    "agg_approx_quantile_error",
    "similarity_ivf_kmeans",
    "similarity_ivfpq_adc",
    "text_lang_id_ngram",
    "text_bigram_kn_perplexity",
    "text_dictionary_tagging",
    # similarity family (embeddings)
    "similarity_ann_ivf",
    "similarity_ann_batch",
    # text family (documents)
    "text_gopher_filter",
    "text_winnowing_fingerprints",
    # round-6 additions: posting-list cosine join + novelty curve (both
    # corpus-linear by design — the scaling run checks the claim)
    "dedup_tfidf_cosine",
    "text_ngram_novelty",
    # events family (scaled change stream)
    "sessionize_events",
    "events_ohlc_candles",
    "events_lateness_audit",
    # round-6 late wave: FastSS ER (part vocab constant at 10x parts ->
    # name-level work FLAT, expansion linear), binned interval join
    # (events 10x, same 42 windows), BM25 (corpus-linear postings),
    # built-in session_window (10x users), Merkle localization (damage
    # grows with keyspace; fine level bounded by damaged coarse buckets)
    "er_edit_distance",
    "join_range_binned",
    "text_bm25_topk",
    "events_session_window_batch",
    "profile_merkle_ranges",
    # round-6 second addendum: the hourly ACF reduces to |hours| rows
    # after one shuffle (flat); AUC's global rank is the stress case
    # (10x rows through one sort lineage); calibration is scan+10-key agg
    # (flat); PII scan is scan-stage (linear); quantile normalization
    # carries two global row_numbers (the documented two-phase-rank
    # upgrade path — the run measures what the single-window form costs);
    # rank fusion is postings-linear; matryoshka/MIPS are candidate-scan
    # linear; link prediction is wedge-quadratic over the LSH output
    "events_hourly_acf",
    "eval_auc_rank",
    "eval_calibration_bins",
    "text_pii_scan",
    "events_quantile_normalize",
    "search_rank_fusion",
    "similarity_matryoshka_error",
    "similarity_mips_transform",
    "dedup_link_prediction",
    # round-7 additions: bootstrap explodes 32x at the scan (linear);
    # two-phase rank is the distributed-rank pattern itself (the claim:
    # NO single-task collapse, so ~linear on fixed cores); BPE is 3x
    # (postings join + argmax + rewrite), each corpus-linear; phrase
    # search is postings-linear in the two terms' df (the phrase exists
    # only in copy 0, so rows stay flat while the scan is 10x); CF pair
    # expansion is basket-bounded; negative sampling is positives-linear
    # (hash-mod keyspace is 10x sparser at 10x — timing-valid, catalog
    # validity not asserted); CM sketch state is FIXED 4x1024 (the claim);
    # NDCG/conformal are user-keyed windows; heaps is one scan + one
    # term groupBy
    "events_bootstrap_ci",
    "events_global_rank_two_phase",
    "text_bpe_word_merges",
    "search_phrase_positional",
    "item_item_cf",
    "sample_negative_pairs",
    "agg_join_size_sketch",
    "eval_ndcg_at_k",
    "eval_conformal_interval",
    "events_changepoint_binseg",
    "text_heaps_law",
    # round-7 third wave: KS/MWU/KW run windows over the DISTINCT-cents
    # table (price-grid-bounded -> near-flat after the 10x scan); PSI adds
    # broadcast decile edges; HITS/LPA are edge-linear loop shapes like
    # pagerank; textrank's word graph is 10x (per-copy renames disjoint
    # vocabularies); chao1 is one vocab groupBy; hill is top-k flat;
    # SPRT/xcorr/runs consume the calendar-bounded hourly rollup; entropy
    # rate is the per-user lag window (10x rows, one shuffle)
    "events_ks_test",
    "events_mann_whitney",
    "events_psi_drift",
    "events_kruskal_wallis",
    "graph_hits_scores",
    "graph_label_propagation",
    "text_textrank_keywords",
    "text_chao1_vocab",
    "orders_hill_tail_index",
    "events_sprt_decision",
    "events_entropy_rate",
    "events_lag_xcorr",
    "events_runs_test",
    # round-8 heavy-tail additions (r7 verdict item 9): k-core peels the
    # LSH graph (per-round degree shuffle + two semi joins; rounds bounded
    # by max core); modularity is one pass over the CC partition (edge-
    # linear); golden record = blocked ER + CC + one survivorship shuffle;
    # AMS F2 carries FIXED 16-estimator state (scan-linear) but its
    # certification row also computes the EXACT F2 per-key groupBy
    "dedup_kcore_peel",
    "graph_modularity",
    "er_golden_record",
    # r9: blocked ER now factors the quadratic onto the distinct-name
    # table (vocab² verify + output-linear expansion) — output here IS
    # ~100x pairs at 10x verbatim-name parts, so the honest target is
    # slope ~ output growth / cores, not flat
    "er_blocked_match",
    "agg_ams_f2_sketch",
    # round-8 additions: gini/pareto rank over 10x customers (two-phase
    # rank path), gap-fill/haar are calendar-bounded after the 10x scan,
    # winsorized/MAD are keyed rank windows over 10x rows, skyline is
    # (price,size)-grid bounded, basket lift is basket-size bounded,
    # JSD is vocabulary-bounded (10 disjoint vocabularies at 10x),
    # interval overlap and benford are scan-stage + tiny aggregates
    "customers_gini_concentration",
    "orders_pareto_8020",
    "events_gap_fill_interpolate",
    "events_haar_wavelet_energy",
    "events_winsorized_order_stats",
    "events_mad_outliers",
    "events_benford_audit",
    "part_skyline_pareto",
    "orders_market_basket_lift",
    # r11: the other three basket-bounded co-purchase graph queries —
    # same order-key pre-partitioned frame as market-basket lift
    "basket_part_pairs",
    "graph_degree_powerlaw",
    "graph_assortativity",
    "text_js_divergence",
    "text_minhash_jaccard_estimate",
    "join_interval_overlap_weighted",
    "lineitem_price_elasticity",
    # late round-8 rewires: RFM quintiles now three two-phase ranks over
    # the 10x customer dimension; lateness audit's running max is the
    # bucket-merged two-phase form (was the last global ordered pass)
    "customers_rfm_segments",
    # round-9 additions: the stats battery reduces to 5-group moments
    # after one 10x scan (flat); STL/SAX run on the calendar-bounded
    # hourly table; the skew profiler is 3 key-count groupBys + two-phase
    # ranks; bloom-semi is scan + broadcast prune + semi shuffle;
    # burstiness/code-detect/soft-dedup are corpus-linear scans; duplicate
    # invoices is (custkey, 4-day-bin)-bounded; power iteration is 2x2
    # corpus-linear matvec passes; balanced sampling is per-class rank
    # windows; FD profiling is 4 keyed groupBys; forward as-of is one
    # keyed window over 10x events
    "events_anova_f",
    "events_welch_ttest",
    "orders_nelson_aalen",
    "events_stl_decompose",
    "events_sax_motifs",
    "profile_partition_skew",
    "join_semi_bloom_pruned",
    "text_term_burstiness",
    "text_code_detect",
    "sample_soft_dedup_weights",
    "orders_duplicate_invoices",
    "similarity_power_iteration",
    "join_asof_forward",
    "sample_balanced_classes",
    "profile_functional_dependency",
    # round-10 additions
    "events_circular_hour_stats",
    "orders_lorenz_asymmetry",
    "events_turning_points",
    "text_length_spectrum",
    "orders_interarrival_burstiness",
)


def build_scaled(spark: SparkSession) -> None:
    docs = load(spark, BASE, "documents")
    parts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        if c == 0:
            parts.append(docs.select(
                (F.col("doc_id") + off).alias("doc_id"),
                "text", "lang", "source", "n_chars"))
            continue
        words = F.split(F.col("text"), r"\s+")
        renamed = F.transform(
            words, lambda w: F.substring(F.md5(F.concat(w, F.lit(f"#c{c}"))), 1, 6)
        )
        text2 = F.array_join(renamed, " ")
        parts.append(docs.select(
            (F.col("doc_id") + off).alias("doc_id"),
            text2.alias("text"), "lang", "source", "n_chars"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{SCALED}/documents.parquet")

    emb = load(spark, BASE, "embeddings")
    eparts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        dim = F.size("embedding")
        rot = F.concat(
            F.slice("embedding", F.lit(c + 1), dim - F.lit(c)),
            F.slice("embedding", F.lit(1), F.lit(c)),
        ) if c else F.col("embedding")
        eparts.append(emb.select(
            (F.col("vec_id") + off).alias("vec_id"),
            rot.alias("embedding"), "label"))
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.coalesce(8).write.mode("overwrite").parquet(f"{SCALED}/embeddings.parquet")

    ev = load(spark, BASE, "events")
    vparts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        # shift each copy's users into a fresh id range (10x the user
        # population, same per-user behavior) and nudge ts by c seconds so
        # copies are not timestamp-identical; event_id keeps arrival order
        vparts.append(ev.select(
            (F.col("event_id") + off).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {c} SECOND")).alias("ts"),
            (F.col("user_id") + off).alias("user_id"),
            "event_type", "value", "props"))
    part = load(spark, BASE, "part")
    pparts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        # names stay VERBATIM: the part vocabulary is SF-invariant (64
        # distinct names), which is exactly the er_edit_distance scale
        # claim the run checks (name-level work flat, expansion linear)
        pparts.append(part.select(
            (F.col("p_partkey") + off).alias("p_partkey"),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    pout = pparts[0]
    for p in pparts[1:]:
        pout = pout.unionByName(p)
    pout.coalesce(4).write.mode("overwrite").parquet(f"{SCALED}/part.parquet")

    orders = load(spark, BASE, "orders")
    oparts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        oparts.append(orders.select(
            (F.col("o_orderkey") + off).alias("o_orderkey"),
            (F.col("o_custkey") + off).alias("o_custkey"),
            "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority"))
    oout = oparts[0]
    for p in oparts[1:]:
        oout = oout.unionByName(p)
    oout.coalesce(4).write.mode("overwrite").parquet(f"{SCALED}/orders.parquet")

    vout = vparts[0]
    for p in vparts[1:]:
        vout = vout.unionByName(p)
    vout.coalesce(8).write.mode("overwrite").parquet(f"{SCALED}/events.parquet")


def build_customer(spark: SparkSession) -> None:
    """Round-8 extension: customer copies (keys offset per copy to stay
    consistent with the orders copies, segments verbatim) for the
    gini / pareto / shrinkage scaling rows."""
    cust = load(spark, BASE, "customer")
    parts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        parts.append(cust.select(
            (F.col("c_custkey") + off).alias("c_custkey"),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(4).write.mode("overwrite").parquet(f"{SCALED}/customer.parquet")


def build_lineitem(spark: SparkSession) -> None:
    """Round-7 extension: lineitem copies (keys offset per copy, values
    verbatim) for the CF / negative-sampling scaling rows."""
    li = load(spark, BASE, "lineitem")
    parts = []
    for c in range(COPIES):
        off = F.lit(c * 10_000_000).cast("long")
        parts.append(li.select(
            (F.col("l_orderkey") + off).alias("l_orderkey"),
            (F.col("l_partkey") + off).alias("l_partkey"),
            (F.col("l_suppkey") + off).alias("l_suppkey"),
            "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.coalesce(8).write.mode("overwrite").parquet(f"{SCALED}/lineitem.parquet")


def time_query(fn, spark, sf_dir, passes=2) -> tuple[float, int]:
    """Best-of-N with a MID-RUN storm retry (r13): the start-of-run load
    guard cannot see a host steal window opening between passes — twice
    this round a window landed exactly on a 10x pass and recorded a
    5-15x slope for an unchanged plan.  Our own Spark run keeps load1
    near the core count of whatever stage is active, so absolute load is
    not a steal signal mid-run; instead, if the two passes disagree
    > 2.5x (byte-identical work), assume one was storm-hit and take ONE
    extra pass — min over all passes can only remove ambient noise."""
    times, rows = [], -1
    for _ in range(passes):
        _clear_persisted(spark)
        t0 = time.monotonic()
        rows = fn(spark, sf_dir).count()
        times.append(time.monotonic() - t0)
    if len(times) >= 2 and max(times) > 2.5 * min(times):
        _clear_persisted(spark)
        t0 = time.monotonic()
        rows = fn(spark, sf_dir).count()
        times.append(time.monotonic() - t0)
    return round(min(times), 3), rows


def main() -> None:
    # Ambient guard (r11, same as measure_floor): the sandbox VM sees host
    # CPU steal windows; scaling rows recorded inside one are garbage.
    import os
    load1 = os.getloadavg()[0]
    if load1 > 4.0 and os.environ.get("SCALING_FORCE") != "1":
        raise SystemExit(
            f"ambient load {load1:.1f} > 4.0 — a steal window is active; "
            "wait for quiet or set SCALING_FORCE=1"
        )
    # 10x data in one local JVM needs a real heap (default local heap is 1g)
    spark = get_spark(
        app_name="bench-scaling", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    # events.parquet is written LAST, so its presence implies a complete build
    if not Path(f"{SCALED}/events.parquet").exists():
        t0 = time.monotonic()
        build_scaled(spark)
        print(f"built 10x corpus in {time.monotonic() - t0:.1f}s", file=sys.stderr)
    if not Path(f"{SCALED}/lineitem.parquet").exists():
        build_lineitem(spark)
        print("built 10x lineitem", file=sys.stderr)
    if not Path(f"{SCALED}/customer.parquet").exists():
        build_customer(spark)
        print("built 10x customer", file=sys.stderr)

    # optional CLI filter: run only the named queries and MERGE into the
    # existing artifact (so a new wave doesn't pay for re-timing the rest)
    only = set(sys.argv[1:])
    result = {"base": BASE, "scaled": SCALED, "copies": COPIES, "queries": {}}
    prior = Path("/root/repo/BENCH_SCALING.json")
    if only and prior.exists():
        result["queries"] = json.loads(prior.read_text()).get("queries", {})
    registry = entry_mod.queries()
    for name in QUERIES:
        if only and name not in only:
            continue
        fn = registry[name]
        t1, r1 = time_query(fn, spark, BASE)
        t10, r10 = time_query(fn, spark, SCALED)
        result["queries"][name] = {
            "sec_1x": t1, "rows_1x": r1,
            "sec_10x": t10, "rows_10x": r10,
            "slope": round(t10 / t1, 2) if t1 else None,
        }
        print(name, result["queries"][name], file=sys.stderr)
    Path("/root/repo/BENCH_SCALING.json").write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
