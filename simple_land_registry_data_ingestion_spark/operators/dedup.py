r"""Deduplication operators: exact, CDC-compaction, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine.

The reference's data model carries CDC markers (``record_op`` A/C/D and a
replayed ``transaction_unique_id``, reference lib_db.py:24,39) but never
compacts them; these operators supply the dedup surface a training-data
pipeline needs (BASELINE.json north star).

Determinism discipline: every operator here is a pure function of its input
(hash functions are md5-seeded, tie-breaks are total orders), so results are
reproducible across engines and runs — required for the DuckDB oracle gate
and for incremental re-runs at scale.

Scale design notes:
 - Exact dedup / CDC compaction: one hash-shuffle on the key; no sort of the
   whole table.  Skewed hot keys are handled by AQE skew-join splitting.
 - MinHash-LSH: candidate generation never compares all pairs — docs meet
   only inside a (band, signature) bucket, the classic O(n) LSH layout.  A
   pathological bucket (thousands of near-identical docs) re-introduces a
   quadratic blowup INSIDE the bucket; that is inherent to LSH and mitigated
   by raising bands/rows or pre-splitting hot buckets.
 - n-gram Jaccard: exact pairwise scores but only for pairs sharing >=1
   shingle (self-join on shingle), not the full cross product.
 - Embedding cosine: brute-force pair scan kept for small/verification use;
   the LSH-bucketed variant in operators/similarity.py is the scale path.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.functions.text import words_col
from simple_land_registry_data_ingestion_spark.functions.vectors import dot, norm
from simple_land_registry_data_ingestion_spark.operators.substrate import (
    materialized_frame,
)
from simple_land_registry_data_ingestion_spark.tables import fan_out, load

# ---------------------------------------------------------------------------
# Exact / CDC
# ---------------------------------------------------------------------------

def keep_first_per_key(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """Deterministic exact dedup: keep exactly one row per key, chosen by a
    TOTAL order (unlike ``dropDuplicates``, whose survivor is arbitrary —
    fine for semantics, useless for reproducible pipelines)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of documents by content (lowest doc_id survives)."""
    docs = load(spark, sf_dir, "documents")
    return keep_first_per_key(docs, ["text"], [F.col("doc_id")]).select(
        "doc_id", "lang", "source", "n_chars"
    )


def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: latest event per user_id — the 'keep latest record per
    transaction_unique_id' pattern of the reference's record_op model
    (SURVEY section 2.5), on the events table."""
    events = load(spark, sf_dir, "events")
    return keep_first_per_key(
        events,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "event_id", "ts", "event_type", F.round("value", 2).alias("value"))


# ---------------------------------------------------------------------------
# Shingles (shared by MinHash and Jaccard)
# ---------------------------------------------------------------------------

def shingle_table(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle), optionally per-doc distinct.

    ``distinct=False`` skips a FULL SHUFFLE of the widest table in every
    near-dup pipeline — correct whenever the consumer is itself
    set-semantic: min-hash over a multiset equals min-hash over its set,
    and collect_set dedupes on its own.  Only consumers that COUNT rows
    (exact Jaccard intersections) need the distinct.

    Why a window form (the winnowing lesson applied to the engine's
    hottest emission path): an array-HOF form assembles every n-gram
    inside an interpreted ``transform`` lambda — higher-order functions never
    enter whole-stage codegen, so shingle assembly would be the CPU floor
    of all 13 consumers.  This form posexplodes the words and assembles
    each n-gram with ``lead()`` over one (doc_id, pos) sort — every
    expression codegen'd; a row survives exactly when its last word
    exists, i.e. the same size-n windows the array form emitted.  The
    one keyed exchange this introduces is doc-sized-narrow AND its
    doc_id partitioning is REUSED by every doc-keyed consumer
    aggregation downstream (tf, signature, set builds run
    partition-local).  A/B on the tf-aggregate shape: 1.22 -> 0.89 s at
    sf0.1, 4.5 -> 1.1 s at 10x, rows identical.

    fan_out first: the word explode is still CPU-bound per row, so
    parallelism must not be capped by the input's byte-based splits
    (see tables.fan_out)."""
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = fan_out(docs).select(
        "doc_id", F.posexplode(ws).alias("pos", "w0")
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("w0")] + [F.lead("w0", k).over(wo) for k in range(1, n)]
    sh = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *cols).alias("shingle"),
            F.lead("w0", n - 1).over(wo).alias("__last"),
        )
        .where(F.col("__last").isNotNull())
        .drop("__last")
    )
    return sh.distinct() if distinct else sh


def shingle_table_nowindow(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) with NO doc-keyed exchange: n-grams assembled by
    zipping n = 3 shifted slices of the word array (one slice per row, a
    2-concat interpreted lambda per element), then exploded.

    Trade-off vs ``shingle_table`` (the default emission): shingle_table's
    ``lead()`` assembly is fully codegen'd but introduces a doc_id
    exchange + sort that pays for itself ONLY when a downstream doc-keyed
    aggregation reuses the partitioning (minhash signatures, tf builds).
    A consumer whose first aggregation is SHINGLE-keyed gets nothing back
    for that exchange — for those, this form is faster despite the
    interpreted concat (jaccard_prefix interleaved A/B at sf0.1:
    median 4.69 -> 3.75 s, identical rows; emission alone 0.78 -> 0.33 s).
    Docs with < n words produce empty slices and emit nothing — the same
    rows shingle_table keeps."""
    n = 3
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = fan_out(docs).select("doc_id", ws.alias("ws"))
    k = F.greatest(F.size(F.col("ws")) - F.lit(n - 1), F.lit(0))
    arr = F.slice("ws", F.lit(1), k)
    for i in range(1, n):
        arr = F.zip_with(
            arr,
            F.slice("ws", F.lit(1 + i), k),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    sh = d.select("doc_id", F.explode(arr).alias("shingle"))
    return sh.distinct() if distinct else sh


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

NUM_HASHES = 6
BAND_ROWS = 2  # 3 bands of 2 rows

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature per doc: the i-th hash function is
    md5('<i>:' || shingle); the signature component is the lexicographic min
    over the doc's shingles.  md5 gives a uniform order, and seeding by
    prefix makes the k functions independent — all engine-portable.
    Non-distinct shingles: min over the multiset equals min over the set,
    so no shingle dedup is needed.

    Plan: a "zero-shuffle scan-stage projection" array form would run
    every md5 inside an interpreted ``transform`` lambda — 6 interpreted
    md5 calls per shingle, outside whole-stage codegen, which made
    signature generation the CPU floor of the whole minhash family.
    This form explodes the shingles (codegen lead()-assembly,
    shingle_table) and computes the 6 components as ordinary
    min-aggregates — md5 as a TOP-LEVEL codegen projection, map-side
    partial min, and a doc-count-sized exchange (fan_out leaves each
    doc's shingles in ONE partition, so the partial collapses to one
    row per doc per component before the wire; the "shuffle of the
    widest table" objection assumes no combine).  Docs with < 3 words
    emit no shingle rows and drop out of the groupBy exactly as the
    array form's word-count filter dropped them.  A/B on the full
    candidate build: cold 7.9 -> 2.6 s / warm equal at sf0.1,
    5.7 -> 2.0 s at 10x, candidate rows identical."""
    sh = shingle_table(docs, n=3, distinct=False)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band_key): one row per band, key = band index + its rows."""
    num_hashes = len([c for c in sig.columns if c.startswith("h")])
    bands = []
    for b in range(num_hashes // BAND_ROWS):
        cols = [F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
        bands.append(F.concat(F.lit(f"{b}:"), *cols))
    return sig.select("doc_id", F.explode(F.array(*bands)).alias("band_key"))


def bucket_pairs(
    grouped: DataFrame,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    max_bucket_size: int | None = None,
    distribute_threshold: int | None = None,
) -> DataFrame:
    """Expand each bucket's sorted id array into all (i < j) member pairs.

    ``max_bucket_size`` is the hot-bucket guard: a pathological bucket
    (thousands of near-identical docs — boilerplate, scraped mirrors) makes
    the in-bucket quadratic the job's runtime.  When set, oversized buckets
    are truncated to their first N members (ids are sorted, so the cut is
    deterministic) BEFORE expansion, bounding pair output at
    N*(N-1)/2 per bucket.  Production alternatives with the same hook:
    drop oversized buckets outright, or re-band them with more rows.

    ``distribute_threshold`` is the lossless alternative to capping: buckets
    larger than the threshold keep ALL their pairs, but the O(n^2) expansion
    is spread across the cluster instead of running inside the single task
    that owns the bucket row (bucket rows are tiny post-aggregation, so AQE
    happily coalesces them into one partition and the explode blowup lands
    on one core).  Each oversized bucket posexplodes to per-member rows
    carrying the member's pair *tail* (the ids after it), a round-robin
    repartition spreads those rows, and the tails explode in parallel.  The
    shuffled payload is the sum of tail lengths (n^2/2 ids per hot bucket)
    — the same rows the flat path would emit, just redistributed before the
    quadratic work instead of after."""
    ids = F.col("ids")
    if max_bucket_size is not None:
        ids = F.slice(ids, 1, max_bucket_size)

    def _flat(df: DataFrame) -> DataFrame:
        pairs = F.flatten(
            F.transform(
                ids,
                lambda x, i: F.transform(
                    F.slice(ids, i + 2, F.size(ids)),
                    lambda y: F.struct(x.alias(out_a), y.alias(out_b)),
                ),
            )
        )
        return df.select(F.explode(pairs).alias("p")).select(
            F.col(f"p.{out_a}").alias(out_a), F.col(f"p.{out_b}").alias(out_b)
        )

    if distribute_threshold is None:
        return _flat(grouped)

    small = _flat(grouped.where(F.size(ids) <= distribute_threshold))
    shuffle_n = int(
        grouped.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    big = (
        grouped.where(F.size(ids) > distribute_threshold)
        .select(F.posexplode(ids).alias("_i", "_a"), ids.alias("_ids"))
        .select("_a", F.expr("slice(_ids, _i + 2, size(_ids))").alias("_tail"))
        .repartition(shuffle_n)
        .select(F.col("_a").alias(out_a), F.explode("_tail").alias(out_b))
    )
    return small.unionByName(big)


#: Lossless hot-bucket spread for the REGISTERED minhash entries:
#: buckets above this size keep all their pairs but the quadratic expansion
#: is redistributed across the cluster (see bucket_pairs).
DISTRIBUTE_THRESHOLD = 256


def minhash_candidate_pairs(
    docs: DataFrame,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate CANDIDATE pairs: docs sharing at least one LSH band.

    Plan shape: shingle explode -> distinct -> groupBy (signature) ->
    band explode -> groupBy band_key (collect doc ids) -> in-bucket pair
    expansion -> distinct.  Grouping instead of a self-equi-join computes
    the shingle->signature pipeline ONCE (a self-join evaluates the whole
    subtree per side — measured 2x on this pipeline) and keeps the
    quadratic strictly in-bucket, which is the LSH contract.
    ``max_bucket_size`` bounds the in-bucket blowup (lossy truncation);
    buckets over DISTRIBUTE_THRESHOLD ids spread their
    pair expansion across the cluster LOSSLESSLY (see bucket_pairs)."""
    buckets = minhash_band_buckets(minhash_signatures(docs))
    grouped = buckets.groupBy("band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    return bucket_pairs(
        grouped,
        max_bucket_size=max_bucket_size,
        distribute_threshold=DISTRIBUTE_THRESHOLD,
    ).distinct()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs over documents.  The
    registered primary routes oversized band buckets through the LOSSLESS
    distribute_threshold spread (bucket_pairs): every pair the flat
    expansion would emit still appears — the oracle contract is exact and
    unchanged — but a hot bucket's n^2/2 expansion runs cluster-wide
    instead of inside the one task that owns the bucket row (the measured
    12.16x wall ratio at 10x data was that single task)."""
    return minhash_candidate_pairs(load(spark, sf_dir, "documents"))


def dedup_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard scored ONLY on MinHash-LSH candidate pairs
    — the composition that scales: candidate generation is O(n) bucketed
    (never all-pairs, never a shingle self-join whose stop-shingle hot keys
    go near-quadratic), and the exact scorer touches only candidate pairs.
    This is the registered PRIMARY near-dup-with-scores query;
    dedup_ngram_jaccard remains the standalone exact baseline.

    ONE doc-keyed aggregation computes the minhash signature AND the shingle
    set together, and the aggregated frame is checkpoint-materialized so all
    three consumers (band buckets, pair side A, pair side B) read it once —
    column pruning specializes the aggregate per consumer, which defeats
    plain exchange reuse (measured ~2x over building signatures and
    sets in separate pipelines, and ~10% more over relying on reuse).  The
    intersection is computed per pair with array_intersect on the two sets —
    exact integer set sizes, so jac = |A∩B| / (|A|+|B|-|A∩B|) is
    deterministic.  A candidate pair always shares >= 1 shingle (equal
    min-hash components imply the same argmin shingle), so the inner joins
    drop nothing."""
    scored = _minhash_candidate_sets(load(spark, sf_dir, "documents"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("long")
    scored = scored.withColumn(
        "jaccard", F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6)
    )
    return scored.where(F.col("jaccard") >= 0.30).select(
        "doc_a", "doc_b", "jaccard"
    )


def _minhash_candidate_sets(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs carrying both docs' shingle sets:
    ``(doc_a, doc_b, set_a, n_a, set_b, n_b)`` — the shared front half of
    every set-similarity scorer (Jaccard, containment, overlap)."""
    # Non-distinct shingles: collect_set dedupes and min-hash is
    # multiset-invariant, so the set size comes from the collected set
    # instead of paying a distinct shuffle up front.
    sh = shingle_table(docs, distinct=False)
    sig_aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    per_doc = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("shingle").alias("sh_set"),
            *sig_aggs,
        )
        .withColumn("n_sh", F.size(F.col("sh_set")).cast("long"))
        # materialize ONCE (the text_minhash_jaccard_estimate
        # lesson): the frame feeds three consumers with DIFFERENT pruned
        # columns (band buckets read h0..h5, each pair side reads
        # sh_set/n_sh), so column pruning specializes the aggregate per
        # consumer and defeats exchange reuse — without the checkpoint
        # the corpus shingle explode replays per consumer
        .localCheckpoint(eager=True)
    )
    buckets = minhash_band_buckets(per_doc.select("doc_id", *[f"h{i}" for i in range(NUM_HASHES)]))
    grouped = buckets.groupBy("band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = bucket_pairs(
        grouped, distribute_threshold=DISTRIBUTE_THRESHOLD
    ).distinct()
    sets = per_doc.select("doc_id", "sh_set", "n_sh")
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("n_b"),
    )
    return cand.join(sa, "doc_a").join(sb, "doc_b")


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup scoring on MinHash-LSH candidates: containment
    c(A in B) = |A∩B| / |A| (and the reverse) — the measure that catches
    SUBSET duplication Jaccard misses: a paragraph quoted whole inside a
    larger document scores containment ~1 while its Jaccard stays low.
    Training-data pipelines use it to drop near-supersets and quote farms.

    Same scaled shape as dedup_jaccard_lsh (shared front half): O(n)
    bucketed candidate generation, exact set intersection only on
    candidate pairs.  Emitted when EITHER direction crosses the threshold;
    both directions are reported so the caller can tell subset from
    superset."""
    threshold = 0.50
    scored = _minhash_candidate_sets(load(spark, sf_dir, "documents"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast("long")
    out = scored.select(
        "doc_a",
        "doc_b",
        F.round(inter / F.col("n_a"), 6).alias("containment_a_in_b"),
        F.round(inter / F.col("n_b"), 6).alias("containment_b_in_a"),
    )
    return out.where(
        (F.col("containment_a_in_b") >= threshold)
        | (F.col("containment_b_in_a") >= threshold)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

#: Stop-shingle document-frequency cap for the exact n-gram Jaccard join.
#: A shingle shared by d documents contributes d*(d-1)/2 join rows, so one
#: viral boilerplate shingle (d = 1% of a 100 TB corpus) alone creates
#: ~1e14 pairs.  Dropping shingles with df > tau before the self-join (the
#: standard "stop-shingle" guard — same role as the LSH hot-bucket cap)
#: bounds every shingle's contribution to tau^2/2 pairs.  Jaccard is then
#: computed over the surviving (informative) shingles on BOTH the
#: intersection and the set sizes, so the score stays a true Jaccard of the
#: filtered shingle sets.
MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.30, max_shingle_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Exact word-3-gram Jaccard for every pair sharing a non-viral shingle.

    jac = |A∩B| / (|A|+|B|-|A∩B|) over shingles with document frequency
    <= ``max_shingle_df`` (see MAX_SHINGLE_DF).

    Plan: ONE shuffle of the shingle table (groupBy shingle over the RAW
    exploded multiset — collect_set dedupes per-doc repeats in the
    map-side partial, so no standalone distinct shuffle is needed)
    serves three purposes at once — the df cap is just a bucket-size
    filter on that aggregate, per-doc set sizes re-derive from the
    surviving buckets (exploded + re-counted, reusing the exchange), and
    pair generation is the same distributed in-bucket expansion as LSH
    (bucket_pairs), with each pair emitted once per shared shingle and
    counted into |A∩B|.  The earlier shape self-joined the shingle table
    on shingle — two more full shuffles of the widest table in the
    pipeline (measured +1.7 s at sf0.1).  Integer set sizes -> double
    division, deterministic across engines.

    The tfidf w-build cuts apply here (this query's FIRST aggregation is
    SHINGLE-keyed, so by the emission rule shingle_table's doc_id
    exchange buys nothing): emission via
    shingle_table_nowindow, and the shingle crosses the groupBy exchange
    as an xxhash64 LONG — shingle identity is equality-only here (the
    bucket key is discarded after grouping); a collision would merge two
    buckets (inflating n_inter/n_sh), so if this row ever reds, check
    for a hash collision before debugging the join.  The ~1e-7/corpus
    collision odds are BENCH-SCALE (~1e6 distinct shingles); by the
    64-bit birthday bound a collision is near-certain past ~5e9 distinct
    shingles, so an at-scale deployment of this exact-Jaccard operator
    must widen the bucket key to 128 bits (e.g. both md5 halves)."""
    grouped = (
        shingle_table_nowindow(docs, distinct=False)
        .groupBy(F.xxhash64("shingle").alias("shingle"))
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") <= max_shingle_df)
    )
    sizes = (
        grouped.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    inter = (
        bucket_pairs(grouped, out_a="doc_a", out_b="doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: exact n-gram Jaccard with the stop-shingle guard
    active (df cap = MAX_SHINGLE_DF; oracle applies the identical filter)."""
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), 0.30)


# ---------------------------------------------------------------------------
# Connected components — candidate pairs -> dedup clusters
# ---------------------------------------------------------------------------

def _truncate_lineage(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the per-iteration discipline
    that keeps loop plans from doubling.

    ``checkpoint_dir=None`` uses localCheckpoint: fastest, but blocks are
    executor-lifetime-bound, so on a real cluster a lost executor kills the
    truncated frame mid-loop.  Passing a fault-tolerant directory (HDFS/S3)
    switches to reliable ``df.checkpoint()``: blocks survive executor loss
    at the cost of a write per iteration — the right trade at 100 TB where
    a multi-hour loop losing one of 1000 executors is routine."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    ``(id, component)`` where component = the smallest node id reachable.

    This is the step that turns near-dup candidate PAIRS into dedup
    DECISIONS: docs A-B and B-C similar means {A,B,C} is one duplicate
    cluster even though A-C was never compared; keep min(cluster), drop the
    rest.

    Iteration shape (all distributed, nothing driver-side but the
    convergence scalar): each pass joins labels across edges and takes the
    per-node min of (own label, neighbor labels).  Labels only ever
    decrease, so sum(labels) is a monotone convergence measure — one
    1-row action per pass.  Lineage is truncated each pass (plan doubles
    per iteration otherwise): localCheckpoint by default, or reliable
    ``df.checkpoint()`` when ``checkpoint_dir`` names a fault-tolerant
    directory (see _truncate_lineage — the 100 TB setting).  Passes needed
    = max component diameter; near-dup clusters are shallow (most
    duplicates share one hub), so small constants in practice.

    If the loop exhausts ``max_iterations`` before the fixpoint (a chain
    longer than the iteration budget), the labels are PARTIAL — some
    components would still split — so this raises rather than silently
    returning wrong cluster ids; callers with genuinely deep graphs pass a
    bigger budget."""
    und = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    # Materialize the edge list ONCE: it sits inside every iteration's join,
    # and without truncation its lineage (here: the whole LSH candidate
    # pipeline) would re-execute on every pass.
    und = _truncate_lineage(und, checkpoint_dir)
    labels = nodes.select(F.col(node_col).alias("id"), F.col(node_col).alias("component"))
    labels = _truncate_lineage(labels, checkpoint_dir)
    prev_sum = labels.agg(F.sum("component")).first()[0]
    converged = False
    for _ in range(max_iterations):
        propagated = und.join(
            labels, und["src"] == labels["id"], "inner"
        ).select(F.col("dst").alias("id"), "component")
        labels = (
            labels.union(propagated)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        labels = _truncate_lineage(labels, checkpoint_dir)
        new_sum = labels.agg(F.sum("component")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach its fixpoint within "
            f"{max_iterations} iterations — labels would be partial (some "
            f"clusters still split); raise max_iterations"
        )
    return labels


def dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document -> duplicate-cluster assignment: MinHash-LSH candidate pairs
    (dedup_minhash_lsh) closed into connected components.  Every document
    appears once; cluster_id = min doc_id of its component (singletons map
    to themselves); is_canonical marks the per-cluster survivor a dedup
    pipeline would keep."""
    docs = load(spark, sf_dir, "documents")
    edges = shared_minhash_graph(spark, sf_dir)  # at-rest lens substrate
    comps = connected_components(
        docs.select("doc_id"), edges, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    )
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_votes_pandas(iterator):
    """Per-partition SimHash vote fold (whole batches go to vectorized
    native code instead of interpreted JVM expression folds).  Input
    rows are ``(doc_id, hs)`` where ``hs`` is the doc's DISTINCT token
    array — tokenization (split/lower/trim/
    array_distinct) stays in Spark so its semantics are byte-identical
    to an expression form; Python only md5-hashes the tokens it
    is handed and counts bit votes in numpy.  Exactness: md5 over UTF-8
    bytes matches F.md5; votes are exact int64 counts; bit j of the
    fingerprint is set iff 2*votes_j > n_tok — the identical sign rule.
    Null token array -> null fingerprint; empty array -> all-zero
    nibbles (both match the expression fold's outputs, pinned by
    tests/test_round16_ops.py against the reference implementation)."""
    import hashlib

    import numpy as np
    import pandas as pd

    hexd = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    weights = np.array([8, 4, 2, 1], dtype=np.uint8)
    for pdf in iterator:
        out = []
        for toks in pdf["hs"]:
            if toks is None:
                out.append(None)
                continue
            n = len(toks)
            if n == 0:
                out.append("0" * 16)
                continue
            dig = b"".join(
                hashlib.md5(t.encode("utf-8")).digest()[:8] for t in toks
            )
            bits = np.unpackbits(
                np.frombuffer(dig, dtype=np.uint8).reshape(n, 8), axis=1
            )
            votes = bits.sum(axis=0, dtype=np.int64)
            fp_bits = (2 * votes > n).astype(np.uint8)
            nib = fp_bits.reshape(16, 4) @ weights
            out.append(hexd[nib].tobytes().decode("ascii"))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document, as 16 hex chars.

    Per distinct token, md5 gives 16 hex nibbles = 64 bits.  For each nibble
    position and bit, tokens vote +1/-1; the fingerprint bit is the sign of
    the vote sum.  Near-dup grouping then hamming-bands these fingerprints;
    this query materializes the fingerprints themselves (the verifiable,
    deterministic core).

    Plan: a pure SCAN-STAGE map with ZERO shuffles; the per-token vote
    fold runs as numpy inside ``mapInPandas`` instead of an
    interpreted HOF ``aggregate`` — the fold is ~150 interpreted
    expression-node evaluations per token in the JVM vs a handful of
    vectorized numpy ops per doc in Python.  Tokenization
    (split/lower/trim/array_distinct) stays in Spark, so only the
    md5+vote arithmetic crosses the boundary and the outputs are
    bit-identical (pinned against the retained expression-fold reference
    in tests/test_round16_ops.py at 2 SFs, and value-checked vs the
    DuckDB oracle at 3 SFs).  Measured interleaved at sf0.1: 0.81 -> 0.47
    s (the codegen explode+packed-sum variant was ALSO measured and LOST
    at 1.49 s — wide many-buffer aggregates, the same loss measured for
    k-means).  At 100 TB this stays shuffle-free and partition-
    parallel; per-batch memory is bounded by Arrow's maxRecordsPerBatch
    and the 2^63 vote bound by int64 counts."""
    docs = load(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    base = fan_out(docs).select("doc_id", toks.alias("hs"))
    return base.mapInPandas(
        _simhash_votes_pandas, "doc_id long, simhash string"
    )


def dedup_simhash_pairs(
    spark: SparkSession, sf_dir: str, max_nibble_distance: int = 3
) -> DataFrame:
    """SimHash near-duplicate pairs: hamming-band candidates, then exact
    nibble-distance verify — the full SimHash dedup pipeline.

    Banding: the 64-bit fingerprint splits into ``max_nibble_distance + 1``
    near-equal bands (the band count FOLLOWS the threshold — the
    pigeonhole guarantee needs exactly d+1 bands for distance <= d, so a
    tighter verify earns LONGER, more selective bands: distance 2 gets 3
    bands of 24/20/20 bits instead of 4 of 16, cutting spurious band
    collisions ~16-256x per band on same-language corpora; the verified
    pair set is banding-invariant because recall is perfect either way,
    so consumers' oracles need no change); docs sharing ANY band are
    candidates.  Pigeonhole guarantee: any pair differing in <= d NIBBLE
    positions leaves at least one of d+1 bands untouched, so it always
    collides there — banding has perfect recall at the verify threshold.  Verify: candidates join their fingerprints back
    (doc-keyed equi-joins) and keep pairs within ``max_nibble_distance``
    mismatched nibbles.  Same O(n) bucketed layout as MinHash-LSH
    (bucket_pairs); never an all-pairs hamming scan.  Same-language corpora
    collide heavily in bands (shared stopwords bias the bits), which is
    exactly why the cheap verify stage exists.

    Plan shape (one aggregation, zero joins): the
    fingerprint subtree is ``localCheckpoint(eager=True)``-materialized
    once (it feeds three consumers and would partially recompute; same
    pattern as connected_components).  Each doc's fingerprint is packed
    into two 32-bit longs (a full 64-bit signed cast would overflow
    under ANSI when the top bit is set), band buckets are keyed by
    ``(band_index, band_value_as_long)`` — exact, not hashed: every band
    is <= 15 hex chars, so ``conv`` fits a signed long and the band
    exchange carries two scalars instead of a string — and
    the verify runs INSIDE the pair-emission lambda: the candidate set
    is FILTERED to in-threshold pairs before any pair struct or row
    exists (measured 2.4M candidate structs -> 247k at sf0.1; guide
    §1.2 "don't compute things you throw away").  The same lambda keeps
    a pair only in its FIRST colliding band (earlier-band equality via
    constant bit masks on the xor), which makes the emitted pair set
    globally unique by construction — no output-wide ``distinct``
    exchange.  Interleaved A/B at sf0.1 (pair set identical at 3 SFs):
    2.28/2.42 -> 2.12/2.34 s for the emission alone, 1.76 s combined
    with the mapInPandas fingerprint.  The lambda predicates
    are SQL-text expressions (``F.expr``) because shiftright inside
    Python-built HOF lambdas trips a py4j bug."""
    fp = dedup_simhash(spark, sf_dir).localCheckpoint(eager=True)
    if max_nibble_distance > 15:
        # 16 one-nibble bands can ALL differ for a pair at distance 16 —
        # the pigeonhole perfect-recall guarantee needs d+1 <= 16 bands
        # (clamping would silently drop in-threshold pairs)
        raise ValueError(
            "dedup_simhash_pairs: max_nibble_distance must be <= 15 for "
            f"pigeonhole-complete banding over 16 nibbles, got {max_nibble_distance}"
        )
    n_bands = max_nibble_distance + 1
    sizes = [
        16 // n_bands + (1 if i < 16 % n_bands else 0) for i in range(n_bands)
    ]
    starts = [sum(sizes[:i]) for i in range(n_bands)]
    # Long band keys: conv of <= 15 hex chars fits a signed long.  The
    # only band wider than 15 nibbles is the degenerate single-band case
    # (max_nibble_distance = 0), which buckets on the band's first 15
    # nibbles instead — a PREFIX bucket is coarser, so pigeonhole recall
    # is untouched (equal full band => equal prefix) and the exact
    # inline verify keeps the output identical; the first-band masks
    # below cover exactly the BUCKETED nibbles so the emit-once rule
    # stays consistent with the bucketing.
    used = [min(s, 15) for s in sizes]
    band_vals = F.array(
        *[
            F.conv(F.substring("simhash", starts[b] + 1, used[b]), 16, 10)
            .cast("long")
            for b in range(n_bands)
        ]
    )
    bands = fp.select(
        F.struct(
            "doc_id",
            F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long").alias("lo"),
        ).alias("m"),
        F.posexplode(band_vals).alias("b", "v"),
    )
    # array_sort on structs orders by the leading field (doc_id), keeping
    # the i<j pair expansion deterministic exactly as with plain id arrays.
    grouped = bands.groupBy("b", "v").agg(
        F.array_sort(F.collect_list("m")).alias("ids")
    )
    # Per-band (hi, lo) bit masks over the BUCKETED nibbles: nibble p
    # (0-indexed) sits at shift 4*(7-p) in hi for p < 8, else 4*(15-p)
    # in lo.
    mh, ml = [], []
    for b in range(n_bands):
        h = lo_m = 0
        for p in range(starts[b], starts[b] + used[b]):
            if p < 8:
                h |= 0xF << (4 * (7 - p))
            else:
                lo_m |= 0xF << (4 * (15 - p))
        mh.append(h)
        ml.append(lo_m)

    def _dist_sql(x: str, y: str) -> str:
        # Non-zero nibble count of the 64-bit xor, per 32-bit half: OR
        # each nibble's bits onto its lowest bit, mask (0x11111111),
        # popcount.
        def nc(e: str) -> str:
            return (
                f"bit_count((({e}) | shiftright(({e}), 1) | "
                f"shiftright(({e}), 2) | shiftright(({e}), 3)) & 286331153)"
            )

        return nc(f"{x}.hi ^ {y}.hi") + " + " + nc(f"{x}.lo ^ {y}.lo")

    earlier_equal = " OR ".join(
        f"(b > {j} AND ((x.hi ^ y.hi) & {mh[j]}) = 0 "
        f"AND ((x.lo ^ y.lo) & {ml[j]}) = 0)"
        for j in range(n_bands - 1)
    )
    keep = (
        f"({_dist_sql('x', 'y')}) <= {max_nibble_distance}"
        + (f" AND NOT ({earlier_equal})" if earlier_equal else "")
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        f"transform(filter(slice(ids, i + 2, size(ids)), y -> {keep}), "
        "y -> struct(x AS a, y AS b))))"
    )
    # Same hot-bucket discipline as bucket_pairs(distribute_threshold=256),
    # inlined because the verify/first-band predicates need the band
    # index and both members' fingerprint halves in scope.
    threshold = 256
    small = grouped.where(F.size("ids") <= threshold).select(
        F.explode(F.expr(pair_expr)).alias("p")
    )
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    big = (
        grouped.where(F.size("ids") > threshold)
        .select(
            "b",
            F.posexplode("ids").alias("_i", "x"),
            F.col("ids").alias("_ids"),
        )
        .select(
            "b", "x", F.expr("slice(_ids, _i + 2, size(_ids))").alias("_tail")
        )
        .repartition(shuffle_n)
        .select(
            F.explode(
                F.expr(
                    f"transform(filter(_tail, y -> {keep}), "
                    "y -> struct(x AS a, y AS b))"
                )
            ).alias("p")
        )
    )
    pairs = small.unionByName(big)

    def _nibble_count(x):
        # Count non-zero nibbles of a 32-bit value: OR each nibble's 4 bits
        # down onto its lowest bit, mask those bits, popcount.
        folded = (
            x.bitwiseOR(F.shiftright(x, 1))
            .bitwiseOR(F.shiftright(x, 2))
            .bitwiseOR(F.shiftright(x, 3))
        )
        return F.bit_count(folded.bitwiseAND(F.lit(0x11111111)))

    distance = (
        _nibble_count(F.col("p.a.hi").bitwiseXOR(F.col("p.b.hi")))
        + _nibble_count(F.col("p.a.lo").bitwiseXOR(F.col("p.b.lo")))
    ).cast("long")
    return pairs.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        distance.alias("nibble_distance"),
    )


# ---------------------------------------------------------------------------
# Candidate graphs shared within a run (machinery in substrate.py)
# ---------------------------------------------------------------------------

def shared_simhash_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified SimHash edge list at nibble distance <= 3, at rest:
    ``(doc_a, doc_b, nibble_distance)``.  One frame serves EVERY verify
    threshold <= 3 because banding is recall-perfect at its own threshold
    (dedup_simhash_pairs docstring; pinned by
    test_simhash_band_count_follows_threshold): the distance-d verified
    set is exactly the ``nibble_distance <= d`` slice of this frame."""
    return materialized_frame(
        spark,
        sf_dir,
        "simhash_d3",
        lambda: dedup_simhash_pairs(spark, sf_dir, max_nibble_distance=3),
    )


def shared_minhash_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH candidate pair list ``(doc_a, doc_b)`` at rest —
    the substrate every minhash graph lens (triangles, modularity, label
    propagation, PageRank, cluster assignment, source overlap) consumes."""
    return materialized_frame(
        spark,
        sf_dir,
        "minhash_lsh",
        lambda: minhash_candidate_pairs(load(spark, sf_dir, "documents")),
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, bucketed: sign-LSH bucket -> exact in-bucket
    cosine -> threshold.  The registered PRIMARY embedding near-dup query;
    dedup_embedding_cosine is the brute-force verification baseline.

    Scale shape: every vector lands in exactly ONE 8-plane sign bucket
    (similarity.signature_bits — deterministic md5 hyperplanes), so the
    layout is O(n) and the quadratic is strictly in-bucket; at 100 TB the
    bucket is the at-rest partition key and this whole job is
    partition-local.  Recall knob: fewer planes or multi-band bucketing
    (more candidates); bucket_pairs' ``max_bucket_size`` can bound
    adversarial hot buckets.  Norms are computed once per vector, joined back by
    id — never re-folded per pair."""
    from simple_land_registry_data_ingestion_spark.operators.similarity import (
        signature_bits,
    )

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    with_bucket = emb.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        signature_bits(F.col("embedding")).alias("bucket"),
    )
    grouped = with_bucket.groupBy("bucket").agg(
        F.array_sort(F.collect_list("vec_id")).alias("ids")
    )
    # Buckets partition the vectors, so pairs are already unique.
    cand = bucket_pairs(grouped, out_a="vec_a", out_b="vec_b")
    va = with_bucket.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    vb = with_bucket.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= 0.30)
    )


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, threshold: float = 0.30,
    max_vectors: int = 8000,
) -> DataFrame:
    """Near-duplicate vectors: pairs with cosine >= threshold.

    Default threshold is calibrated to the synthetic testdata (near-orthogonal
    random embeddings, max pair cosine ~0.5): real corpora would use ~0.95.

    Brute-force all-pairs — correct but O(n^2): kept as the VERIFICATION
    BASELINE only; the registered primary near-dup path is
    dedup_embedding_lsh (sign-LSH buckets, exact cosine in-bucket).

    Plan: BLOCKED GEMM via cogrouped applyInPandas.  A theta self-join
    + per-pair interpreted ``aggregate`` fold evaluates the dot product
    one interpreted expression-tree walk per PAIR — n^2 * dim
    interpreter steps, the anti-pattern shingle_table avoids, and it
    measured ~2x slower on the driver floor.
    Dense all-pairs scoring is the one place built-in column expressions
    genuinely lose to vectorized Python: each (block_a <= block_b) block
    pair becomes ONE Arrow-batched task computing its sub-Gram matrix with
    a float64 BLAS matmul — n^2 * dim FLOPs at memory bandwidth instead of
    interpreter dispatch (2000 vectors x dim 64 = 0.25 GFLOP, milliseconds
    in numpy vs seconds interpreted).  Each vector ships to n_blocks = 16
    partner groups, so the shuffle is n_blocks * corpus-sized — linear;
    n_blocks ~ cluster cores / replication tolerance.
    Pair orientation: a pair lands in exactly one (min_blk, max_blk)
    group and the in-task ``id_a < id_b`` mask emits it once.  The UDF
    pre-filters at (threshold - 1e-6); the EXACT contract — HALF_UP
    ``F.round(cos, 6)`` then ``>= threshold`` — is applied Spark-side, so
    rounding semantics are identical to the oracle's and the slack only
    admits boundary pairs for the exact filter to re-judge.

    GUARD: pair count grows as n^2/2, so the query carries an IN-PLAN size
    assertion — the vector count (one 1-row aggregate, broadcast onto the
    input rows) must not exceed ``max_vectors``, else the job FAILS before
    any block pair materializes.  The guard is a runtime filter expression
    (assert_true), fully lazy and distributed — no driver-side count — and
    visible in the physical plan (tests/test_plans.py pins it); it
    evaluates per-row on the n-row vector frame BEFORE the block fan-out,
    so an oversized input fails in the scan stage, not after the shuffle.
    Above the cap, use dedup_embedding_lsh.

    The UDF pre-filter slack is 1e-6: HALF_UP rounding at 6 dp admits
    raw cosines down to threshold - 5e-7, so the slack must cover that
    whole band — a 1e-9 slack could drop a boundary pair the oracle
    admits."""
    n_blocks = 16
    import pandas as pd  # local import: keep module import light

    guard_msg = (
        f"dedup_embedding_cosine is the all-pairs VERIFICATION baseline, "
        f"scoped to <= {max_vectors} vectors; use dedup_embedding_lsh for "
        f"the bucketed scale path"
    )

    def _guarded_side(pair_side: str) -> DataFrame:
        # fresh scan per cogroup side: cogroup children sharing one lineage
        # trip the ambiguous-self-join analyzer check
        emb = load(spark, sf_dir, "embeddings")
        n_vec = emb.agg(F.count(F.lit(1)).alias("n_vec"))
        guarded = (
            emb.crossJoin(F.broadcast(n_vec))
            .where(
                F.assert_true(
                    F.col("n_vec") <= F.lit(max_vectors), F.lit(guard_msg)
                ).isNull()
            )
            .select(
                "vec_id",
                "embedding",
                F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"),
            )
        )
        blk_ids = spark.range(n_blocks).select(F.col("id").cast("int"))
        blk_pairs = blk_ids.select(F.col("id").alias("blk_a")).join(
            blk_ids.select(F.col("id").alias("blk_b")),
            F.col("blk_a") <= F.col("blk_b"),
        )
        return guarded.join(
            F.broadcast(blk_pairs), guarded["blk"] == F.col(pair_side)
        ).select("blk_a", "blk_b", "vec_id", "embedding")

    left = _guarded_side("blk_a")
    right = _guarded_side("blk_b")
    # Slack must cover the WHOLE band HALF_UP rounding can admit:
    # round(cos, 6) >= t accepts raw cosines down to t - 5e-7, so a
    # 1e-9 pre-cut would silently drop boundary pairs in
    # [t - 5e-7, t - 1e-9) before the exact Spark-side filter could judge
    # them.  1e-6 strictly contains the rounding band; the exact filter
    # below still discards every false admit.
    pre_cut = threshold - 1e-6

    def _gemm(l: "pd.DataFrame", r: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if l.empty or r.empty:
            return empty
        # elements cast to double BEFORE the multiply — the same per-pair
        # cast the oracle's DOUBLE[] cast applies
        ma = np.stack(l["embedding"].to_numpy()).astype(np.float64)
        mb = np.stack(r["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        gram = (ma @ mb.T) / np.outer(na, nb)
        ia = l["vec_id"].to_numpy()
        ib = r["vec_id"].to_numpy()
        diagonal = int(l["blk_a"].iloc[0]) == int(l["blk_b"].iloc[0])
        if diagonal:
            # both sides hold the same block: i<j picks each pair once
            mask = (ia[:, None] < ib[None, :]) & (gram >= pre_cut)
        else:
            # disjoint blocks: every cross pair is valid and appears only
            # in this (min_blk, max_blk) group; orientation is normalized
            # below because the smaller id may sit on either side
            mask = gram >= pre_cut
        rows, cols = np.nonzero(mask)
        if rows.size == 0:
            return empty
        lhs, rhs = ia[rows], ib[cols]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(lhs, rhs),
                "vec_b": np.maximum(lhs, rhs),
                "cosine": gram[rows, cols],
            }
        )

    scored = (
        left.groupBy("blk_a", "blk_b")
        .cogroup(right.groupBy("blk_a", "blk_b"))
        .applyInPandas(_gemm, schema="vec_a long, vec_b long, cosine double")
    )
    return scored.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# Train/eval decontamination
# ---------------------------------------------------------------------------


def decontaminate(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >=
    ``min_overlap`` distinct word n-gram shingles with an evaluation set.

    The industry-standard contamination check (n-gram collision against
    held-out benchmarks) expressed Spark-first:

    - the eval side collapses to a DISTINCT shingle set and is BROADCAST —
      benchmark suites are MBs against a 100 TB corpus, so the probe is a
      map-side hash join on every train partition, no shuffle of the corpus;
      for an eval side too big to broadcast, drop the hint and the same plan
      degrades gracefully to a shuffled hash join on the shingle key;
    - the train side shingles once (distinct within doc), LEFT-joins the
      broadcast eval set as a hit MARKER, and computes shingle count and
      overlap count in ONE doc-keyed aggregation (rather than two
      separate aggregations — totals and hits — over the same shingle
      frame plus a final doc-keyed join to reunite them; the
      conditional count folds all of that into a single shuffle after
      the distinct.  A/B: 2.35 -> 1.45 s at sf0.1, 9.3 -> 5.4 s at 10x,
      rows identical).

    Output: one row per CONTAMINATED train doc with its shingle count,
    overlap count, and containment = n_overlap / n_shingles (the fraction
    of the doc's shingles that collide with the eval set).  Documents with
    fewer than ``n`` words have no shingles and are trivially clean.
    """
    n = 3
    tr_sh = shingle_table(train, n=n)  # distinct: overlap COUNTS rows
    ev_sh = (
        shingle_table(eval_docs, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    agg = (
        tr_sh.join(F.broadcast(ev_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            # count() skips nulls, so this counts exactly the marked rows
            F.count("__hit").alias("n_overlap"),
        )
        .where(F.col("n_overlap") >= 2)
    )
    containment = F.col("n_overlap").cast("double") / F.col("n_shingles")
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round(containment + 1e-9, 4).alias("containment"),
    )


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: docs with doc_id % 97 == 0 stand in for the
    held-out benchmark; every other doc is the training corpus."""
    docs = load(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    return decontaminate(docs.where(~is_eval), docs.where(is_eval)).orderBy("doc_id")


def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/holdout split: assign WHOLE duplicate clusters
    to a side, never individual documents.

    Splitting by document hash leaks training text into the holdout set
    whenever a near-duplicate pair straddles the split — the contamination
    that inflates eval scores.  Hashing the CLUSTER id (connected components
    over MinHash-LSH candidate pairs, dedup_cluster_assignments) instead
    guarantees every near-dup lands on one side; the first md5 nibble of the
    cluster id in 0..c (13/16) selects ~81% for train.

    Scale: cluster assignment is the iterative label propagation already
    bounded by checkpointed lineage; the split itself is a narrow map plus
    one aggregation over the low-cardinality split column.
    """
    assignments = dedup_cluster_assignments(spark, sf_dir)
    nib = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
    split = F.when(nib.isin(*"0123456789abc"), "train").otherwise("holdout")
    return (
        assignments.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
    )


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup: score a new batch against the existing corpus
    without ever comparing corpus x corpus.

    The production shape: the corpus's band buckets are a precomputed
    at-rest index; each arriving batch (here: doc_id % 10 == 0 stands in
    for the daily delta) computes its own bands, BROADCASTS them (a daily
    delta is small by construction), and only (corpus, increment) pairs
    sharing a band are scored with exact Jaccard.  Corpus pairs never form:
    candidate generation is a one-sided semi-probe of the index, so the
    cost per day is O(corpus bands probed + delta), not O(n^2) and not
    even O(corpus-pairs-in-buckets).

    One doc-keyed aggregation computes signature + shingle set for ALL
    docs (shared scan; the side split is a cheap filter on the result), so
    the expensive shingle subtree exists once in the plan.
    """
    docs = load(spark, sf_dir, "documents")
    sh = shingle_table(docs, distinct=False)
    sig_aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    per_doc = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"), *sig_aggs)
        .withColumn("n_sh", F.size(F.col("sh_set")).cast("long"))
        .localCheckpoint(eager=False)
    )
    is_inc = F.col("doc_id") % 10 == 0
    buckets = minhash_band_buckets(
        per_doc.select("doc_id", *[f"h{i}" for i in range(NUM_HASHES)])
    )
    inc_b = buckets.where(is_inc).select(
        F.col("doc_id").alias("inc_doc"), "band_key"
    )
    cor_b = buckets.where(~is_inc).select(
        F.col("doc_id").alias("corpus_doc"), "band_key"
    )
    cand = (
        cor_b.join(F.broadcast(inc_b), "band_key")
        .select("corpus_doc", "inc_doc")
        .distinct()
    )
    sets = per_doc.select("doc_id", "sh_set", "n_sh")
    scored = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("sh_set").alias("set_c"),
                F.col("n_sh").alias("n_c"),
            ),
            "corpus_doc",
        )
        .join(
            F.broadcast(
                sets.where(is_inc).select(
                    F.col("doc_id").alias("inc_doc"),
                    F.col("sh_set").alias("set_i"),
                    F.col("n_sh").alias("n_i"),
                )
            ),
            "inc_doc",
        )
    )
    inter = F.size(F.array_intersect(F.col("set_c"), F.col("set_i"))).cast("long")
    scored = scored.withColumn(
        "jaccard", F.round(inter / (F.col("n_c") + F.col("n_i") - inter), 6)
    )
    return scored.where(F.col("jaccard") >= 0.30).select(
        "inc_doc", "corpus_doc", "jaccard"
    )


def triangle_stats(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected graph — (id, degree, n_triangles, clustering_coeff).

    On the near-dup candidate graph this distinguishes DENSE duplicate
    cliques (mirrors, template farms — coefficient ~1) from star-shaped
    hub contamination (one boilerplate doc touching many unrelated ones —
    coefficient ~0) even when degree alone looks identical, so it is the
    triage signal AFTER connected_components says "one cluster".

    Scale shape — degree-ordered orientation (the MapReduce-standard
    trick): each undirected edge is directed from its lower-(degree, id)
    endpoint to the higher one.  The orientation is acyclic, so every
    triangle is counted EXACTLY once (its unique rank-ordered u->v->w
    traversal), and every out-neighborhood is bounded by O(sqrt(m)) — a
    celebrity node with 10^6 neighbors contributes no wedge explosion
    because its edges all point INTO it.  Cost: two joins over the
    oriented edge list (wedge build + closure check), both linear-shuffle;
    the naive id-ordered variant has the same output but lets one
    low-id/high-degree node generate deg^2 wedges in a single task."""
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("x"),
            F.col(dst_col).cast("long").alias("y"),
        )
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
    )
    # materialized once: the edge subtree (here: the whole LSH candidate
    # pipeline) feeds degree counting, rank joins, and the union below
    e = e.localCheckpoint(eager=True)
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    da = deg.select(F.col("u").alias("a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("degree").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    lower_first = F.struct("deg_a", "a") < F.struct("deg_b", "b")
    # materialized once: three consumers (wedge sides + closure probe)
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select(F.col("u").alias("t_u"), F.col("v").alias("t_v"))
    o2 = oriented.select(F.col("u").alias("t_v"), F.col("v").alias("t_w"))
    o3 = oriented.select(F.col("u").alias("t_u"), F.col("v").alias("t_w"))
    wedges = o1.join(o2, "t_v")
    tri = wedges.join(o3, ["t_u", "t_w"])
    per_node = (
        tri.select(
            F.explode(F.array("t_u", "t_v", "t_w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("degree")
    return (
        nodes.select(F.col(node_col).alias("id"))
        .join(deg.withColumnRenamed("u", "id"), "id", "left")
        .join(per_node.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("degree", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
        )
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.col("n_triangles") / (d * (d - F.lit(1))), 6
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def dedup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: triangle/clustering-coefficient triage over the
    MinHash-LSH candidate graph (every document, zeros for isolated)."""
    docs = load(spark, sf_dir, "documents")
    edges = shared_minhash_graph(spark, sf_dir)  # at-rest lens substrate
    return triangle_stats(
        docs.select("doc_id"), edges, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    ).withColumnRenamed("id", "doc_id")


def dedup_semdedup(
    spark: SparkSession, sf_dir: str,
    row_block: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    cluster-then-prune — k-means clusters bound the quadratic, then only
    IN-CLUSTER pairs are cosine-scored and near-duplicates pruned.

    This is the embedding-space analog of MinHash-LSH dedup: at 100 TB an
    all-pairs cosine is impossible (see dedup_embedding_cosine's guard),
    but k clusters of n/k vectors cost k*(n/k)^2 = n^2/k pairwise scores,
    each partition-local after one shuffle on centroid_id — tune k to
    bound per-cluster work exactly like the LSH hot-bucket cap.

    Stages (all reusing the oracle-grade deterministic pieces):
    1. centroids: 2-iteration 6-dp-quantized Lloyd refinement
       (similarity.kmeans_refine_centroids — engine-exact, so the full
       pipeline carries a plain SQL oracle);
    2. assign: argmax 6-dp cosine against broadcast centroids, ties on
       centroid_id;
    3. prune: within each cluster, a vector is DROPPED when any
       lower-vec_id cluster-mate has cosine >= threshold (keep-first by
       id — deterministic, and the paper's keep-one-per-group semantics).

    Output: every vector with its cluster and the keep/drop decision."""
    threshold = 0.32
    from simple_land_registry_data_ingestion_spark.operators.similarity import (
        kmeans_refine_centroids,
    )

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    cent = kmeans_refine_centroids(emb)
    with_norm = emb.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    scored = with_norm.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "embedding",
        "nrm",
        "centroid_id",
        F.round(
            dot(F.col("embedding"), F.col("c_vec"))
            / (F.col("nrm") * F.col("c_norm")),
            6,
        ).alias("c_cos"),
    )
    # argmax as a max_by HASH AGGREGATE, not a sort window: the
    # ordering struct (c_cos desc, centroid_id asc via negation) is the
    # same total order the row_number window applied, but the aggregate
    # map-side-combines each vector's K centroid rows down to one before
    # any exchange — no sort, and the wire moves n rows, not n*K.
    # materialized once: the assignment subtree (scan + broadcast score +
    # aggregate) feeds both the output and the in-cluster scoring below —
    # without truncation it would execute twice (same discipline as the
    # simhash fingerprint subtree, dedup_simhash_pairs)
    best = F.max_by(
        F.struct("embedding", "nrm", "centroid_id"),
        F.struct(F.col("c_cos"), (-F.col("centroid_id")).alias("neg_cid")),
    ).alias("best")
    asg = (
        scored.groupBy("vec_id")
        .agg(best)
        .select(
            "vec_id",
            F.col("best.embedding").alias("embedding"),
            F.col("best.nrm").alias("nrm"),
            F.col("best.centroid_id").alias("centroid_id"),
        )
        .localCheckpoint(eager=True)
    )
    # In-cluster pair scoring as per-cluster GEMM (the
    # dedup_embedding_cosine lesson): a self-join form evaluates an
    # interpreted ``aggregate`` fold per PAIR — n^2/k * dim interpreter
    # steps.  Each cluster is one applyInPandas task computing its own
    # sub-Gram matrix with a float64 numpy matmul and pre-filtering at
    # (threshold - 1e-6) — the slack covers the whole band HALF_UP 6-dp
    # rounding can admit (raw cosines down to t - 5e-7; a 1e-9 slack
    # could drop boundary pairs the oracle admits); the
    # EXACT contract — HALF_UP round to 6 dp then >= threshold — is
    # applied Spark-side on the surviving pairs, so rounding semantics
    # match the oracle and the slack only admits boundary pairs for the
    # exact filter to re-judge.  Cluster size is the partition-local
    # bound exactly as in the join form — and the gram is computed in
    # ROW BLOCKS of 2048: a degenerate cluster of c vectors
    # would otherwise hold an O(c^2) float64 matrix in one Python worker;
    # blocking caps resident memory at O(2048 * c).  Results are
    # identical up to BLAS reproducibility (dgemm may block/
    # thread differently per matrix shape, so a dot product can drift an
    # ulp between block sizes); any such drift is absorbed by the 1e-6
    # pre-cut slack plus the Spark-side exact 6-dp filter below — an
    # ulp at the pre-cut boundary cannot survive the exact re-judge.
    import pandas as pd  # local import: keep module import light

    pre_cut = threshold - 1e-6

    def _cluster_pairs(grp: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        m = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        nr = np.sqrt(np.einsum("ij,ij->i", m, m))
        ids = grp["vec_id"].to_numpy()
        out = []
        for s in range(0, m.shape[0], row_block):
            e = min(s + row_block, m.shape[0])
            gram = (m[s:e] @ m.T) / np.outer(nr[s:e], nr)
            mask = (ids[s:e, None] < ids[None, :]) & (gram >= pre_cut)
            rows, cols = np.nonzero(mask)
            out.append(
                pd.DataFrame({"vec_b": ids[cols], "cosine": gram[rows, cols]})
            )
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame(
            {"vec_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )

    dominated = (
        asg.groupBy("centroid_id")
        .applyInPandas(_cluster_pairs, schema="vec_b long, cosine double")
        .where(F.round("cosine", 6) >= threshold)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        asg.join(dominated, "vec_id", "left")
        .select(
            "vec_id",
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("_dropped").isNull().alias("is_kept"),
        )
    )


def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-duplicate-cluster survivor selection by QUALITY, not id: a real
    dedup pipeline keeps the best-written copy, not the lowest key.

    Composes cluster assignment (connected components over MinHash-LSH
    candidates) with the quality scorer; the survivor is the member with the
    highest quality score (ties broken on doc_id, so selection is total).
    The per-cluster argmax is one window over cluster_id — the same
    partitioned-window shape as CDC compaction, linear-shuffle at any scale.
    """
    from simple_land_registry_data_ingestion_spark.functions.text import (
        text_quality_score,
    )

    labels = dedup_cluster_assignments(spark, sf_dir).select("doc_id", "cluster_id")
    quality = text_quality_score(spark, sf_dir).select("doc_id", "quality_score")
    joined = labels.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality_score").alias("best_quality"),
            "n_members",
        )
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERATIONS = 3


def pagerank_centrality(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Distributed PageRank by unrolled power iteration over an undirected
    graph (each edge contributes both directions).

    In a dedup pipeline, high-centrality documents in the NEAR-DUP graph
    are the boilerplate/template hubs — the ones whose text recurs across
    many sources — so centrality is a curation signal beyond pairwise
    similarity.  Dangling nodes (no edges) keep the teleport mass only,
    the standard simplification (no dangling-mass redistribution).

    Determinism across engines: every per-edge contribution and every
    per-iteration rank is quantized to 8 dp (same trick as the Lloyd loop
    in operators/similarity.py) so float summation ORDER — which differs
    between Spark's partial aggregation and any oracle — cannot leak into
    the result; with <=10^3-term sums the true error sits ~1e-13, far
    inside the quantum.

    Scale shape per iteration: one edge-keyed broadcast-or-shuffle join
    (rank onto edges) + one dst-keyed aggregation — the same linear-shuffle
    loop as connected_components, and like it the rank frame's lineage is
    truncated each pass so the plan does not double per iteration
    (localCheckpoint by default; reliable df.checkpoint() when
    ``checkpoint_dir`` names a fault-tolerant directory — see
    _truncate_lineage).
    """
    n_nodes = nodes.select(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    und = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(
            F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
        )
    ).distinct()
    und = _truncate_lineage(und, checkpoint_dir)
    outdeg = und.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    rank = _truncate_lineage(
        nodes.select(F.col(node_col).alias("node"))
        .crossJoin(F.broadcast(n_nodes))
        .select("node", F.round(F.lit(1.0) / F.col("_n"), 8).alias("rank")),
        checkpoint_dir,
    )
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            und.join(rank.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("rank") / F.col("outdeg"), 8).alias("c"),
            )
        )
        inflow = contrib.groupBy("node").agg(
            F.round(F.sum("c"), 8).alias("inflow")
        )
        rank = _truncate_lineage(
            nodes.select(F.col(node_col).alias("node"))
            .join(inflow, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                F.round(
                    (1.0 - PAGERANK_DAMPING) / F.col("_n")
                    + PAGERANK_DAMPING * F.coalesce(F.col("inflow"), F.lit(0.0)),
                    8,
                ).alias("rank"),
            ),
            checkpoint_dir,
        )
    return rank


def dedup_pagerank_hubs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: PageRank over the MinHash-LSH candidate graph;
    emits every document's centrality (8 dp) — the boilerplate-hub signal.
    Ties broken by doc_id in consumers; full table out so the oracle hash
    covers every rank, not just the head."""
    docs = load(spark, sf_dir, "documents")
    edges = shared_minhash_graph(spark, sf_dir)  # at-rest lens substrate
    pr = pagerank_centrality(docs.select("doc_id"), edges)
    return pr.select(F.col("node").alias("doc_id"), F.col("rank").alias("pagerank"))


# ---------------------------------------------------------------------------
# Prefix-filtered similarity join (PPJoin-style) and exact-substring spans
# ---------------------------------------------------------------------------

def jaccard_prefix_pairs(
    docs: DataFrame, threshold: float = 0.5, positional_filter: bool = True
) -> DataFrame:
    """EXACT Jaccard similarity join with PROVABLY LOSSLESS prefix
    filtering (PPJoin family, Xiao et al. / Vernica et al.'s MapReduce
    set-similarity join).

    Unlike MinHash-LSH (probabilistic recall) and the df-capped exact join
    (drops viral-shingle mass), prefix filtering prunes candidates with a
    completeness GUARANTEE: order every doc's shingles by one global total
    order (df asc, shingle asc — rarest first) and keep only the first
    ``|d| - ceil(t*|d|) + 1`` as the doc's prefix; any pair with
    J(A,B) >= t must share at least one PREFIX token (if the prefixes were
    disjoint, the overlap is bounded by the shorter suffix, which the
    prefix length is chosen to make too small).  Candidates therefore form
    only in prefix-token buckets — and prefix tokens are each doc's RAREST
    tokens, so buckets are small by construction; the same
    distribute_threshold hook as LSH guards the residual hot bucket.

    Plan: one shingle shuffle builds df; per-doc sorted-prefix arrays are
    one groupBy; candidate generation is the bucket_pairs expansion;
    verification joins the candidate pairs (tiny vs corpus) against the
    per-doc shingle-set table twice and computes the exact intersection
    with array_intersect — O(|A|+|B|) per candidate, JVM-side.  Integer
    set arithmetic -> deterministic 6-dp jaccard.

    All three classic PPJoin prunes are applied, each lossless: prefix
    (candidate generation), length (t*|A| <= |B| <= |A|/t on narrow
    columns), and positional (overlap <= 1 + min(|A|-i0, |B|-j0) from the
    first common token's positions — the prune that bites on
    boilerplate-heavy corpora where many docs share a rare-ish template
    token late in their prefix).  ``positional_filter=False`` disables the
    third prune — results are identical either way (the property test
    asserts it); the flag exists so tests can MEASURE the candidate-count
    drop the prune buys."""
    return _jaccard_prefix_build(docs, threshold, positional_filter).verified


def jaccard_prefix_candidates(
    docs: DataFrame, threshold: float = 0.5, positional_filter: bool = True
) -> DataFrame:
    """The post-prune candidate frame (doc_a, doc_b) of
    ``jaccard_prefix_pairs`` — a separate accessor (not an attribute
    monkey-patched onto the result DataFrame, which any _wrap or transform
    would silently drop) so tests can MEASURE what each prune buys."""
    return _jaccard_prefix_build(docs, threshold, positional_filter).candidates


class _JaccardPrefixParts(NamedTuple):
    verified: DataFrame
    candidates: DataFrame


def build_prefix_index(docs: DataFrame) -> DataFrame:
    """The rarity-ordered token index the PPJoin family runs on: one row
    per doc with its df-sorted token structs and set size — the frame a
    production near-dup service materializes ONCE per corpus snapshot
    and serves every prefix-join threshold from (the prefix length is a
    read-time slice, so the index is threshold-independent).

    Tokens are xxHash64 HASHES of the word 3-gram shingles, not the
    strings: the index's payload is arrays of ~25-char strings
    otherwise, and the hash cuts the doc-keyed shuffle, the at-rest
    parquet, and every downstream array_intersect to 8 bytes/token.
    Exactness modulo 64-bit collisions — the same accepted risk class as
    every hash-partitioned exact-dedup pipeline (a collision needs two
    distinct shingles of the SAME corpus to share a hash; at ~1e6
    distinct shingles the probability is ~1e-7) — and the total order
    (df asc, hash asc) stays a global total order, which is all the
    prefix-filter completeness proof needs.

    Build shape: ONE shingle-keyed aggregate (collect_set dedupes
    per-doc repeats in the map-side partial) replaces the old distinct
    -> df-aggregate -> join chain: the raw exploded shingles shuffle
    ONCE, df is just the bucket size, and the (df, h, doc) rows explode
    back out shuffle-free ahead of the doc-keyed aggregate.
    Emission is the NO-WINDOW zip form: this pipeline's first
    aggregation is shingle-keyed, so shingle_table's doc_id exchange +
    sort buys nothing back here (interleaved A/B: median 4.69 ->
    3.75 s)."""
    buckets = (
        shingle_table_nowindow(docs, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("h")
        .agg(F.collect_set("doc_id").alias("bucket_ids"))
    )
    return (
        buckets.select(
            "h",
            F.size("bucket_ids").cast("long").alias("df"),
            F.explode("bucket_ids").alias("doc_id"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "h"))).alias("toks")
        )
        .withColumn("n_sh", F.size("toks").cast("long"))
    )


def _jaccard_prefix_build(
    docs: DataFrame, threshold: float, positional_filter: bool
) -> "_JaccardPrefixParts":
    # LIVE path (tests and ad-hoc corpora): build the index in-query.
    # EAGERLY localCheckpoint'd: three consumers read this frame
    # (prefix generation, both wide set fetches), and with a LAZY
    # checkpoint their first concurrent job raced the un-checkpointed
    # subtree and replayed the full shingle-emission + two-aggregation
    # chain per consumer (2.5x cold regression).
    per_doc = build_prefix_index(docs).localCheckpoint(eager=True)
    return _prefix_join_from_index(per_doc, threshold, positional_filter)


def _prefix_join_from_index(
    per_doc: DataFrame, threshold: float, positional_filter: bool
) -> "_JaccardPrefixParts":
    """PPJoin candidate generation + exact verify over a prefix index
    frame (doc_id, toks array<struct<df,h>>, n_sh) — shared by the live
    build above and the at-rest store read in dedup_jaccard_prefix."""
    sz = F.size("toks")
    plen = (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
    # posexplode keeps each prefix token's 1-based POSITION in the doc's
    # full df-sorted token list — the input to the positional filter below.
    # n_sh rides along INTO the bucket structs: the candidate
    # aggregation then already holds both sizes, so the LENGTH filter
    # needs no join back to per_doc — two narrow probe joins removed.
    prefix = per_doc.select(
        "doc_id",
        "n_sh",
        F.posexplode(
            F.transform(F.slice("toks", F.lit(1), plen), lambda s: s["h"])
        ).alias("pos0", "h"),
    )
    # Buckets carry (doc_id, pos, n) structs; doc_id is the leading struct
    # field so array_sort keeps the i<j pair orientation identical to the
    # id-only path (one row per doc per bucket: shingles are distinct
    # within a doc).
    raw_pairs = bucket_pairs(
        prefix.groupBy("h").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "doc_id",
                        (F.col("pos0") + 1).alias("pos"),
                        F.col("n_sh").alias("n"),
                    )
                )
            ).alias("ids")
        ),
        distribute_threshold=256,
    )
    # POSITIONAL filter inputs (third lossless PPJoin prune): every common
    # token of a candidate pair sorts at-or-after the pair's globally first
    # common token w0, and w0 — being earliest — lies in BOTH prefixes, so
    # the pair is also generated in w0's bucket and the component-wise MIN
    # positions across buckets are exactly w0's positions (i0, j0).  Hence
    # overlap(A,B) <= 1 + min(|A| - i0, |B| - j0), a bound applied below
    # without ever touching the wide shingle sets.  min(n) = n: the size
    # is constant per doc, min is just the aggregate that carries it.
    candidates = raw_pairs.groupBy(
        F.col("doc_a.doc_id").alias("doc_a"),
        F.col("doc_b.doc_id").alias("doc_b"),
    ).agg(
        F.min(F.col("doc_a.pos")).alias("pos_a"),
        F.min(F.col("doc_b.pos")).alias("pos_b"),
        F.min(F.col("doc_a.n")).alias("n_a"),
        F.min(F.col("doc_b.n")).alias("n_b"),
    )
    # LENGTH filter (the second standard PPJoin prune, equally lossless):
    # J(A,B) >= t forces t*|A| <= |B| <= |A|/t, so size-incompatible
    # candidates are dropped on the NARROW candidate frame and the wide
    # shingle-set arrays only shuffle for survivors.  On THIS corpus doc
    # lengths are homogeneous so the prune is nearly free but nearly
    # empty (measured ~0 at sf0.1); on heterogeneous-length corpora —
    # where web data actually lives — it is the bigger lever.
    # Required overlap for J >= t: o >= t/(1+t) * (|A|+|B|).  The 1e-9
    # slack keeps float ceil from over-pruning an exactly-integral bound —
    # under-pruning by one candidate is harmless (verification is exact),
    # over-pruning would break the completeness guarantee.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("n_a") + F.col("n_b"))
        - F.lit(1e-9)
    )
    pos_ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")
    )
    # Same 1e-9 slack as alpha: t*n whose double product lands just above
    # an exactly-integral bound (e.g. 3.0000000000000004) must not ceil to
    # a stricter size requirement and over-prune a boundary pair with
    # J exactly equal to t.
    pruned = (
        (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a") - F.lit(1e-9)))
        & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b") - F.lit(1e-9)))
    )
    if positional_filter:
        pruned = pruned & (pos_ubound >= alpha)
    compatible = candidates.where(pruned).select("doc_a", "doc_b", "n_a", "n_b")
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.transform("toks", lambda s: s["h"]).alias("set_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.transform("toks", lambda s: s["h"]).alias("set_b"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    verified = (
        compatible.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jac, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return _JaccardPrefixParts(
        verified=verified, candidates=compatible.select("doc_a", "doc_b")
    )


def shared_prefix_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rarity-ordered prefix-filter token index at rest —
    ``(doc_id, toks array<struct<df,h>>, n_sh)``, threshold-independent
    (the prefix length is a read-time slice), serving every PPJoin
    threshold from one corpus pass.  Live producer (the substrate
    accounting rule): ``dedup_prefix_index_build`` pays the benched build."""
    return materialized_frame(
        spark,
        sf_dir,
        "prefix_index",
        lambda: build_prefix_index(load(spark, sf_dir, "documents")),
    )


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query: lossless prefix-filtered exact Jaccard join at
    t=0.5; the oracle is the UNPRUNED brute-force join, so a green row
    certifies the completeness guarantee end-to-end.

    Reads the token index from the at-rest substrate store (like
    every other lens over a shared expensive frame) instead of
    rebuilding it per query — the rebuild would be this query's whole
    10x residual (the index build is emission + two corpus shuffles + an
    eager checkpoint write, all corpus-linear; the join itself is
    candidate-bounded).  The build cost stays on the scoreboard through
    the ``dedup_prefix_index_build`` producer row, per the substrate
    accounting rule."""
    return _prefix_join_from_index(
        shared_prefix_index(spark, sf_dir), 0.5, True
    ).verified


def dedup_prefix_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE producer for the prefix-filter token index: builds the
    rarity-ordered index from the raw corpus in-query (NO store read —
    the substrate accounting rule: every stored substrate keeps a benched
    producer so the corpus-pass cost stays certified) and emits per-doc
    index stats the oracle can recompute in SQL:

      - n_sh: distinct-shingle count;
      - prefix_len: |d| - ceil(t*|d|) + 1 at t=0.5, the stored index's
        documented default slice;
      - prefix_df_sum: sum of df over the prefix tokens — TIE-BREAK
        INVARIANT (any (df asc, *) total order picks the same df
        multiset for the first prefix_len tokens, so the sum certifies
        the rarity ordering without exposing the engine-specific hash
        tie-break the index itself sorts by).

    The interpreted fold over the prefix slice runs on |docs| rows of
    ~100-element arrays — not a corpus-row-path HOF."""
    t = 0.5
    per_doc = build_prefix_index(load(spark, sf_dir, "documents"))
    sz = F.size("toks")
    plen = (sz - F.ceil(F.lit(t) * sz) + 1).cast("int")
    return per_doc.select(
        "doc_id",
        "n_sh",
        plen.cast("long").alias("prefix_len"),
        F.aggregate(
            F.slice("toks", F.lit(1), plen),
            F.lit(0).cast("long"),
            lambda acc, s: acc + s["df"],
        ).alias("prefix_df_sum"),
    )


def dedup_exact_substring(
    spark: SparkSession, sf_dir: str, window: int = 8
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplicate spans (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): every
    ``window``-token run that appears verbatim in >= 2 distinct documents,
    with its document and occurrence counts.

    The suffix-array construction of the paper is inherently sequential;
    the distributed equivalent hashes every token window (all positions,
    not per-doc distinct — a doc repeating a span internally still counts
    every occurrence) and aggregates by window hash.  Each doc emits
    ~n_tokens rows, so the shuffle is corpus-linear with a map-side
    combine; no pair of documents is ever joined.  At 100 TB the windows
    would be re-hashed to 8 bytes (xxhash) and the groupBy pre-aggregated
    per partition — the plan shape is already that.

    Output: (gram_hash, n_docs, n_occurrences, example_doc) for every
    duplicated window; downstream span-removal joins this back on the
    hash."""
    docs = fan_out(load(spark, sf_dir, "documents"))
    ws = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    size = F.size(ws)
    idx = F.sequence(F.lit(1), size - (window - 1))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i, window)))
    )
    hashed = docs.select(
        "doc_id",
        F.explode(
            F.when(size >= window, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram_hash"),
    )
    return (
        hashed.groupBy("gram_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("example_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every (source, source) pair,
    how many MinHash-LSH near-duplicate CANDIDATE pairs straddle them —
    the diagnostic that separates 'source X mirrors source Y' (off-
    diagonal mass: drop one side) from 'source X re-posts its own content'
    (diagonal mass: dedup within).  The per-source acquisition decision a
    training-data pipeline has to make before any cleaning starts.

    Plan: candidate pairs from the existing banded LSH machinery (bucket-
    bounded, never all-pairs), then the doc→source map joins in on the
    pair's two doc ids — two equi-joins of the pair table against a
    projected two-column map (shuffle joins on doc_id; at 100 TB the map
    is corpus-sized, not broadcastable, which is fine — the PAIR side is
    the small one).  least/greatest normalizes the unordered source pair
    so the matrix is upper-triangular."""
    pairs = shared_minhash_graph(spark, sf_dir)  # at-rest lens substrate
    srcs = load(spark, sf_dir, "documents").select("doc_id", "source")
    sa = srcs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = srcs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    )


def dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR certification: for every LSH candidate pair,
    the signature-agreement estimate of Jaccard (fraction of the k=6
    min-hash components that agree — the unbiased estimator the whole
    MinHash stack rests on, Broder 1997) side by side with the EXACT
    Jaccard from the shingle sets, plus the absolute error.

    This closes the statistical loop the LSH queries leave open:
    dedup_minhash_lsh certifies the CANDIDATE mechanics and
    dedup_jaccard_lsh the exact verify, but neither proves the signatures
    themselves estimate what they claim.  With k=6 the estimator is
    coarse (granularity 1/6, sd = sqrt(J(1-J)/6) ~ 0.2) — the per-pair
    errors the driver hashes are exactly that coarse, which is the point:
    the certified numbers tell an operator what k buys before scaling it.

    Plan: ONE doc-keyed aggregation of ONE shingle explode yields both
    the signature (min over the shingle MULTISET equals min over the set)
    and the exact-verify side (collect_set + its size), lazily
    localCheckpoint'd so the five downstream references (bands, both
    signature probes, both set probes) read the materialized rows instead
    of replaying the explode — measured ~4.1 s -> ~2.3 s at sf0.1;
    candidates by in-bucket expansion, no all-pairs anywhere."""
    docs = load(spark, sf_dir, "documents")
    sh = shingle_table(docs, distinct=False)
    per_doc = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("shingle").alias("sh_set"),
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))
                ).alias(f"h{i}")
                for i in range(NUM_HASHES)
            ],
        )
        .withColumn("n_sh", F.size("sh_set").cast("long"))
        .localCheckpoint(eager=False)
    )
    grouped = minhash_band_buckets(per_doc).groupBy("band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = bucket_pairs(grouped).distinct()
    hs = [f"h{i}" for i in range(NUM_HASHES)]
    siga = per_doc.select(
        F.col("doc_id").alias("doc_a"), *[F.col(h).alias(f"{h}_a") for h in hs]
    )
    sigb = per_doc.select(
        F.col("doc_id").alias("doc_b"), *[F.col(h).alias(f"{h}_b") for h in hs]
    )
    agree = sum(
        (F.col(f"{h}_a") == F.col(f"{h}_b")).cast("int") for h in hs
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    exact = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("est_jaccard", F.round(agree / F.lit(float(NUM_HASHES)), 6))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(F.col("est_jaccard") - exact), 6).alias("abs_err"),
        )
    )


def dedup_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-CURVE certification: on a bounded doc sample, score
    EVERY pair's exact Jaccard, flag whether the banded MinHash made it a
    candidate, and compare the per-decile candidate rate against the
    theoretical collision probability 1 - (1 - J^r)^b for this index's
    (b=3 bands, r=2 rows) — the tuning curve every LSH deployment sizes
    its bands from (Leskovec/Rajaraman/Ullman ch. 3).

    The decile table is the operational artifact: low deciles show the
    false-candidate rate you pay, high deciles the recall you get, and a
    gap from theory flags broken hash independence.  The driver hashes
    all of it, so the statistical behavior of the index is a certified
    fact, not a docstring claim.

    Scale shape: the all-pairs scoring is deliberately bounded to
    200 docs (200^2/2 pairs — an EVALUATION, like
    similarity_recall_at_k, never run corpus-wide); signature and band
    computation reuse the per-doc pipeline.  The theoretical curve uses
    explicit multiplication (q*q*q), not pow(), so both engines produce
    identical doubles."""
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sh = shingle_table(docs)
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh_set"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("n_b"),
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    pairs = (
        sa.crossJoin(F.broadcast(sb))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jac"))
    )
    grouped = minhash_band_buckets(minhash_signatures(docs)).groupBy(
        "band_key"
    ).agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
    cand = bucket_pairs(grouped).distinct().withColumn("is_cand", F.lit(1))
    j2 = F.col("jac") * F.col("jac")
    q = F.lit(1.0) - j2
    theory = F.lit(1.0) - q * q * q
    flagged = pairs.join(cand, ["doc_a", "doc_b"], "left").select(
        F.least(F.floor(F.col("jac") * 10).cast("int"), F.lit(9)).alias(
            "jac_decile"
        ),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        theory.alias("p_theory"),
    )
    return flagged.groupBy("jac_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_cand").cast("long").alias("n_candidates"),
        F.round(F.sum("is_cand") / F.count(F.lit(1)), 6).alias("cand_rate"),
        F.round(F.avg("p_theory"), 6).alias("avg_p_theory"),
    )


# ---------------------------------------------------------------------------
# Corpus novelty curve + sparse TF-IDF cosine join
# ---------------------------------------------------------------------------

def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DIVERSITY GROWTH curve: per document (in doc_id ingestion
    order), how many of its distinct word 3-grams appear in NO earlier
    document — the data-ablation signal ("is the marginal document adding
    anything?") curation pipelines read before buying another crawl.

    A gram credits novelty to exactly its MIN-doc_id occurrence, so the
    whole metric is two corpus-linear aggregations of one shingle explode
    (gram -> first_doc; doc -> totals) plus a join of two doc-keyed
    narrow frames back onto the doc spine — no doc pair ever joins, no
    window over the corpus.  At 100 TB "earlier" generalizes to any total
    order carried as a column (crawl timestamp, shard id).

    Output: (doc_id, n_grams, n_novel, novelty_fraction), zero rows for
    sub-3-word docs kept with fraction 0."""
    docs = load(spark, sf_dir, "documents")
    # sh feeds two aggregations — materialize the (CPU-bound) shingle
    # explode+distinct once instead of replaying it per consumer
    sh = shingle_table(docs).localCheckpoint(eager=False)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    totals = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    n_grams = F.coalesce("n_grams", F.lit(0)).cast("long")
    n_novel = F.coalesce("n_novel", F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            n_novel.alias("n_novel"),
            F.round(
                F.when(n_grams > 0, n_novel / n_grams).otherwise(F.lit(0.0)), 6
            ).alias("novelty_fraction"),
        )
    )


def dedup_tfidf_cosine(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join via an INVERTED INDEX — the
    text-similarity-at-scale shape (term-at-a-time posting-list join,
    Elasticsearch/Lucene's scoring dataflow re-expressed relationally):
    documents never pair up directly; pair contributions are generated
    per shared term inside that term's posting list and summed.

    Terms are word 3-GRAM SHINGLES, not single words (SpotSigs-style):
    this corpus's word vocabulary is ~30 tokens (every posting list is
    corpus-sized, so single-word TF-IDF is structurally degenerate — a
    first cut returned zero pairs at sf0.1), and shingles are also what
    web-scale near-dup scoring actually weights.

    Scale discipline is candidates-then-verify (the LSH/PPJoin split):
    pair CANDIDATES are generated only inside posting lists with
    df in [2, 10] (stopword-grade lists would go quadratic), but
    every candidate is then VERIFIED with its FULL cosine over all
    shared terms — so the cap bounds the quadratic without biasing the
    score (a first cut that also dropped capped terms from SCORING went
    silently to zero matches as the corpus grew: common shared terms
    carry most of the norm).  Recall rests on a near-dup pair sharing at
    least one sub-cap term — the same rare-token argument prefix
    filtering is built on.  Hot surviving lists spread through
    bucket_pairs(distribute_threshold).

    Cross-engine float discipline (the whole design problem here) —
    INTEGER FIXED-POINT with DEFERRED normalization: idf is
    quantized to a 1e-6-unit BIGINT (ln may differ by an ulp across
    libms; the integer quantum is the same guard a 6-dp round
    gives), so every weight w_int = tf * idf6 is an exact integer, the
    per-doc norm is sqrt of an exact DECIMAL(38,0) sum of squares, and a
    pair's dot product is an exact DECIMAL(38,0) sum of long products
    over its shared terms.  Normalization happens ONCE per surviving
    pair — cosine = double(dot) / (nrm_a * nrm_b), the 1e-12 units of
    dot cancelling the two 1e-6-unit norms — instead of once per
    (doc, term) coordinate.  Every float reduction is exact integer
    arithmetic until the final per-pair division, the same trick as the
    k-means oracles but with three fewer rounding sites: no
    per-coordinate DOUBLE divide + 6-dp round and no per-contribution
    9-dp DECIMAL(18,9) round, and with them no full-frame doc_id
    WINDOW the per-coordinate normalization would force (the norm is a
    map-side-combined groupBy whose exchange carries |docs| rows, not
    the corpus).  Magnitude bound: w_int <= tf * ln(n)*1e6 keeps the
    long product wa*wb exact below tf ~ 3e2 at ln(n) ~ 12; a 100 TB
    deployment with pathological tf would cast one factor to
    DECIMAL(19,0) before the multiply (ANSI mode makes an overflow loud,
    not silent).

    Output: (doc_a, doc_b, cosine) for pairs with 6-dp cosine >= t.
    ``docs`` overrides the corpus (tests plant duplicates)."""
    if docs is None:
        docs = load(spark, sf_dir, "documents")
    n_docs = docs.agg(
        F.count_distinct("doc_id").cast("double").alias("n_corpus")
    )
    # df as a KEYED WINDOW over the (doc, term) tf frame:
    # count(*) OVER (PARTITION BY term) pays the keyed shuffle a
    # groupBy+join form would, with no join and no checkpoint barrier —
    # and the explode is repartitioned by
    # TERM before the tf aggregate (hash partitioning on a subset of the
    # grouping keys satisfies the (doc, term) clustering), so the tf
    # aggregate runs partition-local AND the df window reuses the same
    # term partitioning with no exchange.  (The traded-away map-side
    # partial aggregation is ~free here: shingles barely repeat within a
    # doc — pre-/post-aggregate row counts within 4%, measured 2.60M vs
    # 2.70M at 10x.)  The per-doc norm does not run OVER (PARTITION BY
    # doc_id) on the full frame (see ``norms`` below), so this
    # repartition is the query's ONLY full-frame exchange.
    #
    # Two measured w-build cuts: (1) emission via
    # shingle_table_nowindow — this query's first aggregation is
    # TERM-keyed after the repartition, so shingle_table's doc_id
    # exchange + sort buys nothing back (the emission rule, same as
    # jaccard_prefix); (2) terms cross the
    # exchange/window/joins as xxhash64 LONGS, not 25-byte shingle
    # strings — term identity is equality-only here (the idf only needs
    # df per term), the same ~1e-7/corpus collision class the
    # prefix index documents.  The oracle is untouched: it scores
    # cosine from raw terms, and term identity is all the hash
    # replaces.  A 64-bit collision would merge two terms' posting
    # lists (inflating df and a pair's shared-term count); if this
    # row ever reds, check for a collision before debugging the join.
    # The ~1e-7 odds are BENCH-SCALE (~1e6 distinct terms); past ~5e9
    # distinct terms the 64-bit birthday bound makes a merge
    # near-certain, so an at-scale deployment must widen term identity
    # to 128 bits (e.g. both md5 halves).
    tf = (
        shingle_table_nowindow(docs, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("term"))
        .repartition(F.col("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w_term = Window.partitionBy("term")
    # w_int = tf * idf6: exact 1e-6-unit integer weight (docstring).
    # LAZILY checkpointed for its four consumers (norms, postings, both
    # verify sides) — the frame is narrow (one long per row, not a
    # 6-dp double + per-row norm).  eager=True
    # was A/B'd and lost ~1.5 s at sf0.1: this query's consumers
    # run stage-by-stage, never concurrently from a cold start, so the
    # lazy-race hazard doesn't bite and the eager form only adds an
    # up-front materialization barrier before any downstream stage can
    # overlap.  The >= 3-consumers -> eager rule is therefore scoped: it
    # applies when consumers launch CONCURRENT jobs (jaccard_prefix's
    # per_doc), not when a single action drives them sequentially.
    w = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term).cast("long"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "df",
            (
                F.col("tf")
                * F.round(F.log(F.col("n_corpus") / F.col("df")) * F.lit(1e6))
                .cast("long")
            ).alias("w_int"),
        )
        .localCheckpoint(eager=False)
    )
    # per-doc norm in 1e-6 units: map-side-combined aggregate — the
    # exchange moves |docs| partial rows, instead of a full-frame
    # doc_id window (whose repartition + sort would be this query's
    # second full-frame exchange)
    # nrm > 0 guard: on a degenerate corpus where a doc's
    # every term has df == n_corpus, all w_int are 0, nrm is 0, and a
    # surviving pair would emit NaN (0/0) — which Spark's NaN ordering
    # would pass through the >= threshold filter.  Free on real corpora
    # (no zero norms at any tested sf).
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("w_int") * F.col("w_int")).cast("decimal(38,0)"))
            .cast("double")
        ).alias("nrm")
    ).where(F.col("nrm") > 0)
    postings = w.where((F.col("df") >= 2) & (F.col("df") <= 10))
    grouped = postings.groupBy("term").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    # A candidate must share >= min_shared (3) sub-cap shingles: one
    # shared medium-df template shingle is how 400k+ false candidates
    # formed at sf0.1, while genuine near-dups share dozens of rare
    # shingles.  The count is over bucket_pairs' per-term emissions (one
    # row per shared term), identical to the oracle's HAVING COUNT(*).
    # 3, not 2: at sf0.1 a >= 2 gate admits 17.2k candidates of which 16.3k
    # share exactly two medium-df shingles — 19x verify work for 6 of 255
    # result pairs; >= 3 keeps 894 candidates.  This is a RECALL knob, not a
    # scoring change: every admitted pair still gets its full exact cosine,
    # and the oracle applies the identical gate.
    min_shared = 3
    cand = (
        bucket_pairs(grouped, distribute_threshold=256)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )
    # Verify as a SHARED-TERM equi join + exact integer sum (expand each
    # candidate by doc_a's weight rows, inner-join doc_b's on (doc_b, term) so
    # exactly the SHARED terms survive, sum per pair — pure codegen end to
    # end, not an interpreted map-lookup fold).  The verify sides read the
    # checkpointed w frame whole: a candidate-doc broadcast semi-join prune
    # was A/B'd here and REFUTED at both scales — 1x 3.18 -> 3.71 s, 10x 5.29
    # -> 6.88 s — because the prune serializes the candidate subtree ahead of
    # the verify scans and pays two broadcast builds, while the exchanges it
    # saves move narrow (doc, term, long) rows a local shuffle handles at
    # memory speed.  On a 1000-executor corpus where the weight frame is 100
    # TB and candidates are sparse, the economics invert — that deployment
    # would re-add the semi prune (or a bloom filter on doc_id) in front of
    # these two selects.
    wa = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w_int").alias("wa")
    )
    wb = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w_int").alias("wb")
    )
    contrib = (
        cand.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .select(
            "doc_a",
            "doc_b",
            # long * long is exact at this corpus's magnitudes
            # (docstring); the DECIMAL(38,0) sum is exact and order-free
            (F.col("wa") * F.col("wb")).cast("decimal(38,0)").alias("c"),
        )
    )
    dots = contrib.groupBy("doc_a", "doc_b").agg(F.sum("c").alias("dot"))
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    # norm joins ride on the tiny pair frame; AQE broadcasts the |docs|-
    # row norm table locally, and at corpus scale where norms outgrow the
    # broadcast threshold the same plan degrades to a keyed join on the
    # small pair side
    cosine = F.round(
        F.col("dot").cast("double") / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cosine.alias("cosine"))
        .where(F.col("cosine") >= 0.30)
    )


# ---------------------------------------------------------------------------
# Link prediction on the near-duplicate candidate graph
# ---------------------------------------------------------------------------

def dedup_link_prediction(
    spark: SparkSession,
    sf_dir: str,
    k: int = 50,
    degree_cap: int = 64,
) -> DataFrame:
    """Common-neighbor link prediction over the SimHash candidate graph —
    the "probable missed duplicate" triage queue: two documents that are
    NOT a verified near-dup pair but share many verified neighbors are
    exactly where banding recall losses hide (transitive near-dups whose
    pairwise distance straddles the verify threshold).  Classic
    common-neighbors + neighborhood-Jaccard scoring (Liben-Nowell &
    Kleinberg 2003).

    Dataflow: STRICTLY-verified pairs (dedup_simhash_pairs at nibble
    distance <= 2 — one notch TIGHTER than the
    dedup threshold, deliberately: the prediction targets are exactly
    the pairs the loose threshold would have admitted, and wedge cost is
    Σdeg² over the graph, which the tighter verify cuts ~4x on a
    template-heavy corpus where the loose graph degenerates toward one
    near-clique whose common-neighbor scores are uninformative)
    -> symmetric adjacency -> wedge enumeration by a self-equi-join on the
    SHARED endpoint (quadratic strictly per node, bounded by the candidate
    graph's degree — the triangle_stats cost model) -> anti-join removes
    existing edges -> degree join turns common counts into neighborhood
    Jaccard.  All counts are BIGINT; the one division is a single int/int
    double, rounded at 6 dp — engine-exact.  Top-k by (common desc, u, w)
    plans TakeOrderedAndProject.

    At 100 TB the candidate graph is orders of magnitude smaller than the
    corpus (it is the LSH OUTPUT), and wedge work is sum-of-deg² over that
    graph, so hubs are the blowup: ``degree_cap`` bounds every node's adjacency
    list at the cap BEFORE the wedge join, keeping wedge work <= n·cap²
    no matter how viral a template-farm hub gets.  The kept neighbors are
    chosen in deterministic md5(n:nbr) order (a seedless uniform sample,
    reproducible in any engine — the oracle applies the identical cap),
    so the score is defined ON THE CAPPED GRAPH: common counts, degrees,
    and neighborhood Jaccard all refer to the same bounded graph.  The
    cap is made SYMMETRIC: an undirected edge survives only
    if it survives in BOTH endpoints' capped lists (one canonical-pair
    hash aggregate over the capped rows — each undirected edge has
    exactly two directed rows, so count == 2 is the symmetric test, with
    no semi join against the reversed adjacency), so degrees,
    wedge centers, and common counts all describe ONE consistent
    undirected graph — structurally guaranteeing common <= min(deg_u,
    deg_w), hence union_size >= common > 0 (no negative Jaccard or
    divide-by-zero on adversarial hub shapes).  The cap is the standard
    lossy trade every production common-neighbors pass makes (a
    433-degree hub's 187k wedges collapse to <= 4k); the anti-join still
    removes ALL verified edges, capped or not.

    Output: (u, w, common, union_size, nbr_jaccard), top ``k``.
    """
    # Thresholds <= 3 slice the shared at-rest graph (banding-
    # invariance makes the slice exact — shared_simhash_graph docstring);
    # wider thresholds fall back to a live build.  The parquet scan is
    # cheap and re-executable, so no eager checkpoint is needed to keep
    # the fingerprint subtree from replaying into the adjacency AND the
    # anti-join.
    verify_distance = 2
    if verify_distance <= 3:
        edges = (
            shared_simhash_graph(spark, sf_dir)
            .where(F.col("nibble_distance") <= verify_distance)
            .select("doc_a", "doc_b")
        )
    else:
        edges = (
            dedup_simhash_pairs(
                spark, sf_dir, max_nibble_distance=verify_distance
            )
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True)
        )
    adj_full = edges.select(
        F.col("doc_a").alias("n"), F.col("doc_b").alias("nbr")
    ).unionAll(
        edges.select(F.col("doc_b").alias("n"), F.col("doc_a").alias("nbr"))
    )
    wcap = Window.partitionBy("n").orderBy(
        F.md5(
            F.concat_ws(
                ":", F.col("n").cast("string"), F.col("nbr").cast("string")
            )
        ),
        "nbr",
    )
    adj_capped = adj_full.withColumn("__r", F.row_number().over(wcap)).where(
        F.col("__r") <= F.lit(degree_cap)
    )
    # symmetric restriction in ONE exchange (a semi-join of the capped
    # adjacency against its own reverse would cost two more
    # compound-key shuffles): every undirected edge appears as
    # exactly TWO directed rows in adj_full (the pair list is unique),
    # so grouping the capped survivors by the canonical (least, greatest)
    # pair and keeping count == 2 IS "survived in BOTH endpoints' capped
    # lists".  One hash aggregate over the <= n*cap surviving rows
    # replaces the reverse-scan + semi join; the undirected adjacency is
    # then re-expanded map-side.
    sym = (
        adj_capped.select(
            F.least("n", "nbr").alias("su"), F.greatest("n", "nbr").alias("sw")
        )
        .groupBy("su", "sw")
        .agg(F.count(F.lit(1)).alias("__both"))
        .where(F.col("__both") == 2)
        .drop("__both")
        # consumed by the two wedge aliases and the degree aggregate;
        # truncate lineage so the capped-window subtree plans once
        .localCheckpoint(eager=False)
    )
    adj = sym.select(
        F.col("su").alias("n"), F.col("sw").alias("nbr")
    ).unionAll(sym.select(F.col("sw").alias("n"), F.col("su").alias("nbr")))
    a = adj.alias("a")
    b = adj.alias("b")
    wedges = (
        a.join(b, (F.col("a.n") == F.col("b.n")) & (F.col("a.nbr") < F.col("b.nbr")))
        .groupBy(
            F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    non_edges = wedges.join(
        edges,
        (wedges.u == edges.doc_a) & (wedges.w == edges.doc_b),
        "left_anti",
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("n").alias("w"), F.col("deg").alias("deg_w"))
    scored = (
        non_edges.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "common",
            (F.col("deg_u") + F.col("deg_w") - F.col("common"))
            .cast("long").alias("union_size"),
        )
        .withColumn(
            "nbr_jaccard",
            F.round(F.col("common") / F.col("union_size"), 6),
        )
    )
    return scored.orderBy(F.col("common").desc(), "u", "w").limit(k)


# ---------------------------------------------------------------------------
# k-core peeling over the candidate graph
# ---------------------------------------------------------------------------

def dedup_kcore_peel(spark: SparkSession, sf_dir: str, rounds: int = 3) -> DataFrame:
    """k-core decomposition (bounded peel) of the SimHash candidate graph
    — the third graph-structure lens next to triangle_stats (clique vs
    star) and dedup_link_prediction (missed edges): nodes that survive
    k-core peeling sit in DENSE duplicate clusters (template farms,
    mirror sets) while early-peeled nodes are incidental pairs.  The
    peel-round number is the standard "coreness" triage signal for
    deciding which clusters deserve transitive-closure dedup.

    Semantics: ``rounds`` synchronized peel iterations at threshold
    ``k`` — each round computes every remaining node's degree (0 for
    nodes whose neighbors all peeled), removes those below ``k``
    recording (round, degree-at-decision), and restricts the adjacency
    to survivors.  The loop is UNROLLED (fixed round count, same as the
    oracle's CTE chain), not run to fixpoint: at scale each extra round
    is one more degree-aggregate + two semi joins, and convergence is
    typically <5 rounds for LSH-output graphs; the bounded form keeps
    the plan deterministic and the oracle expressible.

    Scale shape: the graph is the LSH OUTPUT (orders smaller than the
    corpus); the adjacency is hash-partitioned by the degree key ONCE
    up front (repartition + eager checkpoint preserves the known
    partitioning — the HITS lesson), so every round's degree
    aggregate is PARTITION-LOCAL and the two LEFT SEMI restrictions
    (AQE-broadcast at test SF, partitioning-preserving) never re-shuffle
    the edge list; the verified-pair subtree is localCheckpoint'd once
    so the per-round lineage stays flat.  A/B at sf0.1: 5.0 -> 4.6 s
    floor, cold pass 19 -> 8 s, rows identical.

    Output: (doc_id, peeled_round, last_degree) — peeled_round 1..R, or
    0 for survivors (last_degree = degree in the final graph)."""
    k = 2
    if rounds < 1:
        raise ValueError(f"dedup_kcore_peel requires rounds >= 1, got {rounds}")
    # The edge list comes from the shared at-rest graph store
    # (materialized_graph) instead of an in-query rebuild — the rebuild
    # would be the floor's dominant term (dedup_simhash_pairs is itself
    # a ~3.5 s query at sf0.1).  The parquet scan is
    # re-executable, so no checkpoint is needed on the raw edges.
    edges = shared_simhash_graph(spark, sf_dir).select("doc_a", "doc_b")
    adj = (
        edges.select(F.col("doc_a").alias("n"), F.col("doc_b").alias("nbr"))
        .unionAll(
            edges.select(F.col("doc_b").alias("n"), F.col("doc_a").alias("nbr"))
        )
        # one up-front hash shuffle by the degree key; the checkpoint
        # preserves the partitioning, so all `rounds + 1` degree
        # aggregates below run partition-local (see docstring)
        .repartition(F.col("n"))
        .localCheckpoint(eager=True)
    )
    remaining = adj.select(F.col("n").alias("doc_id")).distinct()
    cur_adj = adj
    peeled_parts = []
    for r in range(1, rounds + 1):
        cnt = cur_adj.groupBy("n").agg(F.count(F.lit(1)).alias("cnt"))
        # materialize each round's degree frame: it feeds BOTH the peeled
        # branch and the survivor set, and the final union references
        # every round — without the checkpoint Spark re-executes round
        # r's restriction joins once per downstream branch (measured 16 s
        # -> ~7 s at sf0.1).  The frames are node-sized, so the
        # checkpoint cost is negligible; this is the same per-iteration
        # checkpoint discipline as connected_components/pagerank.
        deg = (
            remaining.join(cnt, remaining.doc_id == cnt.n, "left_outer")
            .select(
                "doc_id",
                F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("d"),
            )
            .localCheckpoint(eager=True)
        )
        peeled_parts.append(
            deg.where(F.col("d") < k).select(
                "doc_id",
                F.lit(r).cast("long").alias("peeled_round"),
                F.col("d").alias("last_degree"),
            )
        )
        remaining = deg.where(F.col("d") >= k).select("doc_id")
        # no broadcast hint on the survivor set: round 1's survivors are
        # ~the whole node set, which scales with the corpus (the Q5/Q10
        # semi-fact lesson) — AQE picks broadcast at test SF
        cur_adj = cur_adj.join(
            remaining.withColumnRenamed("doc_id", "n"), "n", "left_semi"
        ).join(
            remaining.withColumnRenamed("doc_id", "nbr"), "nbr", "left_semi"
        )
        if r < rounds:
            # intermediate rounds: truncate lineage — the restricted
            # adjacency feeds the NEXT round's degree aggregate and both
            # of its semi joins.  The FINAL round's adjacency feeds only
            # final_cnt once, so materializing it would be a pure extra
            # pass over the edge blocks (~0.3 s of the floor).
            cur_adj = cur_adj.localCheckpoint(eager=True)
    final_cnt = cur_adj.groupBy("n").agg(F.count(F.lit(1)).alias("cnt"))
    survivors = remaining.join(
        final_cnt, remaining.doc_id == final_cnt.n, "left_outer"
    ).select(
        "doc_id",
        F.lit(0).cast("long").alias("peeled_round"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("last_degree"),
    )
    out = peeled_parts[0]
    for p in peeled_parts[1:]:
        out = out.unionAll(p)
    return out.unionAll(survivors)


# ---------------------------------------------------------------------------
# Community modularity of the duplicate-cluster partition
# ---------------------------------------------------------------------------

def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contribution per duplicate cluster — the quality
    score OF the clustering itself, closing the graph-analytics loop:
    connected components (dedup_cluster_assignments) says WHICH docs group
    together, k-core/triangles say how dense the groups are, and
    modularity says whether the partition concentrates edges inside
    clusters relative to a degree-preserving random graph (Newman &
    Girvan 2004).  Q_c = L_c/m - (D_c/(2m))^2; clusters whose
    contribution is near the (D_c/2m)^2 null are banding artifacts, high
    contributors are real template farms.

    Under a connected-components partition every edge is intra-cluster by
    construction, so Sigma L_c = m and total Q = 1 - Sigma (D_c/(2m))^2 —
    the output keeps L_c explicit anyway so the identity is visible and
    the formula stays correct for any other partition column.

    EVERY aggregate is BIGINT (edge counts, degree sums); the only
    doubles are the final two divisions and one multiply, identical
    operation order in both engines, rounded 6dp.  Singleton clusters
    (degree-0 nodes) contribute exactly 0 and are excluded by the
    degree join.

    Scale shape: edges are the LSH OUTPUT (orders smaller than the
    corpus); CC is the O(log n)-capable label-prop used everywhere else;
    then one degree aggregate, two cluster-keyed aggregates, and a
    broadcast 1-row edge-count join.  No quadratic anywhere.

    Output: (cluster_id, n_nodes, degree_sum, intra_edges, q_contrib)
    for every non-singleton cluster."""
    docs = load(spark, sf_dir, "documents")
    # at-rest lens substrate; the parquet scan replays per consumer
    # for free, so the old eager checkpoint is gone
    edges = shared_minhash_graph(spark, sf_dir)
    comp = connected_components(
        docs.select("doc_id"), edges, node_col="doc_id",
        src_col="doc_a", dst_col="doc_b",
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    deg = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionAll(edges.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # inner join restricts to nodes with edges — singletons drop here; no
    # broadcast hint on comp (node-count-sized, the Q5/Q10 lesson)
    cdeg = deg.join(comp, "doc_id").groupBy("cluster_id").agg(
        F.sum("d").cast("long").alias("degree_sum"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    # both endpoints share the cluster under a CC partition — doc_a's is
    # canonical
    cedge = (
        edges.join(comp.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    md = F.col("m_edges").cast("double")
    half = F.col("degree_sum").cast("double") / (F.lit(2).cast("long") * F.col("m_edges"))
    return (
        cdeg.join(cedge, "cluster_id")
        .crossJoin(F.broadcast(m))
        .select(
            "cluster_id",
            "n_nodes",
            "degree_sum",
            "intra_edges",
            F.round(
                F.col("intra_edges").cast("double") / md - half * half, 6
            ).alias("q_contrib"),
        )
    )


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al.) over the
    MinHash-LSH candidate graph — COMMUNITY detection, the softer
    cousin of connected components: where CC merges everything
    reachable, LPA lets densely-linked groups keep distinct labels, so
    template farms inside one giant weak component still separate.

    Determinism by total order: each round every node adopts the argmax
    of its NEIGHBORS' labels by (count desc, label asc) — integer
    counts, unique ordering — and isolated nodes keep their own label,
    so the fixed-round result is engine-exact with no float anywhere
    (the usual LPA random tie-break is replaced by the min-label rule).

    Scale: per round one edge-keyed join + one (node, label) count +
    one per-node top-1 window over the count table (bounded by degree),
    the same linear-shuffle loop as pagerank_centrality, lineage
    truncated per round.  Output: every document's community label."""
    rounds = 3
    if rounds < 1:
        raise ValueError("rounds >= 1 required")
    docs = load(spark, sf_dir, "documents")
    cand = shared_minhash_graph(spark, sf_dir)  # at-rest lens substrate
    und = (
        cand.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            cand.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = docs.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
    )
    for _ in range(rounds):
        counts = (
            und.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        winner = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(winner, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("community")
    )


def text_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATOR certification on LSH candidate pairs:
    estimated similarity (matching signature components / NUM_HASHES)
    next to the exact shingle-set Jaccard, with the absolute error —
    the measurement that justifies replacing exact verification with
    signature agreement at 100 TB (where the sets are too wide to carry).

    est is a ratio of small integers (matches / 6); exact reuses the
    candidate-set machinery (array_intersect on collected sets); both
    round 6dp and the error is their rounded difference — every term
    engine-exact.

    Scale: identical to dedup_jaccard_lsh (one doc-keyed aggregation
    computing signature AND set, bucketed candidates, per-pair local
    verification); the estimator adds only 6 column equalities."""
    docs = load(spark, sf_dir, "documents")
    sh = shingle_table(docs, distinct=False)
    sig_aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ]
    per_doc = (
        sh.groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh_set"), *sig_aggs)
        .withColumn("n_sh", F.size(F.col("sh_set")).cast("long"))
        # three consumers (band buckets + both verify sides) — without
        # the checkpoint the corpus shingle explode replays per consumer
        # (1x 2.1 -> 1.5 s, 10x 9.4 -> 5.8 s, rows identical)
        .localCheckpoint(eager=False)
    )
    buckets = minhash_band_buckets(
        per_doc.select("doc_id", *[f"h{i}" for i in range(NUM_HASHES)])
    )
    grouped = buckets.groupBy("band_key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = bucket_pairs(
        grouped, distribute_threshold=DISTRIBUTE_THRESHOLD
    ).distinct()
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("n_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("n_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    j = cand.join(sa, "doc_a").join(sb, "doc_b")
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(NUM_HASHES)
    )
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b"))).cast(
        "long"
    )
    est = F.round(matches.cast("double") / F.lit(float(NUM_HASHES)), 6)
    exact = F.round(
        inter / (F.col("n_a") + F.col("n_b") - inter), 6
    )
    return j.select(
        "doc_a",
        "doc_b",
        matches.alias("est_matches"),
        est.alias("jaccard_est"),
        exact.alias("jaccard_exact"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


def sample_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication by repetition-count downweighting: instead of
    dropping exact duplicates, each document carries weight 1/s where s
    is its GLOBAL exact-dup cluster size (md5 of text) — the standard
    trick (Gopher/Chinchilla data work) that keeps one effective copy of
    every text while preserving source coverage.  Per source this rolls
    up to the effective document count and the duplication tax.

    Exactness: cluster sizes are longs; each weight 1/s quantizes to a
    12 dp DECIMAL(28,12) before the per-source sum (the repo's
    quantized-sum discipline), so effective_docs is engine-exact;
    dup_rate = 1 - effective/n is one double division, 6 dp.

    Scale: one md5 groupBy (corpus-linear, map-side combined), one
    broadcast-back join keyed on the 128-bit hash, one source groupBy.
    No pairwise anything — soft dedup is the linear-cost alternative the
    LSH family falls back to when ONLY exact dups matter.

    Output: per source (n_docs, n_clusters_touched, effective_docs,
    dup_rate)."""
    docs = load(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("h")
    )
    clusters = docs.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    weighted = docs.join(clusters, "h").select(
        "source",
        "h",
        F.round(F.lit(1.0) / F.col("s").cast("double"), 12)
        .cast("decimal(28,12)")
        .alias("w"),
    )
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("h").cast("long").alias("n_clusters_touched"),
        F.round(F.sum("w").cast("double"), 6).alias("effective_docs"),
        F.round(
            1.0
            - F.sum("w").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )
