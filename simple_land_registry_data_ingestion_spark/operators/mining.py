"""Pattern-mining operators: entity-resolution blocking and market-basket
co-occurrence.

The reference (a single-table ETL, reference main.py:71-372) has no mining
surface at all; these are the standard record-linkage / association-rule
operators a warehouse bolts on next, expressed as bounded-block pair
expansions so the quadratic never escapes a block.  Same discipline as the
LSH dedup family (operators/dedup.py): candidates form ONLY inside a
blocking key, hot blocks are the thing to watch, and every verify step runs
on candidates, never on the corpus cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators.substrate import (
    materialized_frame,
)
from simple_land_registry_data_ingestion_spark.tables import load


# ---------------------------------------------------------------------------
# Co-purchase substrate shared within a run (machinery in substrate.py)
# ---------------------------------------------------------------------------

def shared_basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct ``(order_id, part_id)`` basket at rest — the root
    frame of every part-level market-basket query.  Without it each of
    the four basket queries would re-scan lineitem, re-shuffle it by the
    order key, re-dedup, and eagerly checkpoint at CONSTRUCTION time
    (merely building the query would execute a job, and the cached
    blocks are executor-lifetime-bound); the shared frame pays that once
    per corpus per run."""

    def _build() -> DataFrame:
        return (
            load(spark, sf_dir, "lineitem")
            .select(
                F.col("l_orderkey").alias("order_id"),
                F.col("l_partkey").alias("part_id"),
            )
            .repartition(F.col("order_id"))
            .distinct()
        )

    return materialized_frame(spark, sf_dir, "basket_items", _build)


def shared_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNFILTERED co-purchase pair counts ``(part_a < part_b,
    pair_orders)`` at rest — consumers apply their own ``min_support`` /
    ``min_cooc`` cuts at read time (predicate pushdown into the scan), so
    one frame serves every parameterization.  Its row set doubles as the
    distinct co-purchase EDGE list (each unordered pair appears exactly
    once), which is what the degree-distribution lenses consume.  Built
    FROM the shared basket (a cascaded substrate frame) with the
    order-key self-join that bounds the pair expansion by basket size."""

    def _build() -> DataFrame:
        items = shared_basket_items(spark, sf_dir)
        a = items.select("order_id", F.col("part_id").alias("part_a"))
        b = items.select("order_id", F.col("part_id").alias("part_b"))
        return (
            a.join(b, "order_id")
            .where(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
        )

    return materialized_frame(spark, sf_dir, "copurchase_pairs", _build)


def user_part_edges(spark: SparkSession, sf_dir: str, part_col: str = "p") -> DataFrame:
    """The distinct (customer, part) purchase edge list from
    lineitem x orders — built LIVE: graph_hits_scores is its only
    consumer, so an at-rest store entry would just move the build cost
    off the scoreboard without sharing it with anyone (cost shifting,
    not saving); a frame earns a store entry only when
    several lenses read it.

    The dedup rides the consumer's OWN partitioning: rows repartition by
    ``part_col`` FIRST and ``dropDuplicates`` then collapses
    partition-local (hash partitioning on p satisfies the (u, p)
    clustering requirement), so the frame arrives both distinct AND
    p-partitioned in ONE shuffle — a separate ``distinct`` exchange
    before the consumer's repartition would shuffle the edge list
    twice."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p"))
        .repartition(F.col(part_col))
        .dropDuplicates(["u", "p"])
    )


def er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by blocking + in-block edit-distance scoring over
    the part catalog: candidate pairs form only inside a
    ``(name noun, brand)`` block, then ``levenshtein`` scores each pair.

    This is the canonical record-linkage shape (Fellegi-Sunter blocking):
    the O(n²) comparison space is cut to sum-of-block-squares by a cheap
    deterministic key, and only candidates pay the expensive similarity
    function.

    Scale shape (a self-join of the PART table on the block key would
    make one viral block pay an in-block corpus quadratic:
    er_golden_record measured a 23x time slope on 10x rows that way):
    the match predicate depends only on the NAME pair, and the name
    vocabulary is bounded (64 distinct names at every SF — the same
    structural fact er_edit_distance factors on), so the quadratic runs on
    the DISTINCT (block, brand, name) table only: verify every ordered
    name pair per block (vocab², not corpus²; levenshtein JVM-side in
    codegen, the lossless |len|-diff prune before the DP), broadcast the
    verified pair list, then expand back to part pairs with two hash
    equi-joins keyed on (block, brand, name).  The expansion produces
    exactly the output rows — work linear in output size, which any
    engine must pay to materialize the pairs — and ``p1 < p2`` picks the
    single orientation (ordered name pairs make name1 always p1's name).
    A viral block now costs vocab² DP + output-linear expansion instead
    of corpus² DP.
    """
    max_edit_distance = 4
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.regexp_extract("p_name", r" ([a-z]+)$", 1).alias("block_noun"),
    )
    names = part.select("block_noun", "p_brand", "p_name").distinct()
    n1 = names.select(
        "block_noun", "p_brand", F.col("p_name").alias("name1")
    )
    n2 = names.select(
        "block_noun", "p_brand", F.col("p_name").alias("name2")
    )
    name_pairs = (
        n1.join(n2, ["block_noun", "p_brand"])
        .where(
            # lossless length prune: |len(a)-len(b)| > d implies edit
            # distance > d, integer arithmetic vs the O(len^2) DP
            F.abs(F.length("name1") - F.length("name2"))
            <= F.lit(max_edit_distance)
        )
        .select(
            "block_noun",
            "p_brand",
            "name1",
            "name2",
            F.levenshtein("name1", "name2").cast("long").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= F.lit(max_edit_distance))
    )
    left = part.select(
        F.col("p_partkey").alias("p1"),
        F.col("p_name").alias("name1"),
        "block_noun",
        "p_brand",
    )
    right = part.select(
        F.col("p_partkey").alias("p2"),
        F.col("p_name").alias("name2"),
        "block_noun",
        "p_brand",
    )
    return (
        left.join(F.broadcast(name_pairs), ["block_noun", "p_brand", "name1"])
        .join(right, ["block_noun", "p_brand", "name2"])
        .where(F.col("p1") < F.col("p2"))
        .select(
            "block_noun",
            F.col("p_brand").alias("brand"),
            "p1",
            "p2",
            "name1",
            "name2",
            "edit_distance",
        )
    )


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: which part pairs appear in
    the same order more often than chance (A-priori's frequent-pair pass,
    and the same shape as token-PMI in a text pipeline).

    Plan at scale: dedup to distinct (order, part) — one shuffle — then the
    pair space is generated by a self-equi-join ON THE ORDER KEY, so the
    expansion is bounded by basket size (k items → k·(k-1)/2 pairs, k ≈ a
    few), never by catalog size.  Pair counts and single-item counts are
    map-side-combined groupBys; the item-frequency table is tiny (one row
    per distinct part) and broadcasts for the lift join.  The total-order
    count is a 1-row broadcast literal, not a collect-and-reinject.
    ``lift = P(a,b) / (P(a)·P(b))`` rounded to 6 dp (count ratios —
    engine-exact).

    This query is the basket family's LIVE PRODUCER (reading the store
    here would hide the build cost from the bench).  It
    builds the distinct basket and the pair counts from the lineitem
    scan in-query — the exact dataflow the store builders run — so the
    corpus-pass cost the four lens queries avoid by reading the at-rest
    store stays benched and certified on this row (the
    dedup_simhash_pairs discipline; plan-pinned by
    tests/test_round13_ops.py).  The basket is hash-partitioned by the
    order key once and checkpointed: the distinct collapses
    partition-local, the pair self-join co-partitions with zero further
    shuffles, and the three narrow aggregates (order count, item
    frequency, pair counts) read the checkpoint instead of replaying
    the lineitem shuffle each.
    """
    items = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("part_id"),
        )
        .repartition(F.col("order_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_orders = items.select("order_id").distinct().groupBy().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    item_freq = items.groupBy("part_id").agg(
        F.count(F.lit(1)).alias("item_orders")
    )
    ia = items.select("order_id", F.col("part_id").alias("part_a"))
    ib = items.select("order_id", F.col("part_id").alias("part_b"))
    pairs = (
        ia.join(ib, "order_id")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
        .where(F.col("pair_orders") >= F.lit(2))
    )
    freq_a = item_freq.select(
        F.col("part_id").alias("part_a"), F.col("item_orders").alias("orders_a")
    )
    freq_b = item_freq.select(
        F.col("part_id").alias("part_b"), F.col("item_orders").alias("orders_b")
    )
    return (
        pairs.join(F.broadcast(freq_a), "part_a")
        .join(F.broadcast(freq_b), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.round(F.col("pair_orders") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(
                (F.col("pair_orders") * F.col("n_orders"))
                / (F.col("orders_a") * F.col("orders_b")),
                6,
            ).alias("lift"),
        )
    )


def er_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez-Stolfo merge/purge):
    sort candidates by a discriminating key and compare each record only
    to its 3 successors in sort order.

    The complement to er_blocked_match: blocking bounds pairs by block
    size (and dies on one viral block), sorted-neighborhood bounds pairs
    at exactly ``n * 3`` regardless of key skew — a hot key
    just means similar records sit adjacent, which is the method working
    as intended.  Here both compose: rank within the (noun) block by
    (name, key), then pair ranks at gap 1..w via a pure EQUI-join on
    (block, rank+gap) — posexplode of the gap offsets turns the windowed
    self-comparison into a hash join, never a non-equi nested loop.  At
    100 TB the per-block rank window is replaced by a global
    repartitionByRange + per-partition ranks with boundary overlap of w
    rows; the join shape is unchanged."""
    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.regexp_extract("p_name", r" ([a-z]+)$", 1).alias("block_noun"),
    )
    w = Window.partitionBy("block_noun").orderBy("p_name", "p_partkey")
    ranked = part.select(
        "block_noun",
        "p_partkey",
        "p_name",
        F.row_number().over(w).alias("rnk"),
    )
    offsets = F.array(*[F.lit(g) for g in range(1, 4)])
    probes = ranked.select(
        "block_noun",
        F.col("p_partkey").alias("p1"),
        F.col("p_name").alias("name1"),
        F.col("rnk").alias("rnk1"),
        F.explode(offsets).alias("gap"),
    ).withColumn("rnk2", F.col("rnk1") + F.col("gap"))
    targets = ranked.select(
        "block_noun",
        F.col("p_partkey").alias("p2"),
        F.col("p_name").alias("name2"),
        F.col("rnk").alias("rnk2"),
    )
    return (
        probes.join(targets, ["block_noun", "rnk2"])
        .select(
            "block_noun",
            "p1",
            "p2",
            "name1",
            "name2",
            F.col("gap").cast("long").alias("rank_gap"),
            F.levenshtein("name1", "name2").cast("long").alias("edit_distance"),
        )
        .where(F.col("edit_distance") <= F.lit(4))
    )


def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record construction (survivorship) on top of entity
    resolution: blocked edit-distance matches (er_blocked_match, but at
    a TIGHTER max_edit_distance=2 — merging is destructive, so the match
    rule that proposes candidate pairs for review (distance 4) is too
    loose to merge on: at sf0.1 it chains 20k parts into ~200 giant
    blob-entities via 720k edges, textbook over-merge) close into entities
    by connected components, then each multi-member entity merges its
    records under deterministic survivorship rules — the standard MDM
    last step that turns "these rows match" into "this is the customer".

    Survivorship rules here (each a plain aggregate, so the merge is one
    shuffle on entity_id): entity_id = min part key; canonical_name =
    lexicographic min (stable, engine-portable); price = max retail price
    (prefer-the-richest rule); size range kept as min/max for audit.
    Singleton entities are excluded — they have no merge decision to
    certify and would multiply the output 30x for zero information.

    Plan at scale (materializing every part-pair match edge and
    union-finding over PART KEYS would make a verbatim-name corpus pay
    ~SF² edges before CC even started; measured 10x slope 9.2 even after
    the blocked join was name-factored): the match predicate
    depends only on the NAME pair, so same-(block, brand, name) parts
    are a clique and the part graph CONTRACTS losslessly to the
    name-GROUP graph — nodes = distinct (noun, brand, name) groups,
    edges = verified name pairs (vocab-bounded, never corpus-bounded).
    Every survivorship rule is a decomposable aggregate (count, min
    name, max price, min/max size), so each group pre-aggregates its
    partials in the SAME corpus scan that builds the node table; CC runs
    union-find per noun block over the tiny group graph (union-by-min on
    the group's min part key, so entity_id = component min part key,
    matching the oracle's min-label CC over parts), and the final merge
    is a groupBy over GROUP partials — the corpus is scanned exactly
    once and no part-pair edge is ever materialized.  Edgeless
    multi-member groups survive as single-group entities (coalesce to
    own root); singleton parts with no match drop at n_members >= 2."""
    max_edit_distance = 2
    import pandas as pd

    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_size",
        "p_retailprice",
        F.regexp_extract("p_name", r" ([a-z]+)$", 1).alias("block_noun"),
    )
    groups = part.groupBy("block_noun", "p_brand", "p_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("p_partkey").alias("gmin"),
        F.max("p_retailprice").alias("gmax_price"),
        F.min("p_size").cast("long").alias("gmin_size"),
        F.max("p_size").cast("long").alias("gmax_size"),
    ).localCheckpoint(eager=False)
    n1 = groups.select(
        "block_noun", "p_brand",
        F.col("p_name").alias("name1"), F.col("gmin").alias("g1"),
    )
    n2 = groups.select(
        "block_noun", "p_brand",
        F.col("p_name").alias("name2"), F.col("gmin").alias("g2"),
    )
    name_edges = (
        n1.join(n2, ["block_noun", "p_brand"])
        .where(
            (F.col("name1") < F.col("name2"))
            # lossless length prune before the O(len^2) DP
            & (
                F.abs(F.length("name1") - F.length("name2"))
                <= F.lit(max_edit_distance)
            )
            & (
                F.levenshtein("name1", "name2")
                <= F.lit(max_edit_distance)
            )
        )
        .select("block_noun", "g1", "g2")
    )

    def _union_find(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pdf["g1"], pdf["g2"]):
            a, b = int(a), int(b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union-by-min keeps every root the component MINIMUM part
                # key, so entity_id matches the oracle's min-label CC
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(n, find(n)) for n in parent]
        return pd.DataFrame(rows, columns=["gmin", "entity_id"])

    # group by noun alone: edges never cross a noun block, and coarse
    # groups amortize the per-group pandas/Arrow overhead; the graph is
    # vocab-sized, so every block is trivially one task
    members = name_edges.groupBy("block_noun").applyInPandas(
        _union_find, "gmin long, entity_id long"
    )
    return (
        groups.join(F.broadcast(members), "gmin", "left")
        .withColumn("entity_id", F.coalesce("entity_id", "gmin"))
        .groupBy("entity_id")
        .agg(
            F.sum("n").cast("long").alias("n_members"),
            F.min("p_name").alias("canonical_name"),
            F.round(F.max("gmax_price").cast("double"), 2).alias("merged_price"),
            F.min("gmin_size").cast("long").alias("min_size"),
            F.max("gmax_size").cast("long").alias("max_size"),
        )
        .where(F.col("n_members") >= 2)
    )


def er_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity resolution via FastSS / SymSpell DELETION
    NEIGHBORHOODS: two strings are within edit distance 1 only if they
    share a member of {s} ∪ {s with one char deleted} — so candidates
    come from an EQUI-join on deletion variants (corpus-linear: each
    string emits len+1 keys), never from a blocked quadratic.  A first
    cut blocked on (noun, brand) and paired inside blocks; those blocks
    grow linearly with the corpus, so the in-block quadratic grows as
    SF^2 — the works-at-sf0.1-dies-at-100x shape — and it silently
    MISSED cross-block pairs ("small bolt" ~ "small bolts").  This
    version is both complete for ed <= 1 and scale-linear.

    Second factoring: the corpus has a bounded NAME vocabulary (64
    distinct names at every SF), so variant generation, the candidate
    join, and the Levenshtein verify all run on the DISTINCT-NAME table;
    per-part results come from count/min expansion (same-name neighbors
    = n-1 with a min1/min2 self-exclusion; cross-name neighbors from the
    verified name-pair list).  The part table never self-joins.

    Output: one row per part with >= 1 neighbor at ed <= max_ed (0 or 1
    edits), its neighbor count, and the smallest neighbor key."""
    parts = load(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("nm")
    )
    g1 = parts.groupBy("nm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("p_partkey").alias("min1"),
    )
    g2 = (
        parts.join(g1.select("nm", "min1"), "nm")
        .where(F.col("p_partkey") != F.col("min1"))
        .groupBy("nm")
        .agg(F.min("p_partkey").alias("min2"))
    )
    names = g1.join(g2, "nm", "left")
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("nm")),
            F.expr(
                "transform(sequence(1, length(nm)), "
                "i -> concat(substring(nm, 1, i - 1), substring(nm, i + 1)))"
            ),
        )
    )
    nv = names.select("nm", F.explode(variants).alias("v"))
    cand = (
        nv.select(F.col("nm").alias("nm_a"), "v")
        .join(nv.select(F.col("nm").alias("nm_b"), "v"), "v")
        .where(F.col("nm_a") < F.col("nm_b"))
        .select("nm_a", "nm_b")
        .distinct()
    )
    matched = cand.where(F.levenshtein("nm_a", "nm_b") <= 1)
    sym = matched.unionAll(
        matched.select(
            F.col("nm_b").alias("nm_a"), F.col("nm_a").alias("nm_b")
        )
    )
    ext = (
        sym.join(
            names.select(
                F.col("nm").alias("nm_b"),
                F.col("n").alias("nbr_n"),
                F.col("min1").alias("nbr_min1"),
            ),
            "nm_b",
        )
        .groupBy(F.col("nm_a").alias("nm"))
        .agg(
            F.sum("nbr_n").cast("long").alias("ext_n"),
            F.min("nbr_min1").alias("ext_min"),
        )
    )
    enriched = parts.join(F.broadcast(names), "nm").join(
        F.broadcast(ext), "nm", "left"
    )
    same_min = F.when(
        F.col("n") > 1,
        F.when(F.col("p_partkey") == F.col("min1"), F.col("min2")).otherwise(
            F.col("min1")
        ),
    )
    return (
        enriched.select(
            "p_partkey",
            (
                (F.col("n") - 1) + F.coalesce(F.col("ext_n"), F.lit(0))
            ).alias("n_neighbors"),
            F.least(same_min, F.col("ext_min")).alias("min_neighbor"),
        )
        .where(F.col("n_neighbors") >= 1)
    )


def item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers who bought X also
    bought Y"): cosine similarity on the order co-occurrence matrix with
    top-k neighbor selection per item — the classic Amazon-style
    neighborhood model, built as three bounded relational passes.

    cos(i,j) = cooc(i,j) / sqrt(n_i * n_j) over binary order vectors —
    the numerator and both norms are INTEGER counts, so the only float
    is one sqrt-division rounded 6dp (engine-exact on integer inputs).

    Plan at scale (the basket_part_pairs shape, then a per-item window):
    pair generation self-joins ON THE ORDER KEY so the blow-up is
    basket-bounded (k(k-1)/2 per order, k ~ 4), never catalog^2; the
    per-item order counts broadcast; the top-k neighbor cut is a window
    partitioned BY ITEM over the pair table, which is already
    min_cooc-pruned — at 100 TB this is two keyed shuffles (pair
    groupBy, item window) plus two broadcast joins.  Ties on cosine
    break deterministically (higher cooc, then lower neighbor id).

    Output: (part_id, neighbor_id, cooc, cosine, rk) — both directions
    of each pair, rk 1..top_k per part.

    The basket and its pair counts come from the shared at-rest
    substrate (shared_basket_items / shared_copurchase_pairs) — the
    min_cooc cut pushes into the pair-store scan, and no order-key
    shuffle remains anywhere in the plan."""
    items = shared_basket_items(spark, sf_dir)
    item_orders = items.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    pairs = shared_copurchase_pairs(spark, sf_dir).select(
        "part_a", "part_b", F.col("pair_orders").alias("cooc")
    ).where(F.col("cooc") >= F.lit(3))
    # both directions so every item sees its full neighbor list
    sym = pairs.select("part_a", "part_b", "cooc").unionAll(
        pairs.select(
            F.col("part_b").alias("part_a"),
            F.col("part_a").alias("part_b"),
            "cooc",
        )
    )
    na = item_orders.select(
        F.col("part_id").alias("part_a"), F.col("n_orders").alias("orders_a")
    )
    nb = item_orders.select(
        F.col("part_id").alias("part_b"), F.col("n_orders").alias("orders_b")
    )
    scored = (
        sym.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .select(
            F.col("part_a").alias("part_id"),
            F.col("part_b").alias("neighbor_id"),
            "cooc",
            F.round(
                F.col("cooc").cast("double")
                / F.sqrt(
                    (F.col("orders_a") * F.col("orders_b")).cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part_id").orderBy(
        F.col("cosine").desc(), F.col("cooc").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
    )


def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit of the co-purchase graph — the
    structural health check for any similarity/co-occurrence graph
    (power-law degree = hub-dominated; the fitted alpha feeds skew
    mitigation decisions like the hot-bucket spread): log-log OLS over
    the (degree, frequency) histogram.

    Plan: basket-bounded pair generation (the item_item_cf shape), one
    degree groupBy, one ~max-degree-row histogram — then the OLS moment
    sums run over the HISTOGRAM (dozens of rows), with each log-log term
    quantized to 12dp DECIMAL before summing so the five moments are
    exact and order-free; slope/intercept are single double expressions.

    Output: 1 row (n_nodes, n_edges, n_points, slope, intercept) —
    slope ~ -alpha of the power law.

    The edge list is the at-rest co-purchase pair store's row set
    (each unordered pair exactly once — shared_copurchase_pairs), so no
    basket rebuild, no order-key shuffle, and no construction-time
    checkpoint remain."""
    edges = shared_copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    pt = hist.select(
        "d",
        "freq",
        F.round(F.log(F.col("d").cast("double")), 12)
        .cast("decimal(28,12)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 12)
        .cast("decimal(28,12)")
        .alias("y"),
        F.round(
            F.log(F.col("d").cast("double")) * F.log(F.col("d").cast("double")),
            12,
        ).cast("decimal(28,12)").alias("xx"),
        F.round(
            F.log(F.col("d").cast("double"))
            * F.log(F.col("freq").cast("double")),
            12,
        ).cast("decimal(28,12)").alias("xy"),
    )
    tot = pt.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    counts = edges.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    ).crossJoin(
        F.broadcast(deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    )
    n = F.col("n_points").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return counts.crossJoin(F.broadcast(tot)).select(
        "n_nodes",
        "n_edges",
        "n_points",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the
    hub-connection diagnostic next to the power-law fit (X187): the
    Pearson correlation of endpoint degrees over every edge (both
    orientations, Newman 2002).  Positive = hubs link hubs (social
    shape), negative = hubs link leaves (hub-and-spoke catalogs) —
    which decides whether hot-key mitigation targets edges or nodes.

    EVERY moment is BIGINT (degrees are integers; Σd_a, Σd_a², Σd_a·d_b
    over the oriented-edge list), so only the final correlation is a
    double, rounded 6dp.

    Plan: the basket-bounded edge list, one degree aggregate, a
    broadcast degree lookup onto both endpoints, one 1-row moment
    aggregate.  The edge list is the at-rest co-purchase pair
    store's row set (shared_copurchase_pairs) — no basket rebuild, no
    order-key shuffle, no construction-time checkpoint."""
    edges = shared_copurchase_pairs(spark, sf_dir).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    oriented = edges.unionAll(
        edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    # no broadcast hint: the degree table is node-count-sized (scales with
    # the corpus — the Q5/Q10 semi-fact lesson); AQE broadcasts at test SF
    joined = oriented.join(da, "pa").join(db, "pb")
    mom = joined.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("da").cast("long").alias("sa"),
        F.sum(F.col("da") * F.col("da")).cast("long").alias("saa"),
        F.sum(F.col("da") * F.col("db")).cast("long").alias("sab"),
    )
    m = F.col("m2").cast("double")
    sa = F.col("sa").cast("double")
    saa = F.col("saa").cast("double")
    sab = F.col("sab").cast("double")
    # symmetric orientation: Σd_a == Σd_b and Σd_a² == Σd_b²
    r = (m * sab - sa * sa) / (m * saa - sa * sa)
    return mom.select(
        "m2",
        "sa",
        "saa",
        "sab",
        F.round(r, 6).alias("assortativity"),
    )


def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau): PageRank over the
    word-adjacency graph — a keyword is a word that co-occurs with many
    other well-connected words, which catches multi-word-topic anchors
    that raw frequency (text_vocab_topk) and RAKE both miss.

    Graph construction: adjacent-token pairs per document (one pass over
    each token array, corpus-linear), both endpoints >= 4 chars (the
    syntactic filter), undirected + distinct; isolated qualifying words
    stay as teleport-only nodes.  The rank loop REUSES
    pagerank_centrality (operators/dedup.py) — 3 unrolled damped
    iterations with every contribution and rank quantized 8 dp so float
    summation order cannot diverge between engines.  Output: top_k words
    by (rank desc, word asc) — a total order, so the cut is exact.

    Scale: edge building is scan-stage; the loop is the same
    linear-shuffle join+agg as document PageRank with lineage truncated
    per pass; vocabulary-sized frames throughout."""
    from simple_land_registry_data_ingestion_spark.functions.text import words_col
    from simple_land_registry_data_ingestion_spark.operators.dedup import (
        pagerank_centrality,
    )

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(words_col("text").alias("ws"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS a, ws[i + 1] AS b))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    edges = (
        pairs.where(
            (F.length("a") >= 4) & (F.length("b") >= 4) & (F.col("a") != F.col("b"))
        )
        .select(
            F.least("a", "b").alias("wa"), F.greatest("a", "b").alias("wb")
        )
        .distinct()
    )
    nodes = (
        toks.select(F.explode("ws").alias("w"))
        .where(F.length("w") >= 4)
        .distinct()
    )
    pr = pagerank_centrality(
        nodes, edges, node_col="w", src_col="wa", dst_col="wb"
    )
    return (
        pr.select(F.col("node").alias("word"), F.col("rank").alias("textrank"))
        .orderBy(F.col("textrank").desc(), F.col("word"))
        .limit(15)
    )


def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs-and-authorities over the bipartite
    customer -> part purchase graph: authoritative parts are bought by
    broad-basket customers, hub customers buy authoritative parts — the
    directed-graph complement to PageRank (X34 dedup_pagerank_hubs) and
    the classic recommender bootstrap before any model training.

    Three unrolled mutual-reinforcement rounds with max-normalization;
    every intermediate sum is quantized 8dp BEFORE the max/divide and
    the final score re-rounded 8dp (the pagerank_centrality float
    discipline — summation order cannot leak).

    Plan (the edge list never re-shuffles): the DISTINCT
    (customer, part) edge list materializes TWICE, hash-partitioned by
    each side's aggregation key (localCheckpoint preserves the known
    partitioning), so every round is a BROADCAST join of the
    node-sized score frame onto the co-partitioned edges followed by a
    PARTITION-LOCAL aggregation — zero edge shuffles after the two
    initial builds (a per-round join shuffles the edges 6 times per run,
    ~2 s).  Round 1 skips its join entirely:
    hub scores start at 1.0, so the first authority partial is a plain
    per-part edge count.  At 100 TB the score frames are node-sized
    (drop the broadcast hint past ~100M nodes); the pre-partitioned
    edges still co-locate both joins, keeping one shuffle per side
    total.  Output: top-10 authorities and top-10 hubs by the total
    order (score desc, id asc), unioned with a kind tag."""
    # The distinct edge list builds LIVE (user_part_edges — HITS is
    # the frame's only consumer, so an at-rest entry would shift the
    # build cost off the scoreboard without sharing it).  The p-side
    # copy IS the build: user_part_edges repartitions by p before its
    # partition-local dedup, so edges_p needs no further exchange; the
    # u-side copy re-keys the already-checkpointed (tiny, distinct)
    # edge list.  Two edge shuffles + two checkpoints total — the two
    # pre-partitioned copies stay in-query because their KNOWN
    # partitioning is what keeps every round's aggregation
    # partition-local, and parquet cannot carry it.
    edges_p = user_part_edges(spark, sf_dir, part_col="p").localCheckpoint(
        eager=True
    )
    edges_u = edges_p.repartition(F.col("u")).localCheckpoint(eager=True)
    auth = None
    hub = None
    for r in range(3):
        # checkpoint each raw partial BEFORE its max-broadcast: the
        # broadcast is a driver job, so an un-checkpointed a_raw would be
        # executed once for the max and AGAIN inside every
        # downstream consumer — the checkpoint must sit upstream of the
        # normalize, not after it
        if r == 0:
            # hub == 1.0 everywhere: sum(h) per part IS the edge count
            a_raw = (
                edges_p.groupBy("p")
                .agg(F.round(F.count(F.lit(1)).cast("double"), 8).alias("s"))
                .localCheckpoint(eager=False)
            )
        else:
            a_raw = (
                edges_p.join(F.broadcast(hub), "u")
                .groupBy("p")
                .agg(F.round(F.sum("h"), 8).alias("s"))
                .localCheckpoint(eager=False)
            )
        a_max = a_raw.groupBy().agg(F.max("s").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(a_max)).select(
            "p", F.round(F.col("s") / F.col("m"), 8).alias("a")
        )
        h_raw = (
            edges_u.join(F.broadcast(auth), "p")
            .groupBy("u")
            .agg(F.round(F.sum("a"), 8).alias("s"))
            .localCheckpoint(eager=False)
        )
        h_max = h_raw.groupBy().agg(F.max("s").alias("m"))
        hub = h_raw.crossJoin(F.broadcast(h_max)).select(
            "u", F.round(F.col("s") / F.col("m"), 8).alias("h")
        )
    top_a = (
        auth.orderBy(F.col("a").desc(), F.col("p"))
        .limit(10)
        .select(
            F.lit("authority:part").alias("kind"),
            F.col("p").cast("long").alias("node_id"),
            F.col("a").alias("score"),
        )
    )
    top_h = (
        hub.orderBy(F.col("h").desc(), F.col("u"))
        .limit(10)
        .select(
            F.lit("hub:customer").alias("kind"),
            F.col("u").cast("long").alias("node_id"),
            F.col("h").alias("score"),
        )
    )
    return top_a.unionByName(top_h)
