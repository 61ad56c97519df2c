"""Property-based determinism tests (hypothesis): the invariants that make
operators safe to re-run and re-partition at 100 TB, checked against plain
Python reference implementations on randomized small inputs.

Physical layout must never leak into results: a distributed pipeline
reshuffles between runs (AQE, speculative tasks, different cluster sizes),
so any operator whose output depends on partitioning is silently broken at
scale even if every fixed-fixture test passes.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators import dedup

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: textbook union-find, component labeled by its min node."""
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=20
    )
)
def test_connected_components_matches_union_find(spark, edges):
    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges_df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)], "src long, dst long"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(nodes, edges_df).collect()
    }
    assert got == _union_find_components(n, edges)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 99), st.integers(0, 99)),
        min_size=1,
        max_size=40,
    ),
    partitions=st.sampled_from([1, 3, 7]),
)
def test_keep_first_per_key_is_partition_invariant(spark, rows, partitions):
    """The dedup survivor is defined by the TOTAL order, not by which
    partition a row landed in — so any repartitioning yields byte-identical
    output, and it equals the Python min-by-order reference."""
    df = spark.createDataFrame(rows, "k long, seq long, payload long").repartition(
        partitions
    )
    got = sorted(
        tuple(r)
        for r in dedup.keep_first_per_key(
            df, ["k"], [F.col("seq"), F.col("payload")]
        ).collect()
    )
    expected = sorted(
        {k: min((s, p) for kk, s, p in rows if kk == k) for k, _, _ in rows}.items()
    )
    assert got == [(k, s, p) for k, (s, p) in expected]


@settings(**_SETTINGS)
@given(partitions=st.sampled_from([1, 2, 5, 11]))
def test_stratified_sample_is_partition_invariant(spark, partitions):
    """Key-hash sampling must select the SAME rows regardless of physical
    layout (the reproducibility contract sample_stratified_fixed documents)."""
    from pyspark.sql import Window

    data = [(i, f"seg{i % 3}") for i in range(60)]
    df = spark.createDataFrame(data, "c_custkey long, c_mktsegment string").repartition(
        partitions
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.md5(F.col("c_custkey").cast("string")), F.col("c_custkey")
    )
    picked = frozenset(
        r["c_custkey"]
        for r in df.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .collect()
    )
    if not hasattr(test_stratified_sample_is_partition_invariant, "_seen"):
        test_stratified_sample_is_partition_invariant._seen = picked
    assert picked == test_stratified_sample_is_partition_invariant._seen


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(0, 30), min_size=1, max_size=200),
    partitions=st.integers(1, 6),
)
def test_heavy_hitters_matches_bruteforce(spark, keys, partitions):
    """heavy_hitters_exact == the plain counting definition for EVERY input
    and EVERY partitioning — the Misra-Gries candidate pass may propose
    extra candidates but the recount must reduce to exactly the truth.
    Small k forces real MG evictions (the stressful regime)."""
    from collections import Counter

    from simple_land_registry_data_ingestion_spark.operators import sketches

    df = spark.createDataFrame(
        [(k,) for k in keys], "user_id long"
    ).repartition(partitions)
    got = {
        (r["user_id"], r["n_events"])
        for r in sketches.heavy_hitters_exact(
            df, "user_id", denom=8, k=8
        ).collect()
    }
    counts = Counter(keys)
    want = {
        (k, c) for k, c in counts.items() if c >= len(keys) / 8.0
    }
    assert got == want


def test_event_ids_fit_resample_tiebreak_encoding():
    """events_resample_ffill encodes its max_by tie-break as
    micros-within-hour * 1e6 + event_id, which is a total order only while
    event_id < 1e6.  Guard the generator assumption so a future testdata
    change can't silently make per-hour observation choice collide
    (operators/relational.py events_resample_ffill)."""
    import glob

    import duckdb

    checked = 0
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        files = glob.glob(f"{sf_dir}/events.parquet")
        if not files:
            continue
        (max_id,) = duckdb.sql(
            f"SELECT MAX(event_id) FROM read_parquet('{files[0]}')"
        ).fetchone()
        assert max_id < 1_000_000, (
            f"{sf_dir}: max event_id {max_id} >= 1e6 breaks the "
            "resample_ffill tie-break encoding"
        )
        checked += 1
    assert checked > 0, "no events.parquet found to validate"


@settings(**_SETTINGS)
@given(
    n_viral=st.integers(8, 24),
    seed=st.integers(0, 3),
)
def test_ngram_jaccard_stop_shingle_guard(spark, n_viral, seed):
    """A viral shingle (df > cap) must contribute NOTHING: neither join
    pairs nor Jaccard mass.  Output must equal a plain-Python Jaccard over
    the df-filtered shingle sets — proving the guard changes the metric
    consistently (sizes AND intersections), not just the join."""
    import itertools
    import random

    rng = random.Random(seed)
    texts = {}
    # every doc shares the 3-gram "viral boiler plate"; the rest of each
    # doc is drawn from a tiny vocab so some non-viral overlap exists too
    vocab = [f"w{j}" for j in range(6)]
    for i in range(n_viral):
        tail = " ".join(rng.choices(vocab, k=4))
        texts[i] = f"viral boiler plate {tail}"
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    cap = 5  # << n_viral, so "viral boiler plate" is always dropped
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_shingle_df=cap
        ).collect()
    }

    def shingles(t: str) -> set[str]:
        ws = t.lower().strip().split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(t) for i, t in texts.items()}
    df_count: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    filtered = {
        i: {g for g in s if df_count[g] <= cap} for i, s in sets.items()
    }
    want = {}
    for a, b in itertools.combinations(sorted(filtered), 2):
        inter = len(filtered[a] & filtered[b])
        if inter:
            want[(a, b)] = round(
                inter / (len(filtered[a]) + len(filtered[b]) - inter), 6
            )
    assert got == want
    # the viral shingle alone would have produced all n*(n-1)/2 pairs;
    # the guard must keep the pair count strictly below that
    assert len(got) < n_viral * (n_viral - 1) // 2


def test_label_prop_cc_reliable_checkpoint_dir(spark, tmp_path):
    """connected_components with checkpoint_dir set uses fault-tolerant
    df.checkpoint() and still produces the union-find answer."""
    import os

    edges = [(0, 1), (1, 2), (5, 6), (8, 8)]
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    ckpt = str(tmp_path / "lp_ckpt")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(
            nodes, edf, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == _union_find_components(10, edges)
    assert any(os.scandir(ckpt)), "no reliable checkpoint data written"


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=26
    )
)
def test_triangle_stats_matches_bruteforce(spark, edges):
    """Degree-ordered-orientation triangle counting == the O(n^3) Python
    definition for every graph: each triangle counted once at every member
    regardless of the orientation ranks, coefficient = 2T/(d(d-1))."""
    import itertools

    n = 12
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in dedup.triangle_stats(nodes, edf).collect()
    }
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    tri = {i: 0 for i in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[b] and c in adj[a]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    want = {}
    for i in range(n):
        d = len(adj[i])
        coeff = round(2.0 * tri[i] / (d * (d - 1)), 6) if d >= 2 else 0.0
        want[i] = (d, tri[i], coeff)
    assert got == want


@settings(**_SETTINGS)
@given(
    n_docs=st.integers(4, 14),
    seed=st.integers(0, 5),
)
def test_jaccard_prefix_filter_is_lossless(spark, n_docs, seed):
    """The prefix filter must return EXACTLY the brute-force pair set —
    completeness (no pair with J >= t escapes the pruning) and soundness
    (verification drops everything below t).  Docs are drawn from a tiny
    vocab so shingles collide a lot and some pairs clear the threshold."""
    import itertools
    import random

    rng = random.Random(seed)
    vocab = [f"w{j}" for j in range(5)]
    texts = {
        i: " ".join(rng.choices(vocab, k=rng.randint(3, 10)))
        for i in range(n_docs)
    }

    def shingles(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    expected = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        if not sa or not sb:
            continue
        jac = len(sa & sb) / len(sa | sb)
        if round(jac, 6) >= 0.5:
            expected[(a, b)] = round(jac, 6)

    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_prefix_pairs(docs, threshold=0.5).collect()
    }
    assert got == expected


def test_exact_substring_counts_within_doc_repeats(spark, tmp_path):
    """A span repeated twice inside ONE doc and once in another must show
    n_docs=2 but n_occurrences=3; a span in a single doc never appears."""
    span = "a b c d e f g h"
    rows = [
        (1, f"{span} x y z {span}", "en", "src0", 1),
        (2, f"prefix {span} tail", "en", "src0", 1),
        (3, "totally different text with no shared window at all q r s t u v w x", "en", "src0", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup.dedup_exact_substring(spark, str(tmp_path), window=8).collect()
    shared = [r for r in out if r["n_docs"] >= 2]
    # the canonical span window: docs {1,2}, occurrences 3 (twice in doc 1)
    assert any(
        r["n_docs"] == 2 and r["n_occurrences"] == 3 and r["example_doc"] == 1
        for r in shared
    )
    # no window private to a single doc leaks through the n_docs >= 2 gate
    assert all(r["n_docs"] >= 2 for r in out)


def test_jaccard_prefix_positional_filter_prunes_boilerplate(spark):
    """The positional filter (third lossless PPJoin prune) must (a) change
    NOTHING about the result and (b) measurably cut the candidate count on
    a boilerplate-heavy corpus: many docs share one template shingle that
    is just rare enough to sit in every doc's prefix, but it sits LATE in
    the df order, so the positional bound 1 + min(|A|-i0, |B|-j0) falls
    below the required overlap for most template-only pairs."""
    # 40 docs: 6 unique filler words -> 6 df=1 shingles (4 filler-only +
    # 2 boundary), then a 10-word shared template -> 8 df=40 shingles.
    # Per doc: n=14 shingles, prefix length 14 - ceil(0.5*14) + 1 = 8, so
    # the first TWO template shingles (positions 7-8 in df-asc order) DO
    # sit in every prefix -> without the positional filter all C(40,2)
    # template pairs become candidates.  With it: i0=7 gives the bound
    # 1 + (14-7) = 8 < alpha = ceil(0.5/1.5 * 28) = 10 -> all pruned.
    # (Template-only pairs have J = 8/20 = 0.4 < t, so pruning them is
    # exactly right and the output stays identical.)
    template = " ".join(f"c{j}" for j in range(10))
    texts = {}
    for i in range(40):
        filler = " ".join(f"u{i}w{j}" for j in range(6))
        texts[i] = f"{filler} {template}"
    # plus one genuine near-duplicate pair that must survive everything
    texts[100] = "alpha beta gamma delta epsilon zeta"
    texts[101] = "alpha beta gamma delta epsilon eta"

    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    with_pos = dedup.jaccard_prefix_pairs(docs, threshold=0.5)
    without_pos = dedup.jaccard_prefix_pairs(
        docs, threshold=0.5, positional_filter=False
    )
    got_with = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in with_pos.collect()}
    got_without = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in without_pos.collect()
    }
    assert got_with == got_without  # lossless: identical verified output
    assert (100, 101) in got_with
    n_with = dedup.jaccard_prefix_candidates(docs, threshold=0.5).count()
    n_without = dedup.jaccard_prefix_candidates(
        docs, threshold=0.5, positional_filter=False
    ).count()
    # template-only pairs dominate the unpruned candidate set; the
    # positional bound must remove the bulk of them
    assert n_without >= 100, (n_with, n_without)
    assert n_with <= n_without // 2, (n_with, n_without)


def test_range_search_prune_fires_on_clustered_data_and_stays_lossless(spark):
    """On isotropic test vectors the range-search cluster prune honestly
    prunes ~nothing (documented); this plants a CLUSTERED corpus where it
    must both (a) skip most (query, cluster) cells and (b) still return
    exactly the brute-force answer.  Three tight clusters around
    orthogonal axes: a query near axis 0 can only match cluster 0, so of
    the k=3 surviving cells per query only ~1 should remain."""
    import itertools
    import math
    import random

    from simple_land_registry_data_ingestion_spark.operators import similarity

    rng = random.Random(11)
    dim = 8
    vecs = {}
    # centroid seeds first (vec_id < k become the centroids: axes 0,1,2)
    for c in range(3):
        base = [0.0] * dim
        base[c] = 1.0
        vecs[c] = base
    vid = 3
    for c in range(3):
        for _ in range(40):
            v = [rng.gauss(0, 0.05) for _ in range(dim)]
            v[c] += 1.0
            vecs[vid] = v
            vid += 1
    # queries: vec_id % 200 == 0 -> only vec_id 0 (the axis-0 centroid)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.similarity_range_search(
        spark, "unused", threshold=0.8, k=3, emb=emb
    )
    got = {(r["q_id"], r["vec_id"]): r["cosine"] for r in out.collect()}
    surviving = similarity.range_search_surviving_cells(
        spark, "unused", threshold=0.8, k=3, emb=emb
    ).collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    want = {}
    q = vecs[0]
    for i, v in vecs.items():
        if i == 0:
            continue
        c = round(cos(q, [float(x) for x in v]), 6)
        if c >= 0.8:
            want[(0, i)] = c
    assert got == want            # lossless: exactly the brute-force answer
    assert len(want) >= 30        # the planted cluster really is in-radius
    # prune fired: the query kept at most 2 of the 3 cluster cells
    assert 1 <= len(surviving) <= 2, surviving


def test_scd2_build_intervals_partition_users_history(spark):
    """cdc_scd2_build's output must be a valid type-2 history for every
    user: intervals ordered and NON-overlapping (each valid_to equals the
    next valid_from), exactly one open current row per user, first
    interval starting at the user's first event, and consecutive
    intervals never carrying the same event_type (runs are maximal)."""
    from collections import defaultdict

    from simple_land_registry_data_ingestion_spark.operators import relational
    from tests.conftest import SF_SMALL

    rows = relational.cdc_scd2_build(spark, SF_SMALL).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert by_user
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r["valid_from"])
        opens = [r for r in ivs if r["valid_to"] is None]
        assert len(opens) == 1 and ivs[-1]["is_current"], user
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], (user, a, b)
            assert a["event_type"] != b["event_type"], (user, a, b)
        assert all(not r["is_current"] for r in ivs[:-1])


def test_penny_allocation_matches_reference_largest_remainder(spark):
    """orders_penny_allocation must equal a plain-Python largest-remainder
    reference per order — in particular per-order sums EQUAL
    round(o_totalprice * 100) exactly (the invariant the operator exists
    for).  Compared as multisets per order because l_linenumber is not
    unique within an order in this corpus."""
    from collections import Counter, defaultdict

    from simple_land_registry_data_ingestion_spark.operators import relational
    from simple_land_registry_data_ingestion_spark.tables import load
    from tests.conftest import SF_SMALL

    rows = relational.orders_penny_allocation(spark, SF_SMALL).collect()
    assert rows
    totals = {
        r["o_orderkey"]: round(r["o_totalprice"] * 100)
        for r in load(spark, SF_SMALL, "orders")
        .where("o_orderkey % 10 = 0")
        .collect()
    }
    lines = defaultdict(list)
    for r in (
        load(spark, SF_SMALL, "lineitem")
        .where("l_orderkey % 10 = 0")
        .collect()
    ):
        lines[r["l_orderkey"]].append(
            (r["l_linenumber"], round(r["l_extendedprice"] * 100))
        )
    got = defaultdict(Counter)
    for r in rows:
        got[r["o_orderkey"]][(r["l_linenumber"], r["alloc_cents"])] += 1
    for ok, ls in lines.items():
        total = totals[ok]
        sum_w = sum(w for _, w in ls)
        shares = [
            (ln, w, total * w // sum_w, (total * w) % sum_w) for ln, w in ls
        ]
        leftover = total - sum(s for _, _, s, _ in shares)
        ranked = sorted(shares, key=lambda s: (-s[3], s[0], s[1]))
        want = Counter()
        for i, (ln, _w, s, _rem) in enumerate(ranked):
            want[(ln, s + (1 if i < leftover else 0))] += 1
        assert got[ok] == want, ok
        assert sum(c * n for (_, c), n in got[ok].items()) == total, ok


def test_kaplan_meier_curve_is_a_valid_survival_function(spark):
    """users_kaplan_meier: survival must start <= 1, be non-increasing in
    duration, stay positive, and equal the hand-computed product-limit
    estimator from the same at-risk/churn counts."""
    from simple_land_registry_data_ingestion_spark.operators import relational
    from tests.conftest import SF_SMALL

    rows = sorted(
        relational.users_kaplan_meier(spark, SF_SMALL).collect(),
        key=lambda r: r["duration_days"],
    )
    assert rows
    prev = 1.0 + 1e-9
    running = 1.0
    for r in rows:
        assert 0.0 < r["survival"] <= prev + 1e-9, r
        prev = r["survival"]
        # at_risk must never be below the row's own event counts
        assert r["n_at_risk"] >= r["n_churned"] + r["n_censored"]
        running *= round(1.0 - r["n_churned"] / r["n_at_risk"], 6)
        assert abs(r["survival"] - round(running, 6)) <= 1e-9, r
    # at_risk is non-increasing when read in ascending duration order
    at_risk = [r["n_at_risk"] for r in rows]
    assert at_risk == sorted(at_risk, reverse=True)


def test_tfidf_cosine_detects_planted_duplicate_pair(spark):
    """A verbatim duplicate document must surface with cosine ~1.0, and a
    disjoint-vocabulary document must never pair with it."""
    from simple_land_registry_data_ingestion_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight"),
            (4, "alpha beta gamma delta unrelated words here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in dedup.dedup_tfidf_cosine(
            spark, "unused", docs=docs
        ).collect()
    }
    assert (1, 2) in out
    assert out[(1, 2)] >= 0.999
    assert not any(3 in pair for pair in out)


def test_rank_stats_are_shuffle_partition_invariant(spark):
    """KS / Mann-Whitney / Kruskal-Wallis are defined by exact integer
    arithmetic over the distinct-value table — re-running under different
    shuffle parallelism must give byte-identical results (the property the
    DECIMAL(38,0) doubled-midrank construction buys; a float rank sum
    would drift with partial-aggregation order)."""
    from simple_land_registry_data_ingestion_spark.operators import relational
    from tests.conftest import SF_ORACLE

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ["1", "7", "32"]:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append({
                "ks": sorted(map(tuple, relational.events_ks_test(spark, SF_ORACLE).collect())),
                "mwu": sorted(map(tuple, relational.events_mann_whitney(spark, SF_ORACLE).collect())),
                "kw": sorted(map(tuple, relational.events_kruskal_wallis(spark, SF_ORACLE).collect())),
            })
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[1] == results[2]


@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-500, max_value=500),
            st.none(),
        ),
        min_size=1,
        max_size=120,
    ),
    mode=st.sampled_from(["row_number", "rank"]),
    descending=st.sampled_from([False, True]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_two_phase_rank_equals_global_window(spark, vals, mode, descending):
    """PROPERTY: two_phase_global_rank == the single-task global window it
    replaces, for any value multiset (ties AND NULL order keys included —
    the r8-advice null-safe bucket join must rank NULLs exactly where the
    global window does), both rank modes, both directions — the
    equivalence every consumer (quantile normalize, AUC, Qini, Gini,
    Pareto) relies on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simple_land_registry_data_ingestion_spark.operators.relational import (
        two_phase_global_rank,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    order = [F.col("v").desc(), "id"] if descending else [F.col("v").asc(), "id"]
    # bucket by a coarse order-preserving function of v (several values
    # per bucket so the offset merge is actually exercised)
    got = two_phase_global_rank(
        df,
        F.floor(F.col("v") / 37).cast("long"),
        order if mode == "row_number" else order[:1],
        mode=mode,
        descending=descending,
    )
    w = Window.orderBy(*(order if mode == "row_number" else order[:1]))
    fn = F.row_number() if mode == "row_number" else F.rank()
    want = df.withColumn("global_rank", fn.over(w).cast("long"))
    assert sorted(map(tuple, got.select("id", "v", "global_rank").collect())) == \
        sorted(map(tuple, want.select("id", "v", "global_rank").collect()))
