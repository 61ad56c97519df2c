"""Round-13 pins: substrate accounting.

  (a) the basket family gets a LIVE, benched producer again —
      basket_part_pairs builds the distinct basket and pair counts from
      the lineitem scan in-query (no store read), matching the
      dedup_simhash_pairs discipline; graph_hits_scores likewise builds
      its single-consumer edge list live.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators import (
    dedup,
    mining,
    substrate,
)
from tests.conftest import SF_ORACLE, SF_SMALL


# ---------------------------------------------------------------------------
# (a) live producers
# ---------------------------------------------------------------------------

def test_basket_part_pairs_is_the_live_producer(spark, monkeypatch):
    """The basket family's producer query must PAY the basket build:
    no store read anywhere in its construction, the lineitem table
    actually scanned, and the pair aggregation present in the final
    plan (the part the eager basket checkpoint cannot hide)."""
    store_calls = []
    real_frame = substrate.materialized_frame

    def spy_frame(spark_, sf_dir, tag, builder, **kw):
        store_calls.append(tag)
        return real_frame(spark_, sf_dir, tag, builder, **kw)

    loaded = []
    real_load = mining.load

    def spy_load(spark_, sf_dir, table):
        loaded.append(table)
        return real_load(spark_, sf_dir, table)

    monkeypatch.setattr(mining, "materialized_frame", spy_frame)
    monkeypatch.setattr(mining, "load", spy_load)
    df = mining.basket_part_pairs(spark, SF_ORACLE)
    assert store_calls == [], "producer must not read the store"
    assert "lineitem" in loaded, "producer must scan lineitem"
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pair aggregation sits downstream of the basket checkpoint, so
    # it must be visible in the executed plan
    assert "part_a" in plan and "part_b" in plan, plan[:2000]
    assert substrate.store_root() not in plan, plan[:2000]
    assert df.limit(1).count() >= 0


def test_graph_hits_scores_builds_edges_live(spark, monkeypatch):
    """HITS is the user-part edge list's ONLY consumer: it must build
    the edges live (orders + lineitem scanned), never via the store."""
    store_calls = []
    real_frame = substrate.materialized_frame

    def spy_frame(spark_, sf_dir, tag, builder, **kw):
        store_calls.append(tag)
        return real_frame(spark_, sf_dir, tag, builder, **kw)

    loaded = []
    real_load = mining.load

    def spy_load(spark_, sf_dir, table):
        loaded.append(table)
        return real_load(spark_, sf_dir, table)

    monkeypatch.setattr(mining, "materialized_frame", spy_frame)
    monkeypatch.setattr(mining, "load", spy_load)
    df = mining.graph_hits_scores(spark, SF_SMALL)
    assert store_calls == [], "single-consumer frame must not use the store"
    assert "lineitem" in loaded and "orders" in loaded
    assert df.count() == 20


# ---------------------------------------------------------------------------
# r13 rewrite equivalences
# ---------------------------------------------------------------------------

def test_blocked_gemm_matches_bruteforce_pairs(spark):
    """The blocked-GEMM cosine join must emit each qualifying pair
    EXACTLY once with the id-ordered orientation — the off-diagonal
    block-pair mask is the trap (an `ia < ib` mask there silently drops
    every pair whose smaller id lands on the right side, which the
    sf0.01 oracle diff caught mid-round).  Pin it at unit scale against
    a literal brute-force over vectors engineered to cross block
    boundaries in both directions."""
    import itertools
    import math

    rows = [(i, [float((i * 7 + d * 3) % 5 - 2) for d in range(4)]) for i in range(37)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "embeddings.parquet"))
        got = sorted(
            map(tuple, dedup.dedup_embedding_cosine(spark, td, threshold=0.2).collect())
        )
    vecs = {i: v for i, v in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = sorted(
        (a, b, round(cos(vecs[a], vecs[b]), 6))
        for a, b in itertools.combinations(range(37), 2)
        if round(cos(vecs[a], vecs[b]), 6) >= 0.2
    )
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, g), (_, _, w) in zip(got, want):
        assert abs(g - w) < 1e-6


def test_shingle_emissions_are_equivalent(spark):
    """shingle_table (lead/window form) and shingle_table_nowindow
    (zip-slices form) must emit the same multiset of (doc_id, shingle)
    rows — including the edge cases: docs shorter than n words emit
    nothing, repeated whitespace collapses, repeated n-grams keep their
    multiplicity when distinct=False."""
    rows = [
        (1, "a b c d"),
        (2, "x"),
        (3, "p  q   r"),
        (4, "a b a b a b"),
        (5, "t u"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(map(tuple, dedup.shingle_table(docs, distinct=False).collect()))
    b = sorted(
        map(tuple, dedup.shingle_table_nowindow(docs, distinct=False).collect())
    )
    assert a == b and len(a) == 2 + 1 + 4  # doc1:2, doc3:1, doc4:4
    ad = sorted(map(tuple, dedup.shingle_table(docs).collect()))
    bd = sorted(map(tuple, dedup.shingle_table_nowindow(docs).collect()))
    assert ad == bd
