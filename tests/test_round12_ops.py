"""Round-12 pins: the shared substrate store (operators/substrate.py)
and the graph-lens queries that consume it.

Candidate graphs and basket frames that every lens query used to
rebuild in-query are materialized once per corpus and run, as parquet in
a per-process store.  These tests pin (a) the store machinery itself —
build-once/read-many, per-path keys, per-process lifetime, atomicity of
the visible state — and (b) that the lens queries actually read the
store (a silent fallback to in-query rebuild would resurrect the
3-4 s/query floor the store removed).
"""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from simple_land_registry_data_ingestion_spark.operators import (
    dedup,
    mining,
    substrate,
)
from tests.conftest import REPO_ROOT, SF_ORACLE, SF_SMALL


def _formatted(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ---------------------------------------------------------------------------
# Store machinery
# ---------------------------------------------------------------------------

def test_materialized_frame_builds_once_then_reads(spark, tmp_path, monkeypatch):
    """Second call with the same (tag, corpus dir) must NOT invoke the
    builder; the frame round-trips through parquet unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_STORE", str(tmp_path / "store"))
    src = tmp_path / "sf"
    src.mkdir()
    calls = []

    def builder():
        calls.append(1)
        return spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))

    out1 = substrate.materialized_frame(spark, str(src), "t1", builder)
    out2 = substrate.materialized_frame(spark, str(src), "t1", builder)
    assert len(calls) == 1
    rows = sorted(map(tuple, out1.collect()))
    assert rows == sorted(map(tuple, out2.collect()))
    assert rows == [(i, 2 * i) for i in range(5)]


def test_same_tag_over_dirs_sharing_a_basename_builds_per_dir(
    spark, tmp_path, monkeypatch
):
    """Entries are keyed by the corpus's absolute path, not its
    basename: two ``sf`` dirs under different parents each get their
    own build and read back their own rows, and a repeat call on either
    dir reuses its entry."""
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_STORE", str(tmp_path / "store"))
    dirs = [tmp_path / "a" / "sf", tmp_path / "b" / "sf"]
    calls = []

    def builder_for(n):
        def builder():
            calls.append(n)
            return spark.range(n)

        return builder

    for n, d in enumerate(dirs, start=2):
        d.mkdir(parents=True)
        out = substrate.materialized_frame(spark, str(d), "t3", builder_for(n))
        assert out.count() == n
    assert calls == [2, 3]
    for n, d in enumerate(dirs, start=2):
        out = substrate.materialized_frame(spark, str(d), "t3", builder_for(n))
        assert sorted(r.id for r in out.collect()) == list(range(n))
    assert calls == [2, 3]


_CHILD_BUILD = """
import sys
from pyspark.sql import SparkSession
from simple_land_registry_data_ingestion_spark.operators import substrate

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
src = sys.argv[1]
out = substrate.materialized_frame(
    spark, src, "t2", lambda: spark.read.text(src + "/documents.txt"))
print(",".join(r.value for r in out.collect()))
spark.stop()
"""


def _run_child(code, *args):
    env = {
        k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_GRAPH_STORE"
    }
    done = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=str(REPO_ROOT),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    return done.stdout.strip().splitlines()[-1]


def test_materialized_frame_invalidates_on_source_change(
    spark, tmp_path, monkeypatch
):
    """Regenerated input is seen by the next run: the store lives for
    one process, so a fresh process rebuilds from the source as it is
    now rather than reading an entry built from the old bytes."""
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_STORE", raising=False)
    src = tmp_path / "sf"
    src.mkdir()
    f = src / "documents.txt"
    f.write_text("v1\n")
    out = substrate.materialized_frame(
        spark, str(src), "t2", lambda: spark.read.text(str(f))
    )
    assert [r.value for r in out.collect()] == ["v1"]
    f.write_text("v2\n")
    assert _run_child(_CHILD_BUILD, str(src)) == "v2"


def test_process_store_is_removed_at_exit():
    """Without ``SPARK_GRAFT_GRAPH_STORE`` the store is a temp dir owned
    by the process: it is not under the repo and is gone once the
    process exits, so nothing outlives the run."""
    root = _run_child(
        "import os\n"
        "from simple_land_registry_data_ingestion_spark.operators import substrate\n"
        "root = substrate.store_root()\n"
        "open(os.path.join(root, 'probe'), 'w').write('x')\n"
        "print(root)\n"
    )
    assert os.path.isabs(root)
    assert not root.startswith(str(REPO_ROOT) + os.sep), root
    assert not os.path.exists(root), root


def test_store_entries_are_tagged_per_corpus(spark):
    """The real store keys carry (tag, sf basename, path hash) so
    sf0.001 and sf0.01 entries coexist; a failed/partial build must
    never be visible (only complete dirs, no temp residue leaks into
    reads)."""
    dedup.shared_minhash_graph(spark, SF_ORACLE)
    root = substrate.store_root()
    names = os.listdir(root)
    base = os.path.basename(SF_ORACLE.rstrip("/"))
    assert any(n.startswith(f"minhash_lsh_{base}_") for n in names)
    # visible entries are complete (atomic rename): a _SUCCESS marker
    # exists in every non-hidden dir
    for n in names:
        if not n.startswith("."):
            assert os.path.exists(os.path.join(root, n, "_SUCCESS")), n


# ---------------------------------------------------------------------------
# Lens queries read the store
# ---------------------------------------------------------------------------

def test_kcore_and_link_prediction_read_simhash_store(spark, monkeypatch):
    """The two simhash lenses must read the at-rest d=3 graph (the
    in-query rebuild was the floor's dominant term, VERDICT r11 item 2).
    kcore checkpoints its adjacency, which hides the scan from the final
    plan — so the pin spies the store entry point instead of grepping
    plan text; link prediction's plan keeps the scan visible and must
    slice it by the pushed-down distance predicate."""
    tags = []
    real = substrate.materialized_frame

    def spy(spark_, sf_dir, tag, builder):
        tags.append(tag)
        return real(spark_, sf_dir, tag, builder)

    monkeypatch.setattr(dedup, "materialized_frame", spy)
    dedup.dedup_kcore_peel(spark, SF_ORACLE)
    assert tags == ["simhash_d3"], tags
    lplan = _formatted(dedup.dedup_link_prediction(spark, SF_ORACLE))
    assert tags == ["simhash_d3", "simhash_d3"], tags
    assert "simhash_d3_" in lplan, lplan
    assert "nibble_distance" in lplan, lplan


def test_link_prediction_store_slice_matches_live_build(spark):
    """Banding invariance end-to-end: the distance<=2 slice of the
    at-rest d=3 graph equals a live d=2 build (the property the shared
    store's one-frame-many-thresholds design rests on)."""
    sliced = (
        dedup.shared_simhash_graph(spark, SF_ORACLE)
        .where(F.col("nibble_distance") <= 2)
        .select("doc_a", "doc_b", "nibble_distance")
    )
    live = dedup.dedup_simhash_pairs(spark, SF_ORACLE, max_nibble_distance=2)
    assert sorted(map(tuple, sliced.collect())) == sorted(
        map(tuple, live.collect())
    )


def test_minhash_lenses_read_store(spark, monkeypatch):
    """Every minhash graph lens consumes the at-rest candidate list —
    while the PRODUCER query (dedup_minhash_lsh) keeps the live build
    path, so the build itself stays benched and certified.  Spied at the
    store entry point: several lenses checkpoint their adjacency, which
    hides the parquet scan from the final plan."""
    tags = []
    real = substrate.materialized_frame

    def spy(spark_, sf_dir, tag, builder):
        tags.append(tag)
        return real(spark_, sf_dir, tag, builder)

    monkeypatch.setattr(dedup, "materialized_frame", spy)
    lenses = (
        dedup.dedup_triangle_stats,
        dedup.graph_modularity,
        dedup.graph_label_propagation,
        dedup.dedup_cluster_assignments,
        dedup.dedup_pagerank_hubs,
        dedup.dedup_source_overlap_matrix,
    )
    for fn in lenses:
        before = len(tags)
        fn(spark, SF_ORACLE)
        assert tags[before:] == ["minhash_lsh"], (fn.__name__, tags[before:])
    dedup.dedup_minhash_lsh(spark, SF_ORACLE)
    assert len(tags) == len(lenses), "producer must not read the store"


def test_copurchase_store_rows_equal_live_build(spark):
    """The at-rest pair store carries exactly the counts the in-query
    build produced (the four basket lenses' shared contract)."""
    store = mining.shared_copurchase_pairs(spark, SF_SMALL)
    items = (
        mining.load(spark, SF_SMALL, "lineitem")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("part_id"),
        )
        .distinct()
    )
    a = items.select("order_id", F.col("part_id").alias("part_a"))
    b = items.select("order_id", F.col("part_id").alias("part_b"))
    live = (
        a.join(b, "order_id")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
    )
    assert sorted(map(tuple, store.collect())) == sorted(
        map(tuple, live.collect())
    )
