"""Substrate frames shared by the lens queries of one run.

Several query families are LENSES over one expensive intermediate frame:
the near-dup candidate graph (k-core, link prediction, triangles,
modularity, label propagation, PageRank, cluster assignment, source
overlap — all consume the LSH output) and the order co-purchase graph
(market-basket lift, item-item CF, degree power law, assortativity — all
consume the distinct basket and its pair counts).  Re-deriving the frame
inside every lens query repays the full corpus pass per query; this
module builds it once as parquet and every lens reads that (an in-memory
checkpoint would die under ``bench.py``'s pinned per-query unpersist).

Within-run contract:
  - the store belongs to ONE process: ``store_root()`` is a temp dir made
    on first use and removed at exit, so no result or timing depends on
    state left by an earlier run.  Input data under a corpus dir is
    treated as immutable for the life of the process.
  - entries are keyed by (tag, corpus path): two corpora that share a
    basename never share an entry.
  - a build writes to a dot-prefixed temp dir and is published with one
    ``rename``, so an interrupted build never leaves a readable partial
    frame; readers get a plain parquet scan (re-executable, column-pruned
    and predicate-pushed like any table).
  - every stored frame keeps a LIVE, benched producer query so its build
    cost stays on the scoreboard: dedup_simhash_pairs / dedup_minhash_lsh
    for the simhash/minhash graphs, dedup_prefix_index_build for the
    prefix index, and basket_part_pairs for the basket/co-purchase frames
    (plan-pinned by tests/test_round13_ops.py).  Only lens queries read
    the store; a frame with a single consumer gets no entry and is built
    live by that consumer.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_process_root: str | None = None


def store_root() -> str:
    """Directory holding the substrate frames.  ``SPARK_GRAFT_GRAPH_STORE``
    names it outright (a deployment path, left as is); otherwise it is one
    temp dir for this process, removed at exit."""
    global _process_root
    env = os.environ.get("SPARK_GRAFT_GRAPH_STORE")
    if env:
        return env
    if _process_root is None:
        _process_root = tempfile.mkdtemp(prefix="slr-substrate-")
        atexit.register(shutil.rmtree, _process_root, ignore_errors=True)
    return _process_root


def materialized_frame(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    builder: Callable[[], DataFrame],
) -> DataFrame:
    """Build ``builder()`` once per (tag, corpus) in this process and
    return a parquet scan of it (module docstring has the contract)."""
    path = os.path.abspath(sf_dir)
    digest = hashlib.md5(path.encode()).hexdigest()[:12]
    key = f"{tag}_{os.path.basename(path)}_{digest}"
    root = store_root()
    dest = os.path.join(root, key)
    if not os.path.isdir(dest):
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{key}.", dir=root)
        try:
            builder().coalesce(8).write.mode("overwrite").parquet(tmp)
            os.rename(tmp, dest)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    # Hand the reader the schema from one leaf-footer read instead
    # of paying the ~110 ms per-call schema-inference job (same move as
    # tables.load; every lens query over a stored frame paid it).  Store
    # dirs are FLAT single-writer parquet (coalesce(n).write), so any
    # leaf carries the full schema; fall back to inference if none reads.
    from simple_land_registry_data_ingestion_spark.tables import _footer_schema

    schema = None
    try:
        for leaf in sorted(os.listdir(dest)):
            if leaf.endswith(".parquet"):
                schema = _footer_schema(os.path.join(dest, leaf))
                if schema is not None:
                    break
    except OSError:
        schema = None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(dest)
