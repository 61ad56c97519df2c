#!/usr/bin/env python3
"""Benchmark harness: run every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is one compact JSON record {"metric", "value",
"unit", "sf", "n_queries", "median_query_sec", "two_draw_total",
"detail_path", "queries": {name: sec}}; the multi-pass detail is written
to BENCH_DETAIL.json next to this script.

Method:
- each query is forced through the noop sink (df.write.format("noop")),
  so timing covers scan -> compute -> (would-be) write without a collect;
- a warmup query runs first, and the Python worker pools are warmed at
  the start of each pass;
- every persisted RDD and cached table is cleared before each timed query,
  so blocks left by earlier queries cannot slow later ones;
- two full passes, and the per-query floor is the minimum over passes:
  single-shot timings swing by more than 20% under ambient load, while
  the floor is reproducible;
- a query whose two passes differ by more than 1.5x gets a third,
  tiebreak pass;
- comparisons between runs use two_draw_total (each query's min over its
  first two passes): an extra draw biases a query's min downward, so the
  compared statistic gives every query the same draw count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_label(sf_dir: str) -> float | str:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return base


def _warm_python_pools(spark) -> None:
    """Python-worker pools are keyed by UDF eval type, and the FIRST query
    to touch a pool pays its spawn + executor-side imports (~7 s measured
    for the mapInPandas pool incl. numpy — constant overhead, unrelated to
    data size).  Warm each pool the benched queries use with a tiny query
    (<1 s total) so per-query timings measure steady-state compute."""
    from pyspark.sql.functions import pandas_udf

    def _mip(batches):
        import numpy as np  # noqa: F401  (the heavy executor-side import)

        for b in batches:
            yield b

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    noop(spark.range(64).repartition(32).mapInPandas(_mip, "id long"))
    noop(
        spark.range(64)
        .selectExpr("id % 4 AS g", "id")
        .groupBy("g")
        .applyInPandas(lambda pdf: pdf, "g long, id long")
    )

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inference rejects
    _pu = pandas_udf(lambda s: s, "long")
    noop(spark.range(64).repartition(8).select(_pu("id")))


def _clear_persisted(spark) -> None:
    """Drop every lingering persisted RDD and cached table (see the module
    docstring).  Safe between queries: each query rebuilds its
    whole DAG from parquet, so nothing legitimate is lost."""
    for _rdd_id, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        rdd.unpersist()
    spark.catalog.clearCache()


def main() -> None:
    from simple_land_registry_data_ingestion_spark.session import get_spark

    import __spark_entry__ as entry_mod

    # 300+ queries x 2 passes run in ONE local JVM where the driver also
    # hosts every broadcast and the localCheckpoint block store; the
    # default 1g heap OOMs in BroadcastExchange late in the run (observed
    # at ~the 600th noop save).  A real heap matches what any cluster
    # driver would get; has no effect if a session already exists.
    spark = get_spark(
        app_name="simple-land-registry-bench",
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()

    # Warmup: JVM, codegen, parquet footer caches.
    queries["q1_pricing_summary"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    passes: list[dict[str, float]] = []
    for _ in range(2):
        _warm_python_pools(spark)
        pass_times: dict[str, float] = {}
        for name in sorted(queries):
            _clear_persisted(spark)
            start = time.monotonic()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            pass_times[name] = round(time.monotonic() - start, 3)
        passes.append(pass_times)
    # Queries whose two passes disagree by > 1.5x can have both timings
    # inflated by ambient load.  Give exactly those a third, tiebreak
    # pass; the floor is still min-of-passes.
    noisy = sorted(
        n
        for n in passes[0]
        if max(p[n] for p in passes) > 1.5 * min(p[n] for p in passes)
    )
    if noisy:
        tiebreak: dict[str, float] = {}
        for name in noisy:
            _clear_persisted(spark)
            start = time.monotonic()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            tiebreak[name] = round(time.monotonic() - start, 3)
        passes.append(tiebreak)
    timings = {
        name: min(p[name] for p in passes if name in p) for name in passes[0]
    }

    total = round(sum(timings.values()), 3)
    ordered = sorted(timings.values())
    median = round(ordered[len(ordered) // 2], 3) if ordered else 0.0
    two_draw_total = round(
        sum(min(p[name] for p in passes[:2]) for name in passes[0]), 3
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    summary = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": _sf_label(SF_DIR),
        "n_queries": len(timings),
        "median_query_sec": median,
        # like-for-like statistic for comparisons (uniform draw count)
        "two_draw_total": two_draw_total,
        "detail_path": detail_path,
        "queries": timings,
    }
    with open(detail_path, "w") as fh:
        json.dump(
            {
                **summary,
                "methodology": (
                    "min of 2 full passes per query (noop sink); python "
                    "worker pools warmed per pass; all persisted RDDs and "
                    "cached tables cleared before every timed query; "
                    "queries whose two passes differ by >1.5x get a third "
                    "tiebreak pass (pass_counts records draws per query); "
                    "compare runs with two_draw_total, the sum of each "
                    "query's min over its first two passes"
                ),
                "tiebreak_queries": noisy,
                "pass_counts": {
                    name: sum(1 for p in passes if name in p)
                    for name in passes[0]
                },
                "queries": timings,
                # pass 1 = cold (first planning/codegen per query), pass 2 =
                # warm; regressions in first-run planning cost show up as a
                # growing pass1 total even when the best-of floor is flat
                "passes": passes,
                "pass1_cold_total": round(sum(passes[0].values()), 3),
                "pass2_warm_total": round(sum(passes[1].values()), 3),
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    spark.stop()
    # One line, printed LAST, compact separators (~11 KB with the
    # per-query map).
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
