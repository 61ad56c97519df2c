#!/usr/bin/env python3
"""Benchmark harness: run every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

The FINAL stdout line is one JSON record {"metric", "value", "unit",
"sf", "n_queries", ..., "queries": {name: sec}}.  r16 (VERDICT r15 item
5, measurement-contract fix): the per-query timing map, two_draw_total
and detail_path are folded INTO the line (compact separators, ~11 KB)
— the driver's round-over-round per-query comparison reads only this
line, and without "queries" it was empty every round (PERF_r15.json
n_common: 0).  The full multi-pass detail is still written to
BENCH_DETAIL.json next to this script.

Execution is forced through the noop sink (df.write.format("noop")) so the
timing covers scan -> compute -> (would-be) write without driver-side
collect costs, matching how the engine runs in production.  A warmup query
is run first so JVM/codegen startup does not pollute the first measurement.

Noise control: this sandbox carries ambient CPU load (loadavg 3-4 idle),
and single-shot per-query timings were observed to swing far beyond +-20%
between runs of BYTE-IDENTICAL code.  Each query therefore runs in TWO full
passes and reports the per-query MINIMUM — the floor is the code's actual
cost; the excursions are the machine's.  BENCH_DETAIL.json records both
passes and the methodology.

PINNED METHODOLOGY (r9, verdict item 8): before every timed query the
harness unpersists all lingering RDDs (localCheckpoint blocks included)
and cached tables.  Without this, blocks left by earlier queries crowd
the storage pool across the 340-query session and inflate later queries
2-3x non-deterministically — this was the entire "unexplained regression"
set of round 8 (text_dictionary_tagging 2.32 s in-session vs 0.86 s
clean, basket_part_pairs 3.65 vs 1.62, multimodal_decode_features 3.38
vs 0.55).  Round-over-round totals are comparable from r9 on: 2 passes,
per-query min, noop sink, pools warmed per pass, persisted state cleared
per query.
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
    """Drop every lingering persisted RDD and cached table (see PINNED
    METHODOLOGY above).  Safe between queries: each query rebuilds its
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
    # r12 amendment (VERDICT r11 item 5): queries whose two passes
    # disagree by > 1.5x got BOTH timings inside an ambient-load window
    # often enough that even the min was inflated (the same ~10 queries
    # swung 2-4x between byte-identical runs).  Give exactly those a
    # third, tiebreak pass; the recorded floor is still min-of-passes,
    # so this can only remove noise, never hide a real regression.
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
        # r16 additions (VERDICT r15 item 5) — everything below is
        # ADDITIVE; no key above was removed or renamed:
        # like-for-like round-over-round statistic (uniform draw count)
        "two_draw_total": two_draw_total,
        "detail_path": detail_path,
        # per-query floors so the driver's per_query/scaling comparisons
        # are no longer empty
        "queries": timings,
    }
    with open(detail_path, "w") as fh:
        json.dump(
            {
                **summary,
                "methodology": (
                    "PINNED r9: min of 2 full passes per query (noop "
                    "sink), python worker pools warmed per pass, ALL "
                    "persisted RDDs/cached tables cleared before every "
                    "timed query (lingering localCheckpoint blocks "
                    "inflated later queries 2-3x in r7/r8 sessions); "
                    "ambient sandbox load makes single-shot timings "
                    "swing >20%, the per-query floor is reproducible. "
                    "r12 amendment: queries whose two passes disagree "
                    ">1.5x get a third tiebreak pass (min over all "
                    "passes). r13 note (ADVICE r12): extra draws "
                    "statistically bias selected queries' min DOWNWARD "
                    "relative to 2-draw queries, so the tiebreak is not "
                    "noise-neutral; per-query draw counts are recorded "
                    "(pass_counts) so round-over-round comparisons can "
                    "be made like-for-like. r14 comparison rule (VERDICT "
                    "r13 item 7): round-over-round comparisons use "
                    "two_draw_total — every query's min over its FIRST "
                    "TWO passes only — so the compared statistic has an "
                    "identical draw count every round regardless of "
                    "which queries happened to trip the tiebreak; the "
                    "headline value stays min-of-all-passes (pinned r9 "
                    "floor semantics, reproducibility unchanged)"
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
    # per-query map — r16 contract fix, see module docstring).
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
