#!/usr/bin/env python3
"""End-to-end benchmark of the Spark land-registry engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--queries q1,q2] [--spans PATH]

Run from the repository root.  One process, one closed-loop client, Spark on
``local[<cpus>]``.  The run:

1. generates the inputs from ``--seed``, then sets up five times (a fresh
   Spark context and a first query) and reports the median as ``setup_s``;
   the first set-up also launches the JVM;
2. runs passes over the workload's query list (``workloads.json``), each
   pass in the listed order and with an empty substrate store, until
   ``--seconds`` of timed executions have accumulated.  The order is fixed
   so that the query paying a shared substrate build is the same in every
   run; the seed varies the data instead.  An execution is the query call
   plus a ``noop`` save (for ``run_ingest``, one ``pipeline.run_ingest``
   call).  Every execution counts, the process's first ones included;
3. checks every output of the first pass right after its execution,
   outside the timed region: query rows against their DuckDB oracle
   (``tests/compare.py``), the ingest publish against the values the
   generator planted.

With ``--trace 0`` the last stdout line carries the end-to-end metrics of
``BENCHMARK.json``.  With ``--trace 1`` the first pass is followed by
traced and untraced passes in turn; traced passes split every execution
into build, plan and execute phases (see ``tracing.py``) and the last line
carries the per-layer metrics, plus a per-layer top-20 report on stderr.

Every file the run writes lives under ``.perfbench-tmp/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
INGEST = "run_ingest"  # the workload entry that runs the ingest pipeline


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """Per-run scratch tree inside the checkout; removed by ``close``."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".perfbench-tmp", f"{os.getpid()}-{time.time_ns()}")
        for sub in ("graphs", "local", "tmp", "warehouse", "eventlog", "out", "feed"):
            os.makedirs(os.path.join(self.path, sub))

    def __getitem__(self, sub: str) -> str:
        return os.path.join(self.path, sub)

    def isolate(self) -> None:
        """Point every writer this run can reach at the run dir.  Must run
        before the JVM starts; Python workers inherit the environment."""
        os.environ.update({
            "SPARK_GRAFT_GRAPH_STORE": self["graphs"],
            "SPARK_LOCAL_DIRS": self["local"],
            "SPARK_GRAFT_CPUS": str(_cpus()),
            "TMPDIR": self["tmp"],
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        })

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run still holds its own subdirectory


class RssSampler(threading.Thread):
    """Peak memory of this process's descendants (the driver JVM and its
    Python workers), sampled from /proc as summed proportional RSS: pages a
    forked worker shares with its daemon count once, not once per worker.
    This process is left out: it holds the benchmark's own input generator
    and checker."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # process ended since the listing
        return 0

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat", "rb") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except OSError:
                continue  # process ended between listdir and open
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            for child, ppid in parent.items():
                if ppid == pid and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        return sum(self._pss(pid) for pid in tree - {os.getpid()})

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def stop(self) -> None:
        self._halt.set()
        self.join()


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least 10 executions beyond
    it.  Up to 22 executions that percentile is no tail (it lies at or near
    the median), so the maximum stands in.  Returns (value, percentile,
    sample count)."""
    ordered = sorted(latencies)
    n = len(ordered)
    if n == 0:
        return 0.0, 0.0, 0
    idx = n - 11 if n - 11 > n // 2 else n - 1
    return ordered[idx], 100.0 * (idx + 1) / n, n


class Bench:
    """One benchmark invocation: set-up, timed passes, checks, metrics."""

    def __init__(self, args, spec: dict, run: RunDir) -> None:
        self.args = args
        self.spec = spec
        self.run = run
        self.name = args.workload
        self.workload = spec["workloads"][self.name]
        self.queries = dict(self.workload["queries"])
        if args.queries:
            wanted = args.queries.split(",")
            unknown = sorted(set(wanted) - set(self.queries))
            if unknown:
                raise SystemExit(f"not in workload {self.name}: {', '.join(unknown)}")
            self.queries = {q: self.queries[q] for q in wanted}
        self.spark = None
        self.data_dir = ""
        self.feed = ""
        self.planted: dict = {}
        self.setup_times: list[dict[str, float]] = []
        self.failed = 0
        self.errors: list[str] = []

    # -- set-up ---------------------------------------------------------

    def _make_inputs(self) -> None:
        import datagen

        # the feed lives outside the table dir, which file streams scan
        self.data_dir = self.run["data"]
        self.feed = os.path.join(self.run["feed"], "pp-complete.csv")
        os.makedirs(self.data_dir)
        if "scale" in self.workload:
            datagen.write_tables(self.data_dir, self.args.seed, self.workload["scale"])
        if "rows" in self.workload:
            self.planted = datagen.write_pp_complete_csv(
                self.feed, self.args.seed, self.workload["rows"]
            )

    def _start_spark(self) -> None:
        from simple_land_registry_data_ingestion_spark.session import get_spark

        cpus = _cpus()
        conf = {
            "spark.driver.memory": self.spec["driver_memory"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run['tmp']}",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.run["warehouse"],
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.run["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def _warm(self) -> None:
        # Python worker pools are left cold: the first timed pass pays for
        # them, as a batch job would
        self.spark.range(1000).selectExpr("sum(id)").collect()

    def setup(self) -> None:
        self._make_inputs()
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self._start_spark()
            t1 = time.perf_counter()
            self._warm()
            t2 = time.perf_counter()
            self.setup_times.append({"total": t2 - t0, "start": t1 - t0, "warm": t2 - t1})

    # -- executions -----------------------------------------------------

    def _clear_store(self) -> None:
        from simple_land_registry_data_ingestion_spark.operators.substrate import store_root

        shutil.rmtree(store_root(), ignore_errors=True)

    def execute(self, query: str, tracer=None) -> tuple[float, object]:
        """One timed execution; returns (seconds, result)."""
        if query == INGEST:
            from simple_land_registry_data_ingestion_spark.pipeline import run_ingest

            out = self.run["out"] + "/pp_complete"
            t0 = time.perf_counter()
            if tracer is None:
                result = run_ingest(self.spark, self.feed, out)
            else:
                result = tracer.ingest(query, lambda: run_ingest(self.spark, self.feed, out), out)
            return time.perf_counter() - t0, result
        fn = self._fns[query]
        t0 = time.perf_counter()
        if tracer is None:
            df = fn(self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
        else:
            df = tracer.query(query, self.queries[query], lambda: fn(self.spark, self.data_dir))
        return time.perf_counter() - t0, df

    def _check(self, query: str, result) -> None:
        """Check one execution's output: query rows against their DuckDB
        oracle (``tests/compare.py``), the ingest publish against the values
        the generator planted."""
        from tests.compare import compare_query

        if query == INGEST:
            self._check_ingest(result)
        else:
            compare_query(result, self._duckdb(), self._oracles[query])

    def _duckdb(self):
        if getattr(self, "_con", None) is None:
            from tests.compare import duckdb_connect

            self._con = duckdb_connect(self.data_dir)
        return self._con

    def _check_ingest(self, meta) -> None:
        from pyspark.sql import functions as F

        from simple_land_registry_data_ingestion_spark.pipeline import read_pp_complete_table

        want = self.planted
        out = self.run["out"] + "/pp_complete"
        row = read_pp_complete_table(self.spark, out).agg(
            F.count(F.lit(1)).alias("rows"),
            F.to_date(F.max("transaction_date")).alias("max_date"),
            F.count(F.when(F.col("ppd_cat").isNull(), 1)).alias("null_ppd_cat"),
            F.count(F.when(F.col("locality") == "", 1)).alias("empty_locality"),
            F.sum("price").alias("price_sum"),
        ).first().asDict()
        got_meta = self.spark.read.parquet(out + "_metadata").orderBy(
            F.col("process_start_timestamp").desc()
        ).first()
        got = {f"published {key}": (row[key], want[key])
               for key in ("rows", "max_date", "null_ppd_cat", "empty_locality", "price_sum")}
        got["metadata row_count"] = (got_meta["row_count"], want["rows"])
        got["metadata auto_date"] = (got_meta["auto_date"], want["max_date"])
        got["returned row_count"] = (meta.row_count, want["rows"])
        wrong = [f"{name}: {have} != planted {planted}"
                 for name, (have, planted) in got.items() if have != planted]
        if wrong:
            raise ValueError("; ".join(wrong))

    def timed_loop(self, tracer=None) -> dict:
        """Passes over the query list until ``--seconds`` of timed work.

        The first pass holds the process's first execution of every query,
        which a batch job pays, and each of its outputs is checked right
        after the execution, outside the timed region.  With a tracer,
        passes after the first alternate traced and untraced, ending on an
        untraced one, so traced and untraced warm passes can be compared."""
        from bench import _clear_persisted

        passes: list[dict] = []
        latencies: list[float] = []
        per_query: dict[str, list[float]] = {}
        attempted = 0
        timed = 0.0
        while True:
            traced = tracer is not None and len(passes) % 2 == 1
            self._clear_store()
            if traced:
                tracer.begin_pass()
            pass_s = 0.0
            for query in self.queries:
                _clear_persisted(self.spark)
                attempted += 1
                try:
                    seconds, result = self.execute(query, tracer if traced else None)
                    if not passes:
                        self._check(query, result)
                except Exception as exc:  # a failing query must not end the run
                    self.failed += 1
                    self.errors.append(f"{query}: {type(exc).__name__}: {str(exc)[:300]}")
                    continue
                pass_s += seconds
                latencies.append(seconds)
                per_query.setdefault(query, []).append(seconds)
            passes.append({"traced": traced, "seconds": pass_s})
            timed += pass_s
            if timed >= self.args.seconds and (tracer is None or len(passes) % 2 and len(passes) > 1):
                break
        return {"passes": passes, "latencies": latencies, "attempted": attempted,
                "per_query": per_query}

    # -- driver ---------------------------------------------------------

    def main(self) -> dict:
        import __spark_entry__ as entry

        self._fns = {q: entry.queries()[q] for q in self.queries if q != INGEST}
        self._oracles = entry.oracle_sql()
        self.setup()
        tracer = None
        if self.args.trace:
            from tracing import Tracer

            tracer = Tracer(self.spark, self.run["eventlog"])
        sampler = RssSampler()
        sampler.start()
        try:
            loop = self.timed_loop(tracer)
        finally:
            sampler.stop()
        setup = {k: median([s[k] for s in self.setup_times]) for k in self.setup_times[0]}
        tail_s, tail_pct, n = tail(loop["latencies"])
        print(
            "setup medians: " + ", ".join(f"{k} {v:.3f} s" for k, v in setup.items()),
            file=sys.stderr,
        )
        print(
            f"{self.name}: {loop['attempted']} executions in {len(loop['passes'])} passes, "
            f"{self.failed} failed (failed_frac {self.failed / loop['attempted']:.4f}); "
            f"query_tail_s is p{tail_pct:.1f} of {n}",
            file=sys.stderr,
        )
        for line in self.errors:
            print("  " + line, file=sys.stderr)
        for query, times in sorted(loop["per_query"].items(), key=lambda kv: -median(kv[1])):
            print(f"  {median(times):8.3f} s  x{len(times)}  {query}", file=sys.stderr)
        if tracer is None:
            metrics = {
                "setup_s": setup["total"],
                "wall_s": sum(p["seconds"] for p in loop["passes"]) / len(loop["passes"]),
                "query_p50_s": median(loop["latencies"]),
                "query_tail_s": tail_s,
                "peak_rss_mb": sampler.peak_bytes / 2**20,
            }
        else:
            tracer.drain()
            self.spark.stop()
            metrics = tracer.finish(
                setup=setup,
                untraced_wall_s=median([p["seconds"] for p in loop["passes"][2::2]]),
                traced_wall_s=median([p["seconds"] for p in loop["passes"] if p["traced"]]),
                planted=self.planted,
                modules=sorted({m for w in self.spec["workloads"].values()
                                for m in w["queries"].values()} - {"pipeline"}),
            )
            tracer.report(sys.stderr, self.args.spans)
        return {
            "correct": self.failed == 0,
            "attempted": loop["attempted"],
            "failed": self.failed,
            "metrics": metrics,
        }

    def close(self) -> None:
        """Stop Spark, the JVM and its workers, and wait for them to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--queries", default="", help="comma-separated subset of the workload")
    parser.add_argument("--spans", default="", help="traced run: write spans to this JSON file")
    args = parser.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.workload not in spec["workloads"]:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(spec['workloads'])}")

    # a stop request unwinds like an error, so Spark and the run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.dont_write_bytecode = True
    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401
        import simple_land_registry_data_ingestion_spark  # noqa: F401
        import tests.compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run = RunDir()
    try:
        run.isolate()
        bench_run = Bench(args, spec, run)
        try:
            result = bench_run.main()
        finally:
            bench_run.close()
    finally:
        run.close()
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    missing = sorted(set(units) - set(result["metrics"]))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result["metrics"] = {
        name: {"value": result["metrics"][name], "unit": unit} for name, unit in units.items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
