"""Per-layer tracing for the benchmark's traced passes.

Everything is measured from outside the engine, around the benchmark's own
calls into it:

- each query execution runs in three phases, each under its own Spark job
  group ``<query>#<exec>:<phase>``: ``build`` (the query callable, including
  any eager jobs it launches), ``plan`` (``queryExecution().executedPlan()``,
  which re-plans the query, so it runs only here) and ``execute`` (the
  ``noop`` save); an ingest execution is one ``run_ingest`` call;
- Spark's event log (written under the run dir, parsed after the context
  stops) gives jobs, stages and task metrics per job group;
- a ``StreamingQueryListener`` gives micro-batch progress and state-store
  metrics; stream jobs carry the stream's run id as job group, and each run
  id is attributed to the execution whose build phase it started in;
- the substrate store directory is listed around each execution: a build
  is a new store entry, a read a query whose plan scans the store, and a
  hit a read that built nothing.

Spans (query, phase, start, end, parent) stay in memory and are written out
only on request.  Per-layer metrics are per traced pass (a pass runs every
query of the workload once), averaged over the run's traced passes.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from urllib.parse import urlparse

from pyspark.sql.streaming import StreamingQueryListener

PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
BUILD_MODULES = ("dedup", "mining", "similarity", "text", "relational")

#: For the top-20 report: layer -> the per-execution field that ranks it.
REPORT_LAYERS = {
    "operators (build_s)": "build_s",
    "driver (no_job_s)": "no_job_s",
    "engine plan (plan_s)": "plan_s",
    "engine execute (exec_s)": "exec_s",
    "engine tasks (task_run_s)": "task_run_s",
    "engine shuffle (shuffle_bytes)": "shuffle_bytes",
    "engine python (python_bytes_sent)": "python_bytes_sent",
    "substrate (builds)": "substrate_builds",
    "streaming (trigger_s)": "stream_trigger_s",
}


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _module_layer(module: str) -> str:
    return "streaming" if module == "ops" else module


class _StreamListener(StreamingQueryListener):
    """Collects stream lifecycle and progress events (listener threads)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        progress = json.loads(event.progress.json)
        with self.lock:
            self.progress[progress["runId"]].append(progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))


class Tracer:
    def __init__(self, spark, eventlog_dir: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.listener = _StreamListener()
        spark.streams.addListener(self.listener)
        self.execs: list[dict] = []
        self.pass_index = -1
        self.store = os.environ["SPARK_GRAFT_GRAPH_STORE"]

    # -- recording ------------------------------------------------------

    def begin_pass(self) -> None:
        self.pass_index += 1

    def _store_entries(self) -> set[str]:
        try:
            return {e for e in os.listdir(self.store) if not e.startswith(".")}
        except FileNotFoundError:
            return set()

    def _store_size(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.store)
            for f in files
        )

    def _phase(self, rec: dict, phase: str, call):
        self.sc.setJobGroup(f"{rec['query']}#{rec['exec']}:{phase}", phase)
        start = time.time()
        try:
            return call()
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            rec["spans"].append({"phase": phase, "start": start, "end": end})
            rec[f"{phase}_s"] = end - start

    def _new_exec(self, query: str, module: str) -> dict:
        rec = {"query": query, "module": _module_layer(module), "exec": len(self.execs),
               "pass": self.pass_index, "spans": []}
        self.execs.append(rec)
        return rec

    def query(self, query: str, module: str, build):
        rec = self._new_exec(query, module)
        before = self._store_entries()
        df = self._phase(rec, "build", build)
        self._phase(rec, "plan", lambda: df._jdf.queryExecution().executedPlan())
        reads = any(urlparse(f).path.startswith(self.store) for f in df.inputFiles())
        self._phase(rec, "execute", lambda: df.write.format("noop").mode("overwrite").save())
        rec["substrate_builds"] = len(self._store_entries() - before)
        rec["substrate_reads"] = int(reads)
        rec["substrate_hits"] = int(reads and not rec["substrate_builds"])
        rec["store_bytes"] = self._store_size()
        return df

    def ingest(self, query: str, call, out: str):
        rec = self._new_exec(query, "pipeline")
        meta = self._phase(rec, "ingest", call)
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs
                 if f.endswith(".parquet")]
        rec.update(
            scan_s=meta.read_duration_s,
            publish_s=meta.write_duration_s,
            rows=meta.row_count,
            files_written=len(files),
            bytes_written=sum(os.path.getsize(f) for f in files),
        )
        return meta

    def drain(self, timeout: float = 10.0) -> None:
        """Wait for the listener to see every started stream terminate."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.listener.lock:
                if set(self.listener.started) <= self.listener.terminated:
                    return
            time.sleep(0.05)

    # -- event log ------------------------------------------------------

    def _exec_of_run(self) -> dict[str, dict]:
        """Stream run id -> the execution whose build phase started it."""
        owner = {}
        for run_id, started in self.listener.started.items():
            for rec in self.execs:
                span = rec["spans"][0]
                if span["phase"] == "build" and span["start"] <= started <= span["end"]:
                    owner[run_id] = rec
        return owner

    def _parse_eventlog(self) -> None:
        by_group = {f"{r['query']}#{r['exec']}:{s['phase']}": r
                    for r in self.execs for s in r["spans"]}
        for run_id, rec in self._exec_of_run().items():
            by_group[run_id] = rec
        for rec in self.execs:
            rec["jobs"] = []
            for key in ("stages", "tasks", "failed_tasks", "build_jobs"):
                rec[key] = 0
            for key in ("task_run_s", "task_cpu_s", "gc_s", "task_wait_s", "fetch_wait_s",
                        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                        "input_bytes", "python_bytes_sent", "python_bytes_returned"):
                rec[key] = 0.0
        for path in glob.glob(os.path.join(self.eventlog_dir, "*")):
            stage_owner: dict[int, dict] = {}
            jobs: dict[int, tuple[dict, str, float]] = {}
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        rec = by_group.get(group)
                        if rec is not None:
                            jobs[ev["Job ID"]] = (rec, group, ev["Submission Time"] / 1000)
                    elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                        rec, group, start = jobs.pop(ev["Job ID"])
                        rec["jobs"].append((start, ev["Completion Time"] / 1000))
                        if not group.endswith((":plan", ":execute", ":ingest")):
                            rec["build_jobs"] += 1
                    elif kind == "SparkListenerStageSubmitted":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        rec = by_group.get(group)
                        if rec is not None:
                            stage_owner[ev["Stage Info"]["Stage ID"]] = rec
                            rec["stages"] += 1
                    elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_owner:
                        self._add_task(stage_owner[ev["Stage ID"]], ev)

    @staticmethod
    def _add_task(rec: dict, ev: dict) -> None:
        info = ev["Task Info"]
        rec["tasks"] += 1
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            rec["failed_tasks"] += 1
        for acc in info.get("Accumulables", []):
            name = acc.get("Name")
            if name in (PYTHON_SENT, PYTHON_RETURNED):
                key = "python_bytes_sent" if name == PYTHON_SENT else "python_bytes_returned"
                rec[key] += float(acc.get("Update", 0))
        m = ev.get("Task Metrics")
        if not m:
            return
        run_ms = m["Executor Run Time"]
        rec["task_run_s"] += run_ms / 1000
        rec["task_cpu_s"] += m["Executor CPU Time"] / 1e9
        rec["gc_s"] += m["JVM GC Time"] / 1000
        took = info["Finish Time"] - info["Launch Time"]
        rec["task_wait_s"] += max(0, took - run_ms - m["Result Serialization Time"]) / 1000
        rec["spill_bytes"] += m["Disk Bytes Spilled"]
        rec["input_bytes"] += m["Input Metrics"]["Bytes Read"]
        rd = m["Shuffle Read Metrics"]
        rec["shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        rec["fetch_wait_s"] += rd["Fetch Wait Time"] / 1000
        rec["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]

    # -- streams --------------------------------------------------------

    def _add_streams(self) -> None:
        for rec in self.execs:
            rec.update(stream_queries=0, stream_batches=0, stream_input_rows=0,
                       stream_trigger_s=0.0, stream_add_batch_s=0.0, stream_plan_s=0.0,
                       stream_commit_s=0.0, state_rows=0, state_rows_removed=0,
                       state_memory_bytes=0, state_commit_s=0.0)
        for run_id, rec in self._exec_of_run().items():
            rec["stream_queries"] += 1
            for p in self.listener.progress.get(run_id, []):
                d = p.get("durationMs", {})
                rec["stream_batches"] += 1
                rec["stream_input_rows"] += p.get("numInputRows", 0)
                rec["stream_trigger_s"] += d.get("triggerExecution", 0) / 1000
                rec["stream_add_batch_s"] += d.get("addBatch", 0) / 1000
                rec["stream_plan_s"] += d.get("queryPlanning", 0) / 1000
                rec["stream_commit_s"] += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000
                for op in p.get("stateOperators", []):
                    rec["state_rows"] = max(rec["state_rows"], op.get("numRowsTotal", 0))
                    rec["state_rows_removed"] += op.get("numRowsRemoved", 0)
                    rec["state_memory_bytes"] = max(rec["state_memory_bytes"],
                                                    op.get("memoryUsedBytes", 0))
                    rec["state_commit_s"] += op.get("commitTimeMs", 0) / 1000
        for rec in self.execs:
            if rec["stream_queries"]:
                rec["stream_lifecycle_s"] = rec["build_s"] - rec["stream_trigger_s"]

    # -- results --------------------------------------------------------

    @staticmethod
    def _no_job_s(rec: dict) -> float:
        start, end = rec["spans"][0]["start"], rec["spans"][-1]["end"]
        busy, cursor = 0.0, start
        for a, b in sorted(rec["jobs"]):
            a, b = max(a, cursor), min(b, end)
            if b > a:
                busy += b - a
                cursor = b
        return (end - start) - busy

    def finish(self, setup: dict, untraced_wall_s: float, traced_wall_s: float,
               planted: dict, modules: list[str]) -> dict:
        """Per-layer metrics; call after the Spark context has stopped."""
        self._parse_eventlog()
        self._add_streams()
        for rec in self.execs:
            rec["no_job_s"] = self._no_job_s(rec)
            rec["wall_s"] = rec["spans"][-1]["end"] - rec["spans"][0]["start"]
            rec["shuffle_bytes"] = rec["shuffle_write_bytes"] + rec["shuffle_read_bytes"]
        n_passes = self.pass_index + 1

        def per_pass(key: str, recs=None) -> float:
            return sum(r.get(key, 0) for r in (self.execs if recs is None else recs)) / n_passes

        m = {
            "operators.build_s": per_pass("build_s"),
            "operators.build_jobs": per_pass("build_jobs"),
            "driver.no_job_s": per_pass("no_job_s"),
            "engine.plan_s": per_pass("plan_s"),
            "engine.jobs": sum(len(r["jobs"]) for r in self.execs) / n_passes,
        }
        for mod in BUILD_MODULES:
            m[f"{mod}.build_s"] = per_pass("build_s", [r for r in self.execs if r["module"] == mod])
        for mod in modules:
            layer = _module_layer(mod)
            m[f"{layer}.exec_s"] = per_pass("execute_s", [r for r in self.execs if r["module"] == layer])
        for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "task_wait_s",
                    "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                    "input_bytes", "python_bytes_sent", "python_bytes_returned"):
            m[f"engine.{key}"] = per_pass(key)
        m["engine.shuffle_fetch_wait_s"] = per_pass("fetch_wait_s")
        reads = per_pass("substrate_reads")
        m.update({
            "substrate.builds": per_pass("substrate_builds"),
            "substrate.reads": reads,
            "substrate.hit_ratio": per_pass("substrate_hits") / reads if reads else 0.0,
            # the store only grows within a pass: its size after the pass
            "substrate.bytes": statistics.mean(
                max(r.get("store_bytes", 0) for r in self.execs if r["pass"] == p)
                for p in range(n_passes)),
        })
        self.substrate_base = reads
        for key in ("batches", "input_rows", "trigger_s", "add_batch_s", "plan_s",
                    "commit_s", "lifecycle_s"):
            m[f"streaming.{key}"] = per_pass(f"stream_{key}")
        m["streaming.queries_started"] = per_pass("stream_queries")
        for key in ("state_rows", "state_rows_removed", "state_memory_bytes", "state_commit_s"):
            m[f"streaming.{key}"] = per_pass(key)
        ingest = [r for r in self.execs if r["module"] == "pipeline"]
        wall = per_pass("wall_s", ingest)
        scan, publish = per_pass("scan_s", ingest), per_pass("publish_s", ingest)
        stored = per_pass("bytes_written", ingest)
        m.update({
            "sources.scan_s": scan,
            "sinks.publish_s": publish,
            "pipeline.other_s": wall - scan - publish if ingest else 0.0,
            "sinks.files_written": per_pass("files_written", ingest),
            "sinks.bytes_written": stored,
            "sinks.stored_bytes_per_input_byte": stored / planted["bytes"] if ingest else 0.0,
            "pipeline.rows_per_s": per_pass("rows", ingest) / wall if ingest else 0.0,
            "session.start_s": setup["start"],
            "session.warm_s": setup["warm"],
            "trace.wall_s": traced_wall_s,
            "trace.overhead_ratio": traced_wall_s / untraced_wall_s if untraced_wall_s else 0.0,
        })
        return m

    def report(self, out, spans_path: str = "") -> None:
        """Top-20 queries per layer (means over traced executions)."""
        per_query: dict[str, list[dict]] = defaultdict(list)
        for rec in self.execs:
            per_query[rec["query"]].append(rec)
        rows = {
            q: {k: statistics.mean(r.get(k, 0) for r in recs)
                for k in set(REPORT_LAYERS.values()) | {"wall_s"}}
            for q, recs in per_query.items()
        }
        print(f"traced passes: {self.pass_index + 1}; substrate hit ratio base: "
              f"{getattr(self, 'substrate_base', 0):g} store reads per pass", file=out)
        for title, key in REPORT_LAYERS.items():
            top = sorted(rows.items(), key=lambda kv: -kv[1][key])[:20]
            top = [(q, v) for q, v in top if v[key]]
            if not top:
                continue
            print(f"\n== {title}: top {len(top)} ==", file=out)
            for q, v in top:
                print(f"  {v[key]:>14.4f}  {q}  (wall {v['wall_s']:.3f} s)", file=out)
        if spans_path:
            spans = []
            for rec in self.execs:
                qid = f"{rec['query']}#{rec['exec']}"
                spans.append({"span": qid, "parent": f"pass{rec['pass']}",
                              "start": rec["spans"][0]["start"], "end": rec["spans"][-1]["end"]})
                spans += [{"span": f"{qid}:{s['phase']}", "parent": qid,
                           "start": s["start"], "end": s["end"]} for s in rec["spans"]]
            with open(spans_path, "w") as fh:
                json.dump(spans, fh, indent=1)
