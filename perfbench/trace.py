"""The traced pass: spans and per-layer counters recorded from the
benchmark's side of each call into the engine.

With tracing off the workloads get :class:`NullTracer`, whose spans
record nothing. With tracing on, :class:`Tracer`

- keeps a span for set-up steps, rounds and operations in memory;
- tags the Spark jobs of each operation with a job description;
- after each round reads the round's stages and jobs from Spark's
  status store, and each new SQL execution's metrics (Python-worker
  time and bytes, files written) from
  ``spark._jsparkSession.sharedState().statusStore()``;
- records every streaming progress event through a Python
  ``StreamingQueryListener`` (trigger phases, state operators);
- samples /proc for the CPU of the JVM and of its Python workers.

The status store keeps the last 1000 jobs, stages and SQL executions
by default; reading it once per round stays inside that window.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from . import procs

# name -> unit for every per-layer metric, in the order they print
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "warmup.round_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.block_bytes": "bytes",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.data_sent_bytes": "bytes",
    "python.rows_received": "count",
    "python.worker_cpu_s": "s",
    "jvm.cpu_s": "s",
    "streaming.triggers": "count",
    "streaming.no_data_triggers": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_p50_ms": "ms",
    "streaming.wal_commit_p50_ms": "ms",
    "streaming.commit_offsets_p50_ms": "ms",
    "streaming.latest_offset_p50_ms": "ms",
    "streaming.query_planning_p50_ms": "ms",
    "streaming.outside_trigger_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sources.produce_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "driver.heap_used_mb": "MB",
    "proc.peak_pss_mb": "MB",
    "storage.tmp_bytes": "bytes",
    "pipeline.orders_per_s": "1/s",
    "pipeline.wave_latency_p50_ms": "ms",
    "trace.round_s": "s",
    "trace.collect_s": "s",
}

_PHASES = {
    "streaming.trigger_p50_ms": "triggerExecution",
    "streaming.add_batch_p50_ms": "addBatch",
    "streaming.wal_commit_p50_ms": "walCommit",
    "streaming.commit_offsets_p50_ms": "commitOffsets",
    "streaming.latest_offset_p50_ms": "latestOffset",
    "streaming.query_planning_p50_ms": "queryPlanning",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_METRIC_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A Spark SQL metric display string as a number: bytes for sizes,
    seconds for timings, the plain count otherwise. Size and timing
    metrics print ``total (min, med, max ...)`` and the values on the
    next line; the first value there is the total."""
    line = text.strip().splitlines()[-1]
    m = _METRIC_VALUE.search(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class _NullSpan:
    seconds = 0.0

    def mark(self, **_):
        pass

    def count(self, *_):
        pass


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextmanager
    def span(self, name):
        yield _NullSpan()

    op = span
    round = span

    def finish(self, *_):
        return {}


class _Span:
    def __init__(self, tracer: "Tracer", name: str, parent):
        self.tracer = tracer
        self.name = name
        self.parent = parent
        self.id = len(tracer.spans)
        self.start = time.time()
        self.end = None
        self.attrs: dict = {}
        self.seconds = 0.0

    def mark(self, **attrs):
        self.attrs.update(attrs)

    def count(self, metric: str, value: float):
        self.tracer.counters[metric] = self.tracer.counters.get(metric, 0.0) + value

    def record(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "name": self.name,
            "start": self.start, "end": self.end, **self.attrs,
        }


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str, work_dirs: list[str]):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.work_dirs = work_dirs
        self.spans: list[_Span] = []
        self._stack: list[_Span] = []
        self.counters: dict[str, float] = {}
        self.rounds: list[dict] = []
        self.ops: list[dict] = []
        self._progress: list[str] = []
        self._lock = threading.Lock()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._empty = jvm.java.util.ArrayList()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._runtime = jvm.java.lang.Runtime.getRuntime()
        self._next_execution = self._sql_store.executionsCount()
        self._jvm_pid = procs.find_jvm(os.getpid())

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._lock:
                    tracer._progress.append(event.progress.json)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    # --- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sp = _Span(self, name, self._stack[-1].id if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sp)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.seconds = time.perf_counter() - t0
            sp.end = sp.start + sp.seconds
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """One operation: its jobs carry ``perfbench <workload> <name>``."""
        self.sc.setJobDescription(f"perfbench {self.workload} {name}")
        try:
            with self.span(f"op:{name}") as sp:
                yield sp
        finally:
            self.sc.setJobDescription(None)
        self.ops.append(sp.record())

    @contextmanager
    def round(self, name: str):
        cpu0 = self._cpu()
        self.counters = {}
        with self.span(name) as sp:
            yield sp
        t0 = time.perf_counter()
        time.sleep(0.2)  # let the listener bus deliver the round's last events
        record = self._collect(sp, cpu0)
        record["trace.collect_s"] = time.perf_counter() - t0 - 0.2
        record["trace.round_s"] = sp.seconds
        self.rounds.append(record)

    # --- per-round collection ---------------------------------------------

    def _cpu(self) -> tuple[float, float]:
        if self._jvm_pid is None:
            return 0.0, 0.0
        jvm = procs.cpu_seconds([self._jvm_pid], with_children=False)
        workers = procs.cpu_seconds(procs.descendants(self._jvm_pid)[1:])
        return jvm, workers

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect(self, sp: _Span, cpu0: tuple[float, float]) -> dict:
        lo, hi = sp.start * 1000, sp.end * 1000
        rec: dict[str, float] = dict.fromkeys(LAYER_METRICS, 0.0)
        rec.update(self.counters)

        stages = self._json(self._store.stageList(self._empty, False, False, self._quantiles, self._empty))
        stages = [s for s in stages if s.get("submissionTime") and lo <= s["submissionTime"] <= hi]
        rec["spark.stages"] = len(stages)
        rec["spark.tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)
        rec["spark.task_s"] = sum(s["executorRunTime"] for s in stages) / 1000
        rec["spark.gc_s"] = sum(s["jvmGcTime"] for s in stages) / 1000
        rec["spark.shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in stages)
        rec["spark.shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
        rec["spark.shuffle_fetch_wait_s"] = sum(s["shuffleFetchWaitTime"] for s in stages) / 1000
        rec["spark.spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
        jobs = self._json(self._store.jobsList(self._empty))
        rec["spark.jobs"] = sum(1 for j in jobs if j.get("submissionTime") and lo <= j["submissionTime"] <= hi)
        executors = self._json(self._store.executorList(True))
        rec["spark.block_bytes"] = sum(e["memoryUsed"] + e["diskUsed"] for e in executors)

        end = self._sql_store.executionsCount()
        for eid in range(self._next_execution, end):
            self._execution_metrics(eid, rec)
        self._next_execution = end

        with self._lock:
            events, self._progress = self._progress, []
        self._streaming(events, rec, sp)

        jvm1, workers1 = self._cpu()
        rec["jvm.cpu_s"] = jvm1 - cpu0[0]
        rec["python.worker_cpu_s"] = workers1 - cpu0[1]
        rt = self._runtime
        rec["driver.heap_used_mb"] = (rt.totalMemory() - rt.freeMemory()) / 2**20
        rec["storage.tmp_bytes"] = sum(procs.dir_usage(d)[1] for d in self.work_dirs)
        ops = [o for o in self.ops if sp.start <= o["start"] <= sp.end]
        rec["queries.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
        rec["queries.exec_s"] = sum(o.get("exec_s", 0.0) for o in ops)
        return rec

    def _execution_metrics(self, eid: int, rec: dict) -> None:
        opt = self._sql_store.execution(eid)
        if not opt.isDefined():
            return
        values = self._json(self._sql_store.executionMetrics(eid))
        nodes = self._json(self._sql_store.planGraph(eid).allNodes())
        for node in nodes:
            metrics = {m["name"]: values.get(str(m["accumulatorId"])) for m in node.get("metrics", [])}
            metrics = {k: parse_metric(v) for k, v in metrics.items() if v is not None}
            if "time to run Python workers" in metrics:
                rec["python.total_s"] += metrics["time to run Python workers"]
                rec["python.boot_s"] += metrics.get("time to start Python workers", 0.0)
                rec["python.data_sent_bytes"] += metrics.get("data sent to Python workers", 0.0)
                rec["python.rows_received"] += metrics.get("number of output rows", 0.0)
            rec["sinks.files_written"] += metrics.get("number of written files", 0.0)
            rec["sinks.bytes_written"] += metrics.get("written output", 0.0)

    def _streaming(self, events: list[str], rec: dict, sp: _Span) -> None:
        progress = [json.loads(e) for e in events]
        rec["streaming.triggers"] = len(progress)
        rec["streaming.no_data_triggers"] = sum(1 for p in progress if p.get("numInputRows", 0) == 0)
        rec["_phases"] = {
            key: [p["durationMs"][phase] for p in progress if phase in p.get("durationMs", {})]
            for key, phase in _PHASES.items()
        }
        last_state: dict[str, list] = {}
        for p in progress:
            ops = p.get("stateOperators") or []
            if ops:
                last_state[p["runId"]] = ops
            for s in ops:
                rec["state.commit_ms"] += s.get("commitTimeMs", 0)
                rec["state.update_ms"] += s.get("allUpdatesTimeMs", 0)
                rec["state.removal_ms"] += s.get("allRemovalsTimeMs", 0)
                rec["state.rows_dropped_by_watermark"] += s.get("numRowsDroppedByWatermark", 0)
        for ops in last_state.values():
            rec["state.rows_total"] += sum(s.get("numRowsTotal", 0) for s in ops)
            rec["state.memory_bytes"] += sum(s.get("memoryUsedBytes", 0) for s in ops)
        # operation wall time not spent inside any trigger of its queries:
        # fixture staging, stream start and stop, waiting for data
        outside = 0.0
        for op in (o for o in self.ops if sp.start <= o["start"] <= sp.end):
            per_query: dict[str, float] = {}
            for p in progress:
                started = _epoch(p["timestamp"])
                if op["start"] <= started <= op["end"]:
                    per_query[p["runId"]] = per_query.get(p["runId"], 0.0) + p["durationMs"].get("triggerExecution", 0) / 1000
            if per_query:
                outside += (op["end"] - op["start"]) - max(per_query.values())
        rec["streaming.outside_trigger_s"] = outside

    # --- summary -----------------------------------------------------------

    def finish(self, measured_rounds: list[dict]) -> dict[str, float]:
        """Per-layer metrics: the median over measured rounds of each
        per-round value; trigger-phase p50s over all their triggers."""
        out = {}
        for name in LAYER_METRICS:
            values = [r[name] for r in measured_rounds if name in r]
            out[name] = _p50(values)
        for key in _PHASES:
            out[key] = _p50([v for r in measured_rounds for v in r["_phases"][key]])
        return out

    def dump(self, path: str, metrics: dict, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "workload": self.workload,
                "metrics": metrics,
                "rounds": self.rounds,
                "spans": [s.record() for s in self.spans],
                **extra,
            }, f, indent=1, default=str)

    def close(self) -> None:
        try:
            self.spark.streams.removeListener(self._listener)
        except Exception as exc:  # the session may already be stopping
            print(f"perfbench: removing the listener: {exc!r}", file=sys.stderr)


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()
