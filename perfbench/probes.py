"""Black-box probes: spans recorded around calls into the engine's
layers, plus readers for Spark's public status APIs.

Nothing here changes engine code. The traced run wraps
``DataFrameReader.parquet`` (every table load goes through it) and
reads, per job group, the status store's stage and task records, the
query's planning-phase tracker, its executed plan's SQL metrics, the
storage status and the streaming ``recentProgress``.

Spans live in memory (name, start, end, parent, request id) and are
written out once, when the benchmark ends.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython", "FlatMapGroupsInPandas")


class Tracer:
    """In-memory span recorder. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        # (request id, start, end) of intervals the JVM reported
        self.measured: list[tuple[str, float, float]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float, rid: str | None = None,
            parent: int | None = None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "rid": rid}
            )
        return sid

    @contextmanager
    def span(self, name: str, rid: str | None = None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        if parent is None:
            parent = self.current()
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        sid = self.add(name, time.time(), 0.0, rid, parent)
        self._stack().append(sid)
        try:
            yield sid
        finally:
            self._stack().pop()
            self.spans[sid]["end"] = time.time()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += value

    def measure(self, rid: str, intervals) -> None:
        if self.enabled:
            with self._lock:
                self.measured.extend((rid, a, b) for a, b in intervals)

    def peak(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = max(self.counts[name], value)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "measured": self.measured, "counts": dict(self.counts)}, f
            )

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus the time its own
        children cover (children never overlap one another)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)


def wrap_parquet_reader(tracer: Tracer) -> None:
    """Record a ``sources.read`` span and count for every
    ``DataFrameReader.parquet`` call made inside a traced request
    (set-up warm-ups are not part of any request)."""
    from pyspark.sql.readwriter import DataFrameReader

    original = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        if tracer.current() is None:
            return original(self, *paths, **options)
        with tracer.span("sources.read"):
            tracer.count("sources.read.calls")
            return original(self, *paths, **options)

    DataFrameReader.parquet = parquet


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def _minus(intervals, cover):
    """Parts of ``intervals`` not covered by the (unioned) ``cover``."""
    out = []
    for a, b in intervals:
        cur = a
        for c, d in cover:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


class SparkProbe:
    """Readers for one session's status APIs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.gw = self.sc._gateway

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        store = self.jsc.statusStore()
        out = []
        for j in job_ids:
            job = store.job(j)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out.append(
                    (job.submissionTime().get().getTime() / 1000.0,
                     job.completionTime().get().getTime() / 1000.0)
                )
        return out

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Sums over the completed stages of these jobs."""
        store = self.jsc.statusStore()
        empty = self.gw.jvm.java.util.ArrayList()
        no_q = self.gw.new_array(self.gw.jvm.double, 0)
        t: dict[str, float] = defaultdict(float)
        t["jobs"] = len(job_ids)
        seen = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, empty, False, no_q)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() != "COMPLETE":
                        continue
                    t["stages"] += 1
                    t["tasks"] += st.numTasks()
                    t["task_run_s"] += st.executorRunTime() / 1000.0
                    t["task_cpu_s"] += st.executorCpuTime() / 1e9
                    t["gc_s"] += st.jvmGcTime() / 1000.0
                    t["deser_s"] += st.executorDeserializeTime() / 1000.0
                    t["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                    t["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    t["spill_mb"] += st.diskBytesSpilled() / MB
                    t["input_mb"] += st.inputBytes() / MB
                    t["peak_exec_mem_mb"] = max(
                        t["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
                    )
                    tasks = store.taskList(sid, st.attemptId(), 100_000)
                    for k in range(tasks.size()):
                        t["sched_wait_s"] += tasks.apply(k).schedulerDelay() / 1000.0
        return dict(t)

    @staticmethod
    def plan_phases(df) -> dict[str, tuple[float, float]]:
        """Catalyst phase name -> (start, end) in epoch seconds."""
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        out = {}
        while it.hasNext():
            entry = it.next()
            summary = entry._2()
            start = summary.startTimeMs() / 1000.0
            out[entry._1()] = (start, start + summary.durationMs() / 1000.0)
        return out

    def python_metrics(self, df) -> dict[str, float]:
        """SQL metrics of the Python-boundary nodes in the executed plan."""
        conv = self.gw.jvm.scala.jdk.javaapi.CollectionConverters
        out: dict[str, float] = defaultdict(float)
        root = df._jdf.queryExecution().executedPlan()
        if not any(name in root.toString() for name in PYTHON_NODES):
            return {}  # one call instead of a node-by-node walk
        todo = [root]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls.startswith("ReusedExchange"):
                todo.append(node.child())
                continue
            if node.nodeName().startswith(PYTHON_NODES):
                metrics = conv.asJava(node.metrics())
                for key in metrics.keySet():
                    desc = metrics.get(key).name().get()
                    value = metrics.get(key).value()
                    if desc == "time to run Python workers":
                        out["python_total_s"] += value / 1000.0
                    elif desc == "time to start Python workers":
                        out["python_boot_s"] += value / 1000.0
                    elif desc == "number of output rows":
                        out["python_rows"] += value
            todo.extend(conv.asJava(node.children()))
        return dict(out)

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs with cached blocks, their memory+disk MB)."""
        infos = self.jsc.getRDDStorageInfo()
        entries = [r for r in infos if r.numCachedPartitions() > 0]
        return len(entries), sum(r.memSize() + r.diskSize() for r in entries) / MB

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def executions_after(self, after_execution: int, limit: int = 500) -> list:
        """SQL executions with an id above ``after_execution``, among
        the newest ``limit`` the store holds (oldest first)."""
        store = self._sql_store()
        n = store.executionsCount()
        execs = store.executionsList(max(n - limit, 0), limit)
        out = [execs.apply(i) for i in range(execs.size())]
        return [ex for ex in out if ex.executionId() > after_execution]

    def newest_execution(self) -> int:
        newest = self.executions_after(-1, 1)
        return newest[-1].executionId() if newest else -1

    def execution_intervals(self, after_execution: int) -> list[tuple[float, float]]:
        """(submission, completion) of the finished SQL executions
        newer than ``after_execution``, in epoch seconds."""
        out = []
        for ex in self.executions_after(after_execution):
            done = ex.completionTime()
            if done.isDefined():
                out.append((ex.submissionTime() / 1000.0, done.get().getTime() / 1000.0))
        return out

    def sql_metric_total(self, after_execution: int, name: str) -> float:
        """Sum of one SQL metric over executions newer than
        ``after_execution``."""
        store = self._sql_store()
        total = 0.0
        for ex in self.executions_after(after_execution):
            eid = ex.executionId()
            values = store.executionMetrics(eid)
            ids = set()
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == name and m.accumulatorId() not in ids:
                    ids.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += _first_number(v.get())
        return total


def _first_number(text: str) -> float:
    """A rendered SQL metric ('1,234' or 'total ...\\n12 (...)') as a number."""
    for line in reversed(text.splitlines()):
        m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)", line)
        if m:
            return float(m.group(1).replace(",", ""))
    return 0.0


def record_jvm(tracer: Tracer, probe: SparkProbe, rid: str, group: str,
               after_execution: int) -> list[int]:
    """Record, for the reconciliation, the intervals the JVM reported
    for one request: its job group's jobs and the SQL executions that
    began after ``after_execution``. Returns the group's job ids."""
    jobs = probe.job_ids(group)
    tracer.measure(rid, probe.job_intervals(jobs))
    tracer.measure(rid, probe.execution_intervals(after_execution))
    return jobs


def query_layers(tracer: Tracer, probe: SparkProbe, group: str, df, fetch_id: int,
                 build_jobs: int, after_execution: int) -> None:
    """Attach the JVM-side layers of one query to the trace: the plan
    phases and the Spark jobs that ran while the result was fetched
    become child spans of the fetch span, and the group's stage, plan
    and Python metrics are added to the counters."""
    fetch = tracer.spans[fetch_id]
    rid, lo, hi = fetch["rid"], fetch["start"], fetch["end"]
    jobs = record_jvm(tracer, probe, rid, group, after_execution)
    job_iv = union(clip(probe.job_intervals(jobs), lo, hi))
    phases = probe.plan_phases(df)
    tracer.measure(rid, phases.values())
    plan_iv = _minus(
        union(clip([v for k, v in phases.items() if k != "analysis"], lo, hi)), job_iv
    )
    for a, b in job_iv:
        tracer.add("operators.exec", a, b, rid, fetch_id)
    for a, b in plan_iv:
        tracer.add("operators.plan", a, b, rid, fetch_id)
    for phase in ("analysis", "optimization", "planning"):
        if phase in phases:
            a, b = phases[phase]
            tracer.count(f"operators.plan.{phase}_ms", (b - a) * 1000.0)
    tracer.count("operators.build.jobs", build_jobs)
    for key, value in probe.stage_totals(jobs).items():
        if key == "peak_exec_mem_mb":
            tracer.peak("operators.exec.peak_exec_mem_mb", value)
        else:
            tracer.count(f"operators.exec.{key}", value)
    for key, value in probe.python_metrics(df).items():
        tracer.count(f"operators.exec.{key}", value)
    entries, mb = probe.storage()
    tracer.peak("operators.memo.entries", entries)
    tracer.peak("operators.memo.mb", mb)
