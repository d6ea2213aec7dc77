"""Layered benchmark for the engine on one host.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``interactive_mix``: one warm session, one closed-loop client, 7
  relational/reporting queries over a generated sf0.01 star schema.
- ``minutely_pipeline``: the reference's minutely path — seeded
  ``generate_events`` output lands one file per simulated minute, and
  each landing is drained by ``publish_minutely_reports`` into a
  ``ReportStoreServer``; the same events then go through
  ``write_warehouse`` and a closed loop of per-minute extract ticks.

Every answer is checked (DuckDB oracle for queries, DuckDB counts over
the staged files for the pipeline). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` records spans at each layer boundary
and prints the per-layer metrics instead. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Run
artefacts (fixtures, oracle answers, traces) go to ``.perfbench_work/``
under the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
# no hsperfdata files outside the checkout; the heap keeps the engine's
# default size (spark.driver.memory from session.get_spark)
DRIVER_JAVA_OPTS = "-XX:-UsePerfData"
# set-ups per run, each in a freshly launched JVM; setup_s is their median
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "queries_per_min": "1/min",
    "first_pass_s": "s",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.read.calls": "count",
    "sources.read.s": "s",
    "operators.build.s": "s",
    "operators.build.jobs": "count",
    "operators.plan.analysis_ms": "ms",
    "operators.plan.optimization_ms": "ms",
    "operators.plan.planning_ms": "ms",
    "operators.plan.s": "s",
    "operators.exec.s": "s",
    "operators.exec.jobs": "count",
    "operators.exec.stages": "count",
    "operators.exec.tasks": "count",
    "operators.exec.task_run_s": "s",
    "operators.exec.task_cpu_s": "s",
    "operators.exec.gc_s": "s",
    "operators.exec.deser_s": "s",
    "operators.exec.sched_wait_s": "s",
    "operators.exec.shuffle_read_mb": "MB",
    "operators.exec.shuffle_write_mb": "MB",
    "operators.exec.spill_mb": "MB",
    "operators.exec.input_mb": "MB",
    "operators.exec.peak_exec_mem_mb": "MB",
    "operators.exec.python_total_s": "s",
    "operators.exec.python_boot_s": "s",
    "operators.exec.python_rows": "count",
    "operators.memo.entries": "count",
    "operators.memo.mb": "MB",
    "operators.result.s": "s",
    "operators.result.rows": "count",
    "streaming.drains": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.lifecycle_s": "s",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "sources.warehouse.write_s": "s",
    "sources.warehouse.files": "count",
    "sources.warehouse.mb": "MB",
    "sources.warehouse.bytes_per_row": "B",
    "sources.warehouse.files_read": "count",
    "sources.warehouse.extract_s": "s",
    "plans.report.pivot_s": "s",
    "plans.report_service.push_s": "s",
    "plans.report_service.get_s": "s",
    "plans.report_service.push_failed": "count",
    "trace.read_build_pct": "%",
    "trace.unattributed_pct": "%",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}

# spans around a single call into a layer, each a term of the
# reconciliation in its own right (spans that wrap a whole request body
# are not: they would cover it by construction)
MEASURED_SPANS = {
    "sources.read",
    "streaming.start",
    "plans.report_service.push",
    "plans.report_service.get",
}

# span names whose self time is charged to a per-layer "... .s" metric
SPAN_METRICS = {
    "sources.read": "sources.read.s",
    "operators.build": "operators.build.s",
    "operators.plan": "operators.plan.s",
    "operators.exec": "operators.exec.s",
    "operators.result": "operators.result.s",
    "sources.warehouse.write": "sources.warehouse.write_s",
    "sources.warehouse.extract": "sources.warehouse.extract_s",
    "plans.report.pivot": "plans.report.pivot_s",
    "plans.report_service.push": "plans.report_service.push_s",
    "plans.report_service.get": "plans.report_service.get_s",
}


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs; its growth during a run marks a contended run."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def canary_s(spark) -> float:
    """A fixed JVM-only job (no I/O, no Python, no shuffle): its time
    depends only on how fast and how contended the machine is."""
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, CPUS).selectExpr("avg(xxhash64(id)) AS h").collect()
        wall = time.perf_counter() - t0
        best = wall if best is None else min(best, wall)
    return best


class Run:
    """Shared state of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        from perfbench.probes import Tracer

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.notes: dict[str, object] = {}
        self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def start_session(self) -> None:
        """Set up SETUPS times, each a JVM launch and the engine's
        session start (``get_spark``), and keep the last session;
        setup_s is the median. The engine has no warm-up step of its
        own, so a fresh JVM's first job is paid by the workload."""
        from end2end_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": (
                f"{DRIVER_JAVA_OPTS} -Djava.io.tmpdir={tempfile.gettempdir()}"
            ),
        }
        walls = []
        for _ in range(SETUPS):
            self.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{CPUS}]",
                shuffle_partitions=CPUS,
                extra_conf=conf,
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            walls.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = statistics.median(walls)
        self.tracer.count("session.start_s", statistics.median(walls))
        self.notes["setup_walls_s"] = [round(w, 3) for w in walls]

    def stop(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has
        exited, so the next ``get_spark`` launches a new one."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def metrics(self) -> dict[str, dict]:
        # peak RSS is a per-layer figure, not an end-to-end one: with the
        # engine's default 12g heap, G1 sizes the heap from GC timing, and
        # on a 4-core VM shared with other tenants its spread over ten
        # runs reached 0.25, the largest bound an end-to-end metric may have
        rss = peak_rss_mb(self.spark)
        self.notes["peak_rss_mb"] = round(rss, 1)
        self.tracer.count("session.peak_rss_mb", rss)
        self.e2e["ok_frac"] = (self.attempted - self.failed) / max(self.attempted, 1)
        if not self.tracer.enabled:
            return {k: {"value": self.e2e[k], "unit": u} for k, u in END_TO_END.items()}
        counts = dict(self.tracer.counts)
        for name, secs in self.tracer.self_times().items():
            if name in SPAN_METRICS:
                counts[SPAN_METRICS[name]] = counts.get(SPAN_METRICS[name], 0.0) + secs
        counts.update(self.layer_shares())
        for k in END_TO_END:
            counts[f"traced.{k}"] = self.e2e[k]
        return {k: {"value": counts.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}

    def layer_shares(self) -> dict[str, float]:
        """Reconciliation of the layer terms with the request walls.

        Each request's wall is its own span. The terms set against it
        are measured on their own, never as what is left of a wall:
        spans around single calls into a layer (MEASURED_SPANS) and
        intervals the JVM reported (Catalyst phases, jobs, SQL
        executions, streaming triggers). Their union inside the wall is
        the covered part; the rest is unattributed. Also the share of
        request time in table reads plus query build (read spans nest
        inside build spans, so the two self times do not overlap)."""
        from perfbench.probes import clip, union

        spans = self.tracer.spans
        terms: dict[str, list] = {}
        for s in spans:
            if s["name"] in MEASURED_SPANS:
                terms.setdefault(s["rid"], []).append((s["start"], s["end"]))
        for rid, a, b in self.tracer.measured:
            terms.setdefault(rid, []).append((a, b))
        wall = covered = 0.0
        for s in spans:
            if s["name"] == "request":
                wall += s["end"] - s["start"]
                inside = union(clip(terms.get(s["rid"], []), s["start"], s["end"]))
                covered += sum(b - a for a, b in inside)
        wall = wall or 1.0
        selfs = self.tracer.self_times()
        read_build = selfs.get("sources.read", 0.0) + selfs.get("operators.build", 0.0)
        return {
            "trace.unattributed_pct": 100.0 * (wall - covered) / wall,
            "trace.read_build_pct": 100.0 * read_build / wall,
        }


def environment(run: Run, load_start, steal_start: float) -> dict:
    spark = run.spark
    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.tracer.enabled),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "loadavg_start_1m": round(load_start[0], 2),
        "loadavg_end_1m": round(os.getloadavg()[0], 2),
        "cpu_steal_s": round(cpu_steal_s() - steal_start, 2),
        "canary_s": round(canary_s(spark), 4),
        **run.notes,
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # pinned so every run measures the same posture; Spark, the engine
    # and the JVM keep their scratch inside the checkout
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_SQL_CONF", None)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    load_start, steal_start = os.getloadavg(), cpu_steal_s()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    if run.tracer.enabled:
        from perfbench.probes import wrap_parquet_reader

        wrap_parquet_reader(run.tracer)
    try:
        workloads.WORKLOADS[args.workload](run)
        metrics = run.metrics()
        env = environment(run, load_start, steal_start)
        if run.tracer.enabled:
            run.tracer.dump(
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
            )
    finally:
        run.stop()
    print(json.dumps({"env": env, "failures": run.failures[:20]}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
