"""The benchmark's workloads. Each takes a ``run.Run``, sets up its
session, measures, checks every answer and fills ``run.e2e``."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from datetime import datetime, timedelta, timezone

from perfbench.fixtures import OracleCache, answer_digest, build_tables
from perfbench.probes import SparkProbe, query_layers, record_jvm
from perfbench.run import WORK

INTERACTIVE_SF = 0.01
# Seven of the 26-query interactive mix: two joins, a golden-record
# merge, a distinct-count report and three event analytics, at warm
# latencies of 0.75 s ... 0.25 s at sf0.01 on local[4] (about 3.5 s a
# pass). Few distinct queries keep the cold pass short, so it and the
# warm passes fit a run together with its three JVM launches. The count
# is odd on purpose: the samples cluster by query, and with an odd
# count the median falls inside the middle query's cluster instead of
# in the gap between two clusters, where it jumped from run to run.
INTERACTIVE = (
    "q11_important_stock q3_shipping_priority customer_golden_record "
    "segment_distinct_buyers event_status_pivot event_error_rate q6_forecast_revenue"
).split()

# ``--seconds`` buys a fixed amount of work at these nominal costs, so
# the number of latency samples depends on ``--seconds`` alone and
# never on how fast the code under test runs.
# interactive_mix: seconds per measured warm pass, counting the cold
# and warm-up passes in; 20 s buys 3 passes, 21 samples.
WARM_PASS_S = 6.5
# untimed passes between the cold pass and the measured ones: in a
# fresh JVM each pass is still 10-20% faster than the one before, as
# the JIT compiles, and a contended host stretches that slope
WARMUP_PASSES = 1
# minutely_pipeline: seconds per landed minute; 20 s buys 16 minutes,
# one file and one drain each (a drain takes ~1.1-2 s). Then
# write_warehouse (first_pass_s is the median of WAREHOUSE_WRITES
# overwriting writes; one ~1 s write alone spread too much) and
# closed-loop extract ticks.
DRAIN_S = 1.25
MIN_MINUTES = 4
EVENTS_PER_SECOND = 20
WAREHOUSE_WRITES = 3
EXTRACT_TICKS = 8


def interactive_fixture() -> str:
    return build_tables(os.path.join(WORK, f"sf{INTERACTIVE_SF}"), INTERACTIVE_SF)


def interactive_mix(run) -> None:
    """One warm session and one closed-loop client: a cold first pass,
    WARMUP_PASSES untimed passes, then whole warm passes, as many as
    ``run.seconds`` buys at WARM_PASS_S each (at least one). Every pass
    runs the queries in a seeded order, and every answer is checked."""
    import __spark_entry__ as entry

    names = INTERACTIVE
    sf_dir = interactive_fixture()
    queries, oracle_sql = entry.queries(), entry.oracle_sql()
    oracle = OracleCache(os.path.join(sf_dir, "oracle.json"), sf_dir)
    expected = {n: oracle.expected(n, oracle_sql[n]) for n in names}

    run.start_session()
    probe = SparkProbe(run.spark) if run.tracer.enabled else None
    rng = random.Random(run.seed)

    def one_pass(p: int) -> list[float]:
        order = list(names)
        rng.shuffle(order)
        return [
            run_query(run, probe, queries[n], n, p, sf_dir, expected[n]) for n in order
        ]

    run.e2e["first_pass_s"] = sum(one_pass(0))
    for p in range(1, WARMUP_PASSES + 1):
        one_pass(p)
    warm: list[float] = []
    for p in range(1, max(1, round(run.seconds / WARM_PASS_S)) + 1):
        warm += one_pass(WARMUP_PASSES + p)
    latency_summary(run, warm)
    run.e2e["queries_per_min"] = 60.0 * len(warm) / sum(warm)


def latency_summary(run, samples: list[float]) -> None:
    run.e2e["latency_p50_s"] = statistics.median(samples)
    run.notes["latency_samples"] = len(samples)


def run_query(run, probe, fn, name: str, p: int, sf_dir: str, expected: dict) -> float:
    """One query from the call until its rows are back at the caller;
    the answer is checked outside the timed region."""
    spark, tracer = run.spark, run.tracer
    rid = f"{run.workload}/{p}/{name}"
    spark.sparkContext.setJobGroup(rid, rid)
    last_exec = probe.newest_execution() if probe else -1
    t0 = time.perf_counter()
    rows, fetch_id = None, None
    try:
        with tracer.span("request", rid):
            with tracer.span("operators.build"):
                df = fn(spark, sf_dir)
            with tracer.span("operators.result") as fetch_id:
                rows = df.collect()
    except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
        run.check(False, f"{rid}: {type(exc).__name__}: {str(exc)[:200]}")
    wall = time.perf_counter() - t0
    if rows is None:
        return wall
    got = answer_digest(list(df.columns), [tuple(r) for r in rows])
    run.check(
        got["rows"] == expected["rows"] and got["digest"] == expected["digest"],
        f"{rid}: {got['rows']} rows vs oracle {expected['rows']}",
    )
    if probe is not None:
        tracer.count("operators.result.rows", len(rows))
        fetch_start = tracer.spans[fetch_id]["start"]
        build_jobs = sum(
            1 for a, _ in probe.job_intervals(probe.job_ids(rid)) if a < fetch_start
        )
        query_layers(tracer, probe, rid, df, fetch_id, build_jobs, last_exec)
    return wall


def minutely_pipeline(run) -> None:
    """Minute files landed and drained one at a time by the streaming
    report loop, then the batch path: ``write_warehouse`` and
    closed-loop extract ticks."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from end2end_data_pipeline_spark.plans.report import status_pivot_report
    from end2end_data_pipeline_spark.plans.report_service import (
        ReportStoreServer,
        get_latest_report,
        push_report,
    )
    from end2end_data_pipeline_spark.sources.generator import generate_events, write_warehouse
    from end2end_data_pipeline_spark.streaming.pipeline import EVENT_SCHEMA

    base = os.path.join(WORK, f"pipeline-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    stage, land, ckpt, wh = (os.path.join(base, d) for d in ("stage", "land", "ckpt", "wh"))
    os.makedirs(stage)
    os.makedirs(land)

    n_events = max(MIN_MINUTES, round(run.seconds / DRAIN_S)) * 60 * EVENTS_PER_SECOND

    def events(spark):
        return generate_events(
            spark, n_events, seed=run.seed, events_per_second=EVENTS_PER_SECOND
        )

    run.start_session()
    spark, tracer = run.spark, run.tracer
    try:
        # stage one parquet file per simulated minute (untimed)
        table = events(spark).toArrow()
        cols = [f.name for f in EVENT_SCHEMA.fields]
        minutes = sorted(pc.unique(table["event_minute"]).to_pylist())
        for i, m in enumerate(minutes):
            part = table.filter(pc.equal(table["event_minute"], m)).select(cols)
            pq.write_table(part, os.path.join(stage, f"minute-{i:03d}.parquet"))
        con = duckdb.connect()
        expected: dict[str, dict] = {}
        for minute, etype, status, n in con.execute(
            "SELECT strftime(CAST(event_timestamp AS TIMESTAMP), '%Y-%m-%d_%H-%M'), "
            "event_type, status, count(*) FROM read_parquet(?) GROUP BY ALL",
            [os.path.join(stage, "*.parquet")],
        ).fetchall():
            by_type = expected.setdefault(minute, {})
            by_type.setdefault(etype, {"SUCCESS": 0, "ERROR": 0})[status] = n
        con.close()
        names = [m.strftime("%Y-%m-%d_%H-%M") for m in minutes]

        with ReportStoreServer() as server:
            lags = stream_phase(run, server.url, stage, land, ckpt, expected, names)
            latency_summary(run, lags)

            probe = SparkProbe(spark) if tracer.enabled else None
            writes = []
            for k in range(WAREHOUSE_WRITES):
                rid = f"{run.workload}/warehouse/{k}"
                spark.sparkContext.setJobGroup(rid, rid)
                last_exec = probe.newest_execution() if probe else -1
                with tracer.span("request", rid):
                    with tracer.span("sources.warehouse.write"):
                        t0 = time.perf_counter()
                        write_warehouse(events(spark), wh)
                        writes.append(time.perf_counter() - t0)
                if probe is not None:
                    record_jvm(tracer, probe, rid, rid, last_exec)
            run.e2e["first_pass_s"] = statistics.median(writes)
            if probe is not None:
                files = [
                    os.path.join(d, f)
                    for d, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")
                ]
                size = sum(os.path.getsize(f) for f in files)
                tracer.count("sources.warehouse.files", len(files))
                tracer.count("sources.warehouse.mb", size / 1024.0 / 1024.0)
                tracer.count("sources.warehouse.bytes_per_row", size / n_events)

            rng = random.Random(run.seed)
            order = [rng.randrange(len(minutes)) for _ in range(EXTRACT_TICKS)]
            walls = []
            for k, i in enumerate(order):
                rid = f"{run.workload}/tick/{k}"
                spark.sparkContext.setJobGroup(rid, rid)
                last_exec = probe.newest_execution() if probe else -1
                t0 = time.perf_counter()
                report = got = None
                try:
                    with tracer.span("request", rid):
                        with tracer.span("sources.warehouse.extract"):
                            ext = (
                                spark.read.parquet(wh)
                                .where(F.col("event_minute") == F.lit(minutes[i]))
                                .select("event_type", "status")
                            )
                        with tracer.span("plans.report.pivot"):
                            report = status_pivot_report(ext, names[i] + ".json")
                        with tracer.span("plans.report_service.push"):
                            push_report(server.url, report)
                        with tracer.span("plans.report_service.get"):
                            got = get_latest_report(server.url)
                except Exception as exc:  # noqa: BLE001 — counted as a failure
                    run.check(False, f"{rid}: {type(exc).__name__}: {str(exc)[:200]}")
                walls.append(time.perf_counter() - t0)
                if got is not None:
                    run.check(
                        got == report and report_matches(report, expected[names[i]]),
                        f"{rid}: extract report for {names[i]} differs from DuckDB",
                    )
                if probe is not None:
                    record_jvm(tracer, probe, rid, rid, last_exec)
                    files_read = probe.sql_metric_total(last_exec, "number of files read")
                    tracer.count("sources.warehouse.files_read", files_read / EXTRACT_TICKS)
            run.e2e["queries_per_min"] = 60.0 * len(walls) / sum(walls)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def report_matches(report: dict, by_type: dict) -> bool:
    body = report.get("report")
    if not isinstance(body, dict):
        return False
    return (
        body["by_event_type"] == by_type
        and body["total_events"] == sum(v["SUCCESS"] + v["ERROR"] for v in by_type.values())
        and body["total_errors"] == sum(v["ERROR"] for v in by_type.values())
    )


def stream_phase(run, url, stage, land, ckpt, expected, names) -> list[float]:
    """Land the staged files one at a time, each followed by a drain
    (closed loop); returns each file's lag from its landing to the end
    of the drain that published what it closed."""
    from end2end_data_pipeline_spark.plans.report_service import (
        ReportPushError,
        make_report_publisher,
    )
    from end2end_data_pipeline_spark.streaming.pipeline import publish_minutely_reports

    spark, tracer = run.spark, run.tracer
    publisher = make_report_publisher(url)
    published: list[dict] = []
    drain_span = [None]

    def publish(report):
        with tracer.span("plans.report_service.push", parent=drain_span[0]):
            try:
                publisher(report)
            except ReportPushError:
                tracer.count("plans.report_service.push_failed")
                raise
        published.append(report)

    lags: list[float] = []
    watermark = None
    for k, f in enumerate(sorted(os.listdir(stage))):
        t0 = time.perf_counter()
        rid = f"{run.workload}/drain/{k}"
        with tracer.span("request", rid):
            os.replace(os.path.join(stage, f), os.path.join(land, f))
            with tracer.span("streaming.drain") as sid:
                drain_span[0] = sid
                with tracer.span("streaming.start"):
                    query = publish_minutely_reports(
                        spark, land, ckpt, publish, available_now=True
                    )
                query.awaitTermination()
        lags.append(time.perf_counter() - t0)
        progress = query.recentProgress
        watermark = streaming_counters(tracer, progress, lags[-1]) or watermark
        tracer.measure(rid, trigger_intervals(progress))

    # every report equals DuckDB's counts; every minute the watermark
    # closed is published exactly once; later minutes are still open
    for rep in published:
        minute = rep["report"]["file_name"].rsplit(".", 1)[0]
        run.check(minute in expected and report_matches(rep, expected[minute]),
                  f"streamed report for {minute} differs from DuckDB")
    got = [r["report"]["file_name"].rsplit(".", 1)[0] for r in published]
    closed = [n for n in names if watermark and n <= watermark]
    for n in closed:
        run.check(got.count(n) == 1, f"closed minute {n} published {got.count(n)} times")
    run.notes["minutes_closed"] = len(closed)
    run.notes["minutes_open"] = len(names) - len(closed)
    return lags


def trigger_intervals(progress) -> list[tuple[float, float]]:
    """(start, end) of each trigger, in epoch seconds, as the streaming
    query reported them."""
    out = []
    for p in progress:
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=timezone.utc).timestamp()
        out.append((start, start + p.durationMs.get("triggerExecution", 0) / 1000.0))
    return out


def streaming_counters(tracer, progress, drain_wall: float) -> str | None:
    """Fold one drain's ``recentProgress`` into the streaming counters;
    returns the last minute the final watermark closed, as a report
    name, or None when no watermark was reported."""
    trigger_s = 0.0
    watermark = None
    for p in progress:
        d = p.durationMs
        trigger_s += d.get("triggerExecution", 0) / 1000.0
        tracer.count("streaming.batches")
        tracer.count("streaming.input_rows", p.numInputRows)
        tracer.count("streaming.trigger_ms", d.get("triggerExecution", 0))
        tracer.count("streaming.add_batch_ms", d.get("addBatch", 0))
        tracer.count("streaming.planning_ms", d.get("queryPlanning", 0))
        tracer.count("streaming.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
        for op in p.stateOperators:
            tracer.count("streaming.rows_dropped_by_watermark", op.numRowsDroppedByWatermark)
            tracer.peak("streaming.state_rows", op.numRowsTotal)
            tracer.peak("streaming.state_mem_mb", op.memoryUsedBytes / 1024.0 / 1024.0)
        wm = (p.eventTime or {}).get("watermark")
        if wm:
            watermark = wm
    tracer.count("streaming.drains")
    tracer.count("streaming.lifecycle_s", drain_wall - trigger_s)
    if watermark is None:
        return None
    # a window [m, m + 1 min) is closed once m + 1 min <= watermark
    last_closed = datetime.strptime(watermark[:19], "%Y-%m-%dT%H:%M:%S") - timedelta(minutes=1)
    return last_closed.strftime("%Y-%m-%d_%H-%M")


WORKLOADS = {
    "interactive_mix": interactive_mix,
    "minutely_pipeline": minutely_pipeline,
}
