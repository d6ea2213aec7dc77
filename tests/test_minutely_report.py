"""The two report paths against DuckDB: the streaming publisher
(``publish_minutely_reports``), which must run ONE Spark action per
micro-batch however many minutes the batch closes, and the extract
report (``status_pivot_report``), compared as whole dicts. Also the
warehouse layout both report paths read: every written file clustered
by ``event_type``."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StringType, StructField, StructType

from end2end_data_pipeline_spark.plans.report import status_pivot_report
from end2end_data_pipeline_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    publish_minutely_reports,
)

REPORT_KEYS = ["total_events", "total_errors", "by_event_type", "file_name"]


def _minute_rows(minutes: int) -> list[tuple]:
    """Events over ``minutes`` consecutive minutes from 12:30, written
    latest minute first, plus a 12:40 tail that moves the watermark
    past all of them, so they close together in one micro-batch. Each
    minute differs in its counts; minute 12:31 has a type whose only
    rows are PENDING (reported as 0/0)."""
    rows = []
    types = ("SEARCH", "CHECKOUT", "ADD_TO_CART")
    for m in reversed(range(minutes)):
        ts = dt.datetime(2024, 1, 1, 12, 30 + m, 20)
        for j, et in enumerate(types):
            for k in range(4 + m + j):
                status = "ERROR" if k % (2 + j) == 0 else "SUCCESS"
                rows.append((f"e{len(rows)}", "u", "s", et, ts, 50, status, None, None))
        if m == 1:
            rows.append(
                (f"e{len(rows)}", "u", "s", "PAYMENT", ts, 50, "PENDING", None, None)
            )
    tail = dt.datetime(2024, 1, 1, 12, 40, 0)
    rows.append((f"e{len(rows)}", "u", "s", "SEARCH", tail, 50, "SUCCESS", None, None))
    return rows


def _duck_reports(src: str) -> list[dict]:
    """The expected report of every minute before the tail, from
    DuckDB counts per (minute, event_type, status), in minute order."""
    con = duckdb.connect()
    counts = con.execute(
        "SELECT strftime(CAST(event_timestamp AS TIMESTAMP), '%Y-%m-%d_%H-%M') AS m, "
        "event_type, status, count(*) FROM read_parquet(?) "
        "WHERE event_timestamp < TIMESTAMP '2024-01-01 12:40:00' "
        "GROUP BY ALL ORDER BY m, event_type",
        [os.path.join(src, "*.parquet")],
    ).fetchall()
    con.close()
    by_minute: dict[str, dict] = {}
    for minute, etype, status, n in counts:
        cell = by_minute.setdefault(minute, {}).setdefault(
            etype, {"SUCCESS": 0, "ERROR": 0}
        )
        if status in cell:
            cell[status] = n
    return [
        {
            "report": {
                "total_events": sum(v["SUCCESS"] + v["ERROR"] for v in by_type.values()),
                "total_errors": sum(v["ERROR"] for v in by_type.values()),
                "by_event_type": by_type,
                "file_name": f"{minute}.json",
            }
        }
        for minute, by_type in sorted(by_minute.items())
    ]


def _newest_execution(spark) -> int:
    """Id of the newest SQL execution. Ids are a global counter, so
    a difference counts the executions started in between, even when
    the status store has trimmed old ones (``executionsCount`` stops
    growing at ``spark.sql.ui.retainedExecutions``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).head().executionId()


def _drain(spark, tmp_path, minutes: int):
    """One availableNow drain of a ``minutes``-minute fixture; returns
    (published reports, DuckDB reports, SQL executions per batch)."""
    src = str(tmp_path / f"src{minutes}")
    events = spark.createDataFrame(_minute_rows(minutes), EVENT_SCHEMA)
    events.coalesce(1).write.parquet(src)
    published: list[dict] = []
    before = _newest_execution(spark)
    q = publish_minutely_reports(
        spark, src, str(tmp_path / f"ckpt{minutes}"), published.append
    )
    q.awaitTermination(120)
    per_batch = (_newest_execution(spark) - before) / len(q.recentProgress)
    return published, _duck_reports(src), per_batch


@pytest.fixture(scope="module")
def drains(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("minutely")
    return {m: _drain(spark, tmp, m) for m in (1, 3)}


def test_closed_minutes_publish_in_minute_order_and_match_duckdb(drains):
    for minutes, (published, expected, _) in drains.items():
        names = [r["report"]["file_name"] for r in published]
        assert names == [f"2024-01-01_12-{30 + m}.json" for m in range(minutes)]
        assert published == expected
        for rep, exp in zip(published, expected):
            assert list(rep["report"]) == REPORT_KEYS
            assert list(rep["report"]["by_event_type"]) == list(
                exp["report"]["by_event_type"]
            )
    payment = drains[3][0][1]["report"]["by_event_type"]["PAYMENT"]
    assert payment == {"SUCCESS": 0, "ERROR": 0}


def test_sql_executions_per_batch_do_not_grow_with_closed_minutes(drains):
    one, three = drains[1][2], drains[3][2]
    assert three <= one, (one, three)


_REPORT_SCHEMA = StructType(
    [StructField("event_type", StringType()), StructField("status", StringType())]
)
_PIVOT_ROWS = (
    [(None, "SUCCESS")] * 3
    + [(None, "ERROR")]
    + [("PAYMENT", "PENDING")] * 2
    + [("CHECKOUT", "ERROR")] * 4
    + [("SEARCH", "SUCCESS")] * 5
    + [("SEARCH", "ERROR")] * 2
    + [("SEARCH", None)]
    + [("ADD_TO_CART", "SUCCESS")]
)


def _duck_report(rows: list[tuple], file_name: str, process_time) -> dict:
    table = pa.table(
        {"event_type": [r[0] for r in rows], "status": [r[1] for r in rows]},
        schema=pa.schema([("event_type", pa.string()), ("status", pa.string())]),
    )
    con = duckdb.connect()
    con.register("t", table)
    counts = con.execute(
        "SELECT event_type, count(*) FILTER (WHERE status = 'SUCCESS'), "
        "count(*) FILTER (WHERE status = 'ERROR') FROM t "
        "GROUP BY event_type ORDER BY event_type NULLS FIRST"
    ).fetchall()
    con.close()
    if not counts:
        return {"report": f"No data for {file_name.rsplit('.', 1)[0]}."}
    return {
        "report": {
            "total_events": sum(s + e for _, s, e in counts),
            "total_errors": sum(e for _, _, e in counts),
            "by_event_type": {t: {"SUCCESS": s, "ERROR": e} for t, s, e in counts},
            "process_time": process_time,
            "file_name": file_name,
        }
    }


def test_status_pivot_report_matches_duckdb_filter_counts(spark):
    got = status_pivot_report(
        spark.createDataFrame(_PIVOT_ROWS, _REPORT_SCHEMA), "2024-01-01_12-30.json"
    )
    body = got["report"]
    assert isinstance(body["process_time"], float) and body["process_time"] >= 0
    expected = _duck_report(_PIVOT_ROWS, "2024-01-01_12-30.json", body["process_time"])
    assert got == expected
    assert list(body) == list(expected["report"])
    assert list(body["by_event_type"]) == [None, "ADD_TO_CART", "CHECKOUT", "PAYMENT",
                                          "SEARCH"]
    assert body["by_event_type"]["PAYMENT"] == {"SUCCESS": 0, "ERROR": 0}
    assert body["by_event_type"]["CHECKOUT"] == {"SUCCESS": 0, "ERROR": 4}


def test_status_pivot_report_no_data_matches_duckdb(spark):
    got = status_pivot_report(
        spark.createDataFrame([], _REPORT_SCHEMA), "2024-01-01_12-31.json"
    )
    assert got == _duck_report([], "2024-01-01_12-31.json", None)
    assert got == {"report": "No data for 2024-01-01_12-31."}


def _unsorted_files(root: str) -> tuple[int, list[str]]:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
    unsorted = []
    for f in files:
        types = pq.read_table(f, columns=["event_type"]).column(0).to_pylist()
        if types != sorted(types):
            unsorted.append(f)
    return len(files), unsorted


def test_write_warehouse_files_are_clustered_by_event_type(spark, tmp_path):
    from end2end_data_pipeline_spark.sources.generator import (
        generate_events,
        write_warehouse,
    )

    path = str(tmp_path / "warehouse")
    write_warehouse(generate_events(spark, 3_000, seed=5, events_per_second=10), path)
    n_files, unsorted = _unsorted_files(path)
    assert n_files >= 5
    assert unsorted == []


def test_day1_minute_warehouse_files_are_clustered_by_event_type(spark, sf_dir):
    from end2end_data_pipeline_spark.operators.warehouse_ops import (
        day1_minute_warehouse,
    )

    n_files, unsorted = _unsorted_files(
        day1_minute_warehouse(spark, sf_dir)
    )
    assert n_files > 0
    assert unsorted == []
