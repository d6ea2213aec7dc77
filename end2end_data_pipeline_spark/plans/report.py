"""Report shim — the reference's JSON analysis report reproduced from
engine DataFrames (``airflow/dags/spark.py:23-46,86-97``; golden shape
``airflow/tests/common.py:23-37``):

    {"report": {"total_events": int, "total_errors": int,
                "by_event_type": {type: {"SUCCESS": n, "ERROR": n}},
                "process_time": float, "file_name": str}}

No-data variant: {"report": "No data for <ts>."} (spark.py:71).

The DataFrame is the engine-level result; this dict is presentation.
The only driver-side collection is O(#event_types) — never rows.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The statuses a report counts; a type whose rows carry only other
# statuses still appears, as 0/0.
REPORT_STATUSES = ("SUCCESS", "ERROR")


def status_pivot_report(
    events: DataFrame, file_name: str = "report.json"
) -> dict[str, Any]:
    """Build the reference's report dict from an events DataFrame that
    has ``event_type`` and ``status`` columns. One aggregation action:
    per-type conditional counts, so there is no pivot (its two-level
    aggregate) and no range sort (the O(#event_types) result is
    ordered on the driver); totals derive from that result instead of
    a second scan (the reference runs count() + agg over a cached
    scan — spark.py:24-34)."""
    t0 = time.perf_counter()
    rows = (
        events.groupBy("event_type")
        .agg(
            *(
                F.count(F.when(F.col("status") == s, 1)).alias(s)
                for s in REPORT_STATUSES
            )
        )
        .collect()
    )
    by_type = {r["event_type"]: {s: r[s] for s in REPORT_STATUSES} for r in rows}
    return report_dict(by_type, file_name, round(time.perf_counter() - t0, 5))


def report_dict(
    by_type: dict[str | None, dict[str, int]],
    file_name: str,
    process_time: float | None = None,
) -> dict[str, Any]:
    """The report dict from per-type ``{"SUCCESS": n, "ERROR": n}``
    counts — the one builder behind the extract report and the
    streaming publisher. Types are listed in Spark's ascending order
    (null first); ``process_time`` is included only when given; no
    types gives the no-data variant."""
    if not by_type:
        return {"report": f"No data for {file_name.rsplit('.', 1)[0]}."}
    ordered = {t: by_type[t] for t in sorted(by_type, key=lambda t: (t is not None, t))}
    body: dict[str, Any] = {
        "total_events": sum(v["SUCCESS"] + v["ERROR"] for v in ordered.values()),
        "total_errors": sum(v["ERROR"] for v in ordered.values()),
        "by_event_type": ordered,
    }
    if process_time is not None:
        body["process_time"] = process_time
    body["file_name"] = file_name
    return {"report": body}


def with_derived_status(events: DataFrame, error_when: F.Column) -> DataFrame:
    """Adapter for tables without a status column: derive
    SUCCESS/ERROR from a caller-supplied predicate."""
    return events.withColumn(
        "status", F.when(error_when, "ERROR").otherwise("SUCCESS")
    )
