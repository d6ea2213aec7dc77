"""Table-handle memo in ``sources/tables.py``: ``load_table`` and
``raw_table_schema`` read each fixture file once per session, keyed on
(session, applicationId, abspath(sf_dir), mtime_ns, size, table). The
fixtures are written per test under ``tmp_path`` with pyarrow, so no
test shares a memo entry with another."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from end2end_data_pipeline_spark.sources import tables
from end2end_data_pipeline_spark.sources.tables import load_table, raw_table_schema


def _write_orders(sf_dir, n: int) -> None:
    pq.write_table(
        pa.table({"o_orderkey": list(range(n)), "o_custkey": [k % 3 for k in range(n)]}),
        os.path.join(sf_dir, "orders.parquet"),
    )


def _entries(sf_dir) -> list[tuple]:
    return [k for k in tables._TABLE_MEMO if k[2] == os.path.abspath(sf_dir)]


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"table-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_load_returns_the_same_handle(spark, tmp_path):
    _write_orders(tmp_path, 4)
    first = load_table(spark, str(tmp_path), "orders")
    assert load_table(spark, str(tmp_path), "orders") is first
    assert first.count() == 4


def test_relative_and_absolute_sf_dir_share_one_entry(spark, tmp_path):
    _write_orders(tmp_path, 4)
    absolute = load_table(spark, str(tmp_path), "orders")
    relative = load_table(spark, os.path.relpath(tmp_path), "orders")
    assert relative is absolute
    assert len(_entries(tmp_path)) == 1


def test_fixture_rewritten_in_place_gets_a_fresh_handle(spark, tmp_path):
    _write_orders(tmp_path, 3)
    old = load_table(spark, str(tmp_path), "orders")
    assert old.count() == 3
    _write_orders(tmp_path, 40)  # new size and mtime at the same path
    new = load_table(spark, str(tmp_path), "orders")
    assert new is not old
    assert new.count() == 40


def test_events_hit_keeps_nanos_conf_and_timestamp_ts(spark, tmp_path):
    ts = [dt.datetime(2024, 1, 1, 0, m) for m in range(3)]
    pq.write_table(
        pa.table({"event_id": [1, 2, 3], "ts": pa.array(ts, pa.timestamp("us"))}),
        os.path.join(tmp_path, "events.parquet"),
    )
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    first = load_table(spark, str(tmp_path), "events")
    spark.conf.set(conf, "false")
    hit = load_table(spark, str(tmp_path), "events")
    assert hit is first
    assert spark.conf.get(conf) == "true"
    assert isinstance(hit.schema["ts"].dataType, TimestampType)
    assert [r.ts for r in hit.orderBy("event_id").collect()] == ts


def test_missing_table_raises_and_stores_nothing(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "orders")
    assert _entries(tmp_path) == []


def test_second_load_launches_no_spark_job(spark, tmp_path):
    _write_orders(tmp_path, 4)
    d = str(tmp_path)
    # the miss pays the schema-inference job, which also proves the
    # job-group probe sees build-time jobs at all
    assert _jobs_launched(spark, lambda: load_table(spark, d, "orders")) >= 1
    assert _jobs_launched(spark, lambda: load_table(spark, d, "orders")) == 0
    assert _jobs_launched(spark, lambda: raw_table_schema(spark, d, "orders")) >= 1
    assert _jobs_launched(spark, lambda: raw_table_schema(spark, d, "orders")) == 0


def test_insert_drops_other_applications_entries(spark, tmp_path):
    stale = (spark, "app-stopped-long-ago", str(tmp_path), 0, 0, "orders", "table")
    tables._TABLE_MEMO[stale] = object()
    _write_orders(tmp_path, 4)
    load_table(spark, str(tmp_path), "orders")
    assert stale not in tables._TABLE_MEMO
