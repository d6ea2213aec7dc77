"""Fast checks of the benchmark itself on a tiny (sf0.001) fixture:
every workload prints every declared metric with its unit, and a
deliberately corrupted expected answer is counted as a failure, which
shows the output checks are live.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.readwriter import DataFrameReader

from perfbench import fixtures, workloads
from perfbench import run as bench

with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)


@pytest.fixture
def small(monkeypatch):
    """Shrink every workload to seconds of work."""
    monkeypatch.setattr(bench, "SETUPS", 1)
    monkeypatch.setattr(workloads, "INTERACTIVE_SF", 0.001)
    monkeypatch.setattr(workloads, "INTERACTIVE", ["q6_forecast_revenue", "event_error_rate"])
    monkeypatch.setattr(workloads, "EXTRACT_TICKS", 2)
    monkeypatch.setattr(workloads, "WAREHOUSE_WRITES", 1)
    # the traced run wraps the parquet reader; undo it after each test
    monkeypatch.setattr(DataFrameReader, "parquet", DataFrameReader.parquet)


def result(capsys, workload: str, trace: int) -> dict:
    argv = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    assert bench.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_emits_every_declared_metric(small, capsys, workload, trace):
    out = result(capsys, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in DECLARED[kind]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_corrupted_oracle_answer_counts_as_failure(small, capsys, monkeypatch):
    real = fixtures.OracleCache.expected

    def corrupted(self, name, sql):
        entry = dict(real(self, name, sql))
        if name == "event_error_rate":
            entry["digest"] = "0" * 64
        return entry

    monkeypatch.setattr(fixtures.OracleCache, "expected", corrupted)
    out = result(capsys, "interactive_mix", 0)
    passes = out["attempted"] // 2
    assert not out["correct"]
    assert out["failed"] == passes
    assert out["metrics"]["ok_frac"]["value"] == 0.5


def test_corrupted_minute_count_counts_as_failure(small, capsys, monkeypatch):
    real = workloads.report_matches

    def off_by_one(report, by_type):
        by_type = {t: dict(v) for t, v in by_type.items()}
        by_type[min(by_type)]["SUCCESS"] += 1
        return real(report, by_type)

    monkeypatch.setattr(workloads, "report_matches", off_by_one)
    out = result(capsys, "minutely_pipeline", 0)
    assert not out["correct"]
    assert out["failed"] >= workloads.EXTRACT_TICKS
