"""Smoke test of the benchmark at tiny size (about 4 minutes):

    python3 -m pytest perfbench/test_smoke.py -q

A clean traced run of each workload passes every check and reports
exactly the per-layer metrics BENCHMARK.json declares; a run whose
engine returns a wrong result reports that op as failed.
"""

from __future__ import annotations

import dataclasses
import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
TINY = {"crimes_dashboard": {"rows": 2_000}, "registry_headline": {"sf": 0.001}}


@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_run_is_correct_and_reports_every_per_layer_metric(workload):
    result = run.Run(workload, seed=3, seconds=0, **TINY[workload]).execute(trace=True)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["per_layer"]}
    if workload == "crimes_dashboard":
        assert metrics["sources.csv_reads_per_pass"]["value"] > 1
    else:
        assert metrics["plans.registry.build_s"]["value"] > 0
        assert metrics["operators.ml.jobs"]["value"] > 0


def assert_failure_counted(result):
    assert not result["correct"]
    assert result["failed"] >= 1
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in SPEC["end_to_end"]}
    assert metrics["op_ok_ratio"]["value"] == 1 - result["failed"] / result["attempted"]


def test_corrupted_view_is_counted_as_failed(monkeypatch):
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.app import CrimesAnalytics

    honest = CrimesAnalytics.district_counts
    monkeypatch.setattr(
        CrimesAnalytics,
        "district_counts",
        lambda self: honest(self).withColumn("cnt", F.col("cnt") + 1),
    )
    assert_failure_counted(
        run.Run("crimes_dashboard", seed=3, seconds=0, **TINY["crimes_dashboard"]).execute(
            trace=False
        )
    )


def test_corrupted_registry_query_is_counted_as_failed(monkeypatch):
    from big_data_chicago_crimes_spark.plans import registry

    name = "orders_lake_partitioned_scan"
    query = registry.all_queries()[name]
    monkeypatch.setitem(
        registry.REGISTRY,
        name,
        dataclasses.replace(query, build=lambda spark, d: query.build(spark, d).limit(1)),
    )
    assert_failure_counted(
        run.Run("registry_headline", seed=3, seconds=0, **TINY["registry_headline"]).execute(
            trace=False
        )
    )
