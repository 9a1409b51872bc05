"""Tiny-size runs of the benchmark itself (each starts a SparkSession)."""

import json
import os
import sys

import pytest

import run
from workloads import SIZES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _main(capsys, workload, trace=0):
    code = run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                     "--trace", str(trace), "--size", "tiny"])
    lines = capsys.readouterr().out.strip().splitlines()
    return code, json.loads(lines[-2]), json.loads(lines[-1])


def test_tiny_traced_close_emits_every_metric_with_its_unit(capsys):
    code, report, result = _main(capsys, "close_csv", trace=1)
    assert code == 0 and result["correct"] and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert report["end_to_end"].keys() == {"setup_s", "cold_s", "warm_s"}
    for m in report["end_to_end"].values():
        assert m["unit"] == "s" and m["value"] > 0
    units = run.per_layer_units(SIZES["tiny"].queries)
    assert {k: m["unit"] for k, m in result["metrics"].items()} == units
    layers = {k: m["value"] for k, m in result["metrics"].items()}
    assert layers["pipeline.fact_rows"] == 2_000
    assert layers["spark.fact_write.output_bytes"] > 0
    assert layers["spark.export_star.task_cpu_s"] > 0
    named = report["named"]
    for key in ("close_cold_s", "close_s", "export_s", "stored_bytes_per_input_byte"):
        assert named[key]["value"] > 0 and named[key]["unit"]
    assert named["failed_ratio"] == {"value": 0.0, "unit": "ratio"}
    assert report["env"]["cores"] == len(os.sched_getaffinity(0))
    assert report["env"]["spark_conf"]["spark.master"] == f"local[{report['env']['cores']}]"


def test_forced_oracle_mismatch_counts_as_failed(capsys, monkeypatch):
    from finance_etl_pipeline_monthly_close_dataset_spark import contract

    monkeypatch.setitem(contract.ORACLES, "status_pivot", "SELECT 1 AS wrong_column")
    code, report, result = _main(capsys, "queries_sf01")
    assert code == 1 and not result["correct"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == dict.fromkeys(
        ("setup_s", "cold_s", "warm_s"), "s")
    assert result["failed"] == 1
    assert report["named"]["failed_ratio"]["value"] == pytest.approx(1 / result["attempted"])
    assert any("status_pivot: oracle mismatch" in p for p in report["problems"])
