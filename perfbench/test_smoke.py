"""Smoke test of the benchmark itself, at its smallest size (sf0.001
fixtures, 2000 appointment rows). Takes a few minutes; run with

    python -m pytest perfbench/test_smoke.py -m slow -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "catalog_short": ["setup_s", "pass_s", "query_p50_s", "query_p90_s", "failed_frac",
                      "peak_rss_mb"],
    "catalog_iterative": ["setup_s", "pass_s", "query_p50_s", "failed_frac", "peak_rss_mb"],
    "etl_appointments": ["setup_s", "pass_s", "etl_s", "report_s", "failed_frac",
                         "peak_rss_mb"],
}
PER_LAYER = [
    "sources.load_table.calls", "sources.load_table.s", "sources.load_table.jobs",
    "sources.load_table.zero_job_ratio", "workloads.build.s", "workloads.build.jobs",
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms", "spark.driver_gap_s", "spark.action.s", "spark.jobs",
    "spark.stages", "spark.stages_skipped", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.peak_exec_mem_bytes",
    "operators.concurrency.waves", "operators.concurrency.wave_s",
    "operators.concurrency.branches", "sources.read_csv_tolerant.s",
    "sources.read_csv_tolerant.jobs", "etl.preprocess.s", "etl.gerar_tabelas.s",
    "sources.write_parquet.s", "sources.write_csv_pbi.s", "sources.sinks.jobs",
    "sources.sinks.bytes_written", "sources.sinks.files_written", "etl.relatorio.s",
    "etl.relatorio.jobs", "session.get_spark_s", "setup.prepares_s", "trace.overhead_s",
]


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    detail, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return detail, result


def declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def assert_named_with_units(metrics: dict, names: list[str]) -> None:
    missing = [n for n in names if n not in metrics]
    assert not missing, missing
    for n in names:
        assert isinstance(metrics[n]["value"], (int, float)), n
        assert metrics[n]["unit"], n


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(END_TO_END))
def test_traced_run(workload):
    detail, result = bench(workload, trace=1)
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 1
    assert_named_with_units(detail["end_to_end"], END_TO_END[workload])
    for n in END_TO_END[workload]:
        assert detail["end_to_end"][n]["samples"] >= 1, n
    assert_named_with_units(result["metrics"], PER_LAYER)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared("per_layer")
    assert not detail["trace"]["attribution_problems"]

    with open(os.path.join(ROOT, detail["trace"]["span_dump"])) as f:
        dump = json.load(f)
    selfs = [s["self_s"] for s in dump["spans"]]
    assert selfs and min(selfs) >= 0.0
    assert sum(selfs) <= dump["wall_s"] + 1e-6


@pytest.mark.slow
def test_untraced_run_prints_the_end_to_end_metrics():
    detail, result = bench("etl_appointments", trace=0)
    assert result["correct"], detail["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
