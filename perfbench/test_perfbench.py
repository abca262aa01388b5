"""Self-tests of the benchmark: tiny smoke runs of every workload, the
traced run's layer metrics, a corrupted output that must fail the run,
and a checkout without the package that must be refused.

    python -m pytest perfbench -q -p no:cacheprovider

Each case starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, *extra: str, trace: int = 0, cwd: Path = ROOT):
    proc = subprocess.run(
        [
            sys.executable, str(cwd / "perfbench" / "run.py"),
            "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny", *extra,
        ],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines


def _check_result(lines: list[dict], declared: list[dict]) -> None:
    result, samples = lines[-1], lines[-2]["samples"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 2  # warm-up plus at least one timed step
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert set(got) == {"value", "unit"}
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        assert samples[m["name"]] >= 1, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_end_to_end_metric(workload):
    code, lines = run(workload)
    assert code == 0, lines
    _check_result(lines, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in lines[-1]["metrics"].values())
    assert lines[-3]["context"]["nproc"] >= 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_trace_prints_every_per_layer_metric(workload):
    code, lines = run(workload, trace=1)
    assert code == 0, lines
    _check_result(lines, SPEC["per_layer"])
    metrics = lines[-1]["metrics"]
    # every job of the timed loop is charged to some layer
    assert sum(v["value"] for k, v in metrics.items() if k.endswith(".jobs")) > 0
    assert metrics["trace.overhead_ratio"]["value"] > 0
    if workload == "forecast_publish":
        for layer in ("sinks.raster", "sinks.stac_json", "sinks.jdbc_upsert"):
            assert metrics[f"{layer}.jobs"]["value"] > 0, layer
        assert metrics["sinks.jdbc_upsert.round_trips"]["value"] > 0
        assert 0 < metrics["sinks.jdbc_upsert.skip_ratio"]["value"] < 1
    else:
        for layer in ("plans.curation_pipeline", "queries.dedup", "queries.text"):
            assert metrics[f"{layer}.self_s"]["value"] > 0, layer
        assert 0 < metrics["plans.curation_pipeline.survivor_ratio"]["value"] < 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_fails_the_run(workload):
    code, lines = run(workload, "--corrupt")
    assert code != 0
    assert lines[-1]["correct"] is False and lines[-1]["failed"] >= 1
    assert "check_failed" in lines[-3]["context"]


def test_refuses_a_checkout_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = run(WORKLOADS[0], cwd=tmp_path)
    assert code != 0
    assert lines == []
