"""Each workload end to end at tiny sizes, untraced and traced, plus the
benchmark's contract: metric names match BENCHMARK.json, and without the
program the command fails fast and prints no result."""

import json
import shutil
import subprocess
import sys

import pytest

from perfbench import run as bench
from perfbench import workloads

BENCHMARK = json.loads((bench.ROOT / "BENCHMARK.json").read_text())


def test_metric_names_match_benchmark_json():
    assert {m["name"] for m in BENCHMARK["end_to_end"]} == set(workloads.END_TO_END)
    assert {m["name"] for m in BENCHMARK["per_layer"]} == set(workloads.PER_LAYER)
    for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
        table = workloads.END_TO_END if m in BENCHMARK["end_to_end"] else workloads.PER_LAYER
        assert table[m["name"]] == m["unit"]
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(bench.WORKLOAD_NAMES)


def test_without_the_program_it_fails_fast(tmp_path):
    shutil.copy(bench.ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(bench.ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *BENCHMARK["command"][1:], "--workload", "extract_job", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "WORK", tmp_path / "work")
    monkeypatch.setattr(workloads, "FRESH_TURNS", 300)
    monkeypatch.setattr(workloads, "TICK_TURNS", 20)
    monkeypatch.setattr(workloads, "CURATE_DOCS", 200)
    monkeypatch.setattr(workloads, "RESUMES", 1)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", bench.WORKLOAD_NAMES)
def test_workload_smoke(tiny, capsys, workload, trace):
    rc = bench.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace)])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert set(result["metrics"]) == set(names)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        record = json.loads(next((bench.WORK / "results").glob("*.json")).read_text())
        spans = record["spans"]
        assert spans and all(s["parent"] is None or s["parent"] < s["id"] for s in spans)
