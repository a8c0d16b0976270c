"""Smoke test of the benchmark on the sf0.001 corpus (its default size).

Each workload runs once untraced and once traced; the last stdout line
must carry every metric BENCHMARK.json names, with its unit, and the
report lines before it must print them too. A tampered expected digest
must fail the run, and a directory without the program must be refused.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(root: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "42", "--seconds", "1"]
    return subprocess.run(
        [*cmd, "--trace", str(trace)], cwd=root, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_with_unit(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    named = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == named
    for name, unit in named.items():
        assert any(
            line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines[:-1]
        ), name
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def _copy_bench(dst: str) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path),
            os.path.join(dst, path),
            ignore=shutil.ignore_patterns("__pycache__"),
        )


def test_failed_output_check_exits_nonzero(tmp_path):
    _copy_bench(str(tmp_path))
    shutil.copytree(
        os.path.join(ROOT, "pdf2ontology_spark"),
        tmp_path / "pdf2ontology_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    expected = tmp_path / "perfbench" / "expected.json"
    digests = json.loads(expected.read_text())
    digests["media_near_dup"]["42"]["simhash"] = [0, "0"]
    expected.write_text(json.dumps(digests))
    p = run_bench(str(tmp_path), "media_near_dup", 0)
    assert p.returncode == 1
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] == 1


def test_refuses_directory_without_program(tmp_path):
    _copy_bench(str(tmp_path))
    p = run_bench(str(tmp_path), WORKLOADS[0], 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert not (tmp_path / ".bench_data").exists()
