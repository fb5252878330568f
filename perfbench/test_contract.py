"""Smoke test of the benchmark's own contract, at the tiny input size.

    python3 -m pytest perfbench/test_contract.py -q

Each workload runs once untraced and once traced. The result line must
carry every metric BENCHMARK.json names, with its unit, and no check
may fail; the ``#`` report line must carry the workload's own
end-to-end figures. Takes a few minutes: every run starts a Spark
session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8"))
WORKLOAD_E2E = {
    "etl_sync": {"sync_p50_s"},
    "corpus_ingest": {"curate_s", "index_build_s", "append_p50_s", "probe_p50_s",
                      "probe_p75_s"},
}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_result_line(workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    assert lines[-2].startswith("# ")
    report = json.loads(lines[-2][2:])
    assert report["failed_frac"] == 0
    assert {"nproc", "spark", "python", "shuffle_partitions", "driver_memory",
            "seed", "commit"} <= set(report["machine"])
    if trace:
        assert report["layers"]["spark.unattributed_frac"][0] < 0.02
    else:
        assert WORKLOAD_E2E[workload] <= set(report["end_to_end"])
        for v in report["end_to_end"].values():
            assert v["unit"]


def test_fails_without_the_program(tmp_path) -> None:
    """With only BENCHMARK.json and the benchmark's files there is no
    program to measure: the run must fail and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
