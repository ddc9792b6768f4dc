"""Smoke test of the benchmark at a tiny crawl (32 pages): every metric that
BENCHMARK.json names is printed with its unit, every output check passes,
and without the program the benchmark fails without printing a result.

    python -m pytest kgbench/test_smoke.py -q      # about 5 minutes on 4 cores
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "kgbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize(("workload", "trace", "kind"), [("build", 0, "end_to_end"), ("delta", 1, "per_layer")])
def test_every_metric_present_with_its_unit(workload, trace, kind):
    res = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--pages", "32")
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, lines
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in SPEC[kind]}
    if trace == 0:  # the human-readable table gives each metric's unit and sample count
        for m in SPEC["end_to_end"]:
            assert any(line.split()[:1] == [m["name"]] and f" {m['unit']} " in line and "n=" in line
                       for line in lines), m["name"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "kgbench", tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(tmp_path, "--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
