"""BENCHMARK.json agrees with the command's metric tables, and the command
fails fast without a result where the program is absent."""

import json
import os
import shutil
import subprocess
import sys

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.workloads import SIZES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_command():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) == set(SIZES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_fails_without_the_program(tmp_path):
    spec = _spec()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    args = ["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run([sys.executable, *spec["command"][1:], *args], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
