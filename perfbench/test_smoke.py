"""Smoke test of the benchmark at the small ``smoke`` scale.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of ``BENCHMARK.json`` once untraced and once traced,
each long enough for a second timed pass, and checks the result line
against the file: the metric names and units of each mode, every value
measured, every output check passed (a second pass must repeat the
first), and the same number of Spark jobs in every timed pass. Each run starts its own Spark
session and takes about two minutes.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "60",
           "--trace", str(trace), "--scale", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_result_line_matches_benchmark_json(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-4000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    jobs = ast.literal_eval(
        re.search(r"jobs per pass: (\[.*\])", proc.stderr).group(1))
    assert len(jobs) >= 2 and len(set(jobs)) == 1, jobs


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_generator_is_deterministic(tmp_path):
    """One seed gives byte-identical tables; another seed gives others."""
    sys.path.insert(0, HERE)
    import gen

    tables = ("lineitem", "part", "documents", "sem_corpus", "sem_batch")
    digests = []
    for i, seed in enumerate((3, 3, 4)):
        out = str(tmp_path / str(i))
        gen.generate(out, seed, gen.SCALES["smoke"], tables)
        digests.append(_digest(out))
    assert digests[0] == digests[1] != digests[2]


def test_fails_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json, the benchmark and the
    replica transforms it imports must exit non-zero, because the engine
    is missing, without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    os.mkdir(tmp_path / "tools")
    shutil.copy(os.path.join(ROOT, "tools", "gen_sf.py"), tmp_path / "tools")
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert ("No module named 'yellowrush_spark_ml_pipeline_spark'"
            in proc.stderr)
    assert '"correct"' not in proc.stdout
