"""The benchmark's own tests: generators are deterministic per seed, a
tiny-size traced run of each workload yields every metric named in
BENCHMARK.json with its unit, and the command fails without a result
when the engine package is missing.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for base, _dirs, files in sorted(os.walk(directory)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(base, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(seed: int, out: str) -> str:
    gen.face_tsvs(seed, os.path.join(out, "faces"))
    gen.documents(seed, out, n_base=100)
    gen.part_and_orders(seed, out, n_part=200, n_orders=500)
    return _digest(out)


def test_generators_deterministic_per_seed(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    c = _generate(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def _run(args, cwd=ROOT, env=None):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_traced_run_reports_every_metric(workload):
    seed = 5
    p = _run(["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "1", "--tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, record["check_notes"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert record["config"]["seed"] == seed
    assert record["config"]["mapinpandas_preflight"] == "ok"

    want_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got_layer = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got_layer == want_layer
    want_e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got_all = {k: v["unit"] for k, v in record["metrics"].items()}
    assert want_e2e.items() <= got_all.items()
    for name, v in record["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
    assert os.path.exists(os.path.join(ROOT, record["trace_file"]))


def test_fails_without_the_engine_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
