"""The benchmark's own tests. The smoke runs start Spark (about six
minutes in all); run them from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, layers  # noqa: E402


def _run(args, cwd=ROOT, timeout=400):
    return subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                           *args], cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_rows_match_tolerates_float_noise_not_wrong_rows():
    assert common.rows_match([(1, 2.0), (2, 3.0)], [(2, 3.0 + 1e-12), (1, 2.0)])[0]
    assert not common.rows_match([(1, 2.0)], [(1, 2.1)])[0]
    assert not common.rows_match([(1, 2.0)], [(1, 2.0), (1, 2.0)])[0]
    assert not common.rows_match([(1, "a")], [(1, None)])[0]


def test_fixed_rounds_runs_every_round_even_over_budget(capsys):
    seen = []
    common.fixed_rounds(3, 60.0, seen.append)
    assert seen == [0, 1, 2]
    assert capsys.readouterr().err == ""
    common.fixed_rounds(2, 0.0, lambda i: None)
    assert "over the 0 s budget" in capsys.readouterr().err


def test_emit_marks_a_missing_metric_not_correct(capsys):
    common.emit(True, 4, 0, {"a": (1.5, "ms"), "b": (float("nan"), "s")})
    res = json.loads(capsys.readouterr().out.strip())
    assert res["correct"] is False and res["metrics"]["b"]["value"] is None
    common.emit(True, 4, 0, {"a": (1.5, "ms")})
    assert json.loads(capsys.readouterr().out.strip())["correct"] is True


def test_per_layer_names_match_benchmark_json():
    names = [m["name"] for m in _bench()["per_layer"]]
    assert names == [n for n, _ in layers.PER_LAYER]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(["--workload", "catalog_hot", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["serving_pgwire", "catalog_hot",
                                      "store_tpch"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    bench = _bench()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
