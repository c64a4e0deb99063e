"""The benchmark's own tests. Each run starts a Spark session, so the whole
file takes several minutes:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import llm, run  # noqa: E402

SECONDS = 10  # a short window: two or three drip files, one pass


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          env=env, capture_output=True, text=True, timeout=300)


_cache: dict = {}


def bench(workload: str, trace: int, plant: float = 0.0) -> dict:
    """Last-line result of one run, memoised across tests."""
    key = (workload, trace, plant)
    if key not in _cache:
        args = ["--workload", workload, "--seed", "7", "--seconds", str(SECONDS),
                "--trace", str(trace)]
        if plant:
            args += ["--plant-upsert-sleep", str(plant)]
        proc = _run(ROOT, *args)
        assert proc.returncode == 0, proc.stderr[-2000:]
        _cache[key] = json.loads(proc.stdout.strip().splitlines()[-1])
    return _cache[key]


def value(result: dict, name: str) -> float:
    return result["metrics"][name]["value"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = _run(str(tmp_path), "--workload", "cdc_stream", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("workload", ["cdc_stream", "llm_curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in result["metrics"].items()} == names
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


PLANT_S = 4.0  # well above the run-to-run spread of a batch (about 1 s)


def test_planted_upsert_slowdown_shows_where_it_was_planted():
    base_layer = bench("cdc_stream", 1)
    slow_layer = bench("cdc_stream", 1, plant=PLANT_S)
    assert (value(slow_layer, "tables.fact.upsert_delta_p50_s")
            >= value(base_layer, "tables.fact.upsert_delta_p50_s") + 0.75 * PLANT_S)
    base, slow = bench("cdc_stream", 0), bench("cdc_stream", 0, plant=PLANT_S)
    assert value(slow, "op_p50_s") >= value(base, "op_p50_s") + 0.5 * PLANT_S


def test_planted_upsert_slowdown_cannot_reach_llm_curation():
    # The sleep is planted in the benchmark's table wrapper; llm_curation
    # builds no table and never reads the setting, so its runs with and
    # without the plant execute the same code and it stays flat by
    # construction.
    source = inspect.getsource(llm)
    assert "upsert_sleep_s" not in source
    assert "BenchTable" not in source and "ParquetTable" not in source
