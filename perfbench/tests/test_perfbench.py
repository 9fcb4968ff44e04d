"""Tests of the benchmark itself (not part of the engine's test suite).

    python -m pytest perfbench/tests -q

The smoke runs start a Spark session per run and take about five minutes
in all on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
from checks import (FLAGSHIP_COLS, _duckdb, _frames_equal, check_flagship,  # noqa: E402
                    flagship_oracle_sql, flagship_reference)
from inputs import doc_ids, trip_ids, write_documents  # noqa: E402


def _declared(section: str) -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[section]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)


def test_generator_is_deterministic(tmp_path):
    def make(name: str, seed: int) -> bytes:
        write_documents(str(tmp_path / name), trip_ids(100, seed, 0))
        return (tmp_path / name / "documents.parquet").read_bytes()

    assert make("a", 7) == make("b", 7)
    assert make("c", 8) != make("a", 7)
    trips = trip_ids(100, 7, 0)
    assert len(set(trips.tolist())) == 100


def test_reference_matches_the_oracle(tmp_path):
    docs = pd.DataFrame({"doc_id": doc_ids(trip_ids(24, 3, 7))})
    ref = flagship_reference(_duckdb(docs, str(tmp_path)), str(tmp_path))
    want = _duckdb(docs, str(tmp_path)).execute(flagship_oracle_sql()).df()
    assert len(ref) > 150
    assert _frames_equal(ref, want, FLAGSHIP_COLS, "reference") == []


def test_flagship_check_catches_a_wrong_or_missing_row(tmp_path):
    docs = doc_ids(trip_ids(6, 4, 7))
    good = flagship_reference(_duckdb(pd.DataFrame({"doc_id": docs}), str(tmp_path)), str(tmp_path))
    assert check_flagship([("good", good, docs)], 2, 1, str(tmp_path), str(tmp_path)) == []
    wrong = good.copy()
    wrong.loc[wrong.index[np.isfinite(wrong["acc_cost"])][5], "acc_cost"] += 1.0
    missing = good.drop(index=7)
    bad = check_flagship([("wrong", wrong, docs), ("missing", missing, docs)], 2, 1,
                         str(tmp_path), str(tmp_path))
    assert any("wrong" in b and "acc_cost" in b for b in bad)
    assert any("missing" in b and "rows" in b for b in bad)


@pytest.mark.parametrize("workload", ["flagship_bulk", "lifecycle_cold"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_declared_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace, "--trips", "4")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    got = [(k, v["unit"]) for k, v in result["metrics"].items()]
    assert got == _declared("per_layer" if trace == "1" else "end_to_end")
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "flagship_bulk", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
