"""Self-test of the CDC apply benchmark at a tiny size.

Each case runs ``cdcbench/run.py`` as the benchmark driver would, with a
few hundred transactions, and checks that the run passes its own parity
gate and prints every metric BENCHMARK.json names, with its unit.

    python3 -m pytest cdcbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path[:0] = [os.path.join(ROOT, "cdcbench"), ROOT]

from bench import tail  # noqa: E402

TINY = {
    "backfill": ["--txns", "300"],
    "hot_keys": ["--txns", "300"],
    # one preloaded file, two warm-up landings, then two timed landings:
    # the ALTER is in the second timed one
    "incremental": ["--txns", "500", "--land-files", "4"],
}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "cdcbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", str(trace), *TINY[workload]])
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    # timed applies (both kinds when traced) plus at least one parity check
    assert result["attempted"] >= 3
    spec = _spec()["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))
    if trace:
        assert got["trace.coverage_frac"]["value"] >= 0.9
        assert got["transactions.commit_frac"]["value"] == 1.0
    else:
        assert got["ok_frac"]["value"] == 1.0
        assert got["events_per_s"]["value"] > 0


def test_spec_names_run_workloads():
    spec = _spec()
    assert spec["command"] == ["python3", "cdcbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(TINY)


def test_fails_without_program(tmp_path):
    """Beside only BENCHMARK.json and the benchmark's own files the command
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "cdcbench"), tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "backfill", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_tail_needs_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    walls = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct, n = tail(walls)
    assert n == 40 and sum(w > value for w in walls) == 10 and pct == 75.0
