"""Self-test of the benchmark: short sf0.001 runs of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

Takes several minutes: every run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Counts that depend only on the fixed inputs and the fixed loop shape,
# never on the seed.
COUNTS = (
    "execution.jobs",
    "execution.stages",
    "execution.tasks",
    "stream.batches",
    "stream.input_rows",
    "snapshots.data_files_per_commit",
)


def _run(workload: str, trace: int, seed: int = 5, *extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_shape(result: dict, expected: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in expected]
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    result = _run(workload, 0)
    _check_shape(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_metrics_print_and_counts_repeat_across_seeds(workload):
    first, second = _run(workload, 1, 5), _run(workload, 1, 6)
    for result in (first, second):
        _check_shape(result, SPEC["per_layer"])
        assert result["metrics"]["failed_ratio"]["value"] == 0
    for name in COUNTS:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name


def test_wrong_expected_result_counts_as_failed():
    result = _run("lakehouse_commit", 1, 5, "--wrong-expected")
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["metrics"]["failed_ratio"]["value"] > 0


def test_missing_engine_exits_nonzero_without_result(tmp_path):
    """In a directory holding only the benchmark, the command fails fast."""
    (tmp_path / "perfbench").mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (tmp_path / "perfbench" / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytic", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_bench_py_stdout_is_untouched(tmp_path):
    """bench.py keeps its own contract: one JSON line, then the TOTAL line,
    nothing else."""
    sys.path.insert(0, HERE)
    import datagen

    sf_dir = datagen.generate(str(tmp_path / "sf0.001"), 0.001)
    out = subprocess.run(
        [sys.executable, "bench.py", "pricing_summary"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 2
    head = json.loads(lines[0])
    assert head["metric"] == "bench_total_wall" and list(head["queries"]) == ["pricing_summary"]
    assert lines[1] == f"TOTAL {head['value']}s n=1 sf=0.001 rc=0"
