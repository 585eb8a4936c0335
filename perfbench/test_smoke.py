"""Tiny-size self-test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that a run prints exactly the metrics BENCHMARK.json declares,
with their units, that a corrupted op output counts as a failed op,
and that the run refuses to measure when its inputs or the program are
missing or changed.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _command(*extra: str) -> list[str]:
    return [sys.executable, *SPEC["command"][1:], *extra]


def _run(cwd: Path, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        _command(*extra), cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_metric_names_and_units(workload: str, trace: int) -> None:
    proc = _run(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "0.1",
        "--trace", str(trace), "--size", "tiny",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_changed_inputs_refuse_to_run() -> None:
    cmd = list(SPEC["command"][1:])
    cmd[cmd.index("--expect-hash") + 1] = "0" * 16
    proc = subprocess.run(
        [sys.executable, *cmd, "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_without_program_refuses_to_run(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    """The runner and workloads modules plus a tiny local session."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    import run
    import workloads

    work = tmp_path_factory.mktemp("perfbench")
    (work / "tmp").mkdir()
    spark = run.start_session(work, 2, trace=False)
    yield run, workloads, spark, work
    run.stop_session(spark)


def _args(run, workload: str) -> argparse.Namespace:
    cmd = SPEC["command"][2:]
    return run.parse_args(
        [*cmd, "--workload", workload, "--seed", "1", "--seconds", "0.1",
         "--trace", "0", "--size", "tiny"]
    )


def test_dropped_chunk_fails_the_op(bench, monkeypatch) -> None:
    run, workloads, spark, work = bench
    from pyspark.sql import functions as F

    encode = workloads.RollupEncode.encode

    def drop_one_chunk(self):
        chunks = encode(self)
        return chunks.where(~((F.col("tier") == "1d") & (F.col("conv_id") == "c00000000")))

    monkeypatch.setattr(workloads.RollupEncode, "encode", drop_one_chunk)
    result, _ = run.measure(_args(run, "rollup_encode"), work, spark)
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1


def test_flipped_score_fails_the_op(bench, monkeypatch) -> None:
    run, workloads, spark, work = bench
    op = workloads.MuseSearch.op

    def flip_one_score(self, i, ref):
        out = op(self, i, ref)
        key, lag, score = out[0]
        return [(key, lag, -score), *out[1:]]

    monkeypatch.setattr(workloads.MuseSearch, "op", flip_one_score)
    result, _ = run.measure(_args(run, "muse_search"), work, spark)
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
