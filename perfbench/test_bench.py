"""Small-scale self-test of the benchmark.

    python3 -m pytest perfbench/test_bench.py -q      # or
    python3 perfbench/test_bench.py

Runs every workload of ``workloads.json`` once untraced and once traced,
at sf0.001 with a few SWC files, and checks that:

1. every end-to-end (untraced) and per-layer (traced) metric named in
   ``BENCHMARK.json`` is printed, with its unit, and nothing else;
2. the persist pool was empty at the start of every op;
3. in the traced run, each op's layer self times add up to its wall,
   and the named layers leave at most ``TOLERANCE`` of it unattributed;
4. no op failed (``failed_share`` is 0) and the exit status is 0.

Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = sorted(json.loads((HERE / "workloads.json").read_text())["workloads"])
OUT = ROOT / ".perfbench_out"
SEED = 7

#: share of an op's wall the named layers may leave unattributed: a
#: write-back round's own CLI code (argument parsing, building the rows
#: to write) is 5-8% of the round and belongs to no named layer
TOLERANCE = 0.10


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--swc-files", "20"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    report = OUT / f"{workload}-s{SEED}-t{trace}.json"
    return result, json.loads(report.read_text())


def expect_metrics(result: dict, spec: list[dict]) -> None:
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == {m["name"]: m["unit"] for m in spec}
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], float), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced(workload):
    result, info = run_bench(workload, 0)
    expect_metrics(result, BENCH["end_to_end"])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert info["failed_share"] == 0.0
    # a non-empty pool at op start is recorded as an error and a failed op
    assert not info["errors"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced(workload):
    result, info = run_bench(workload, 1)
    expect_metrics(result, BENCH["per_layer"])
    assert result["correct"] and result["failed"] == 0
    ops = info["layers"]["ops"]
    assert len(ops) == result["attempted"]
    for op in ops:
        assert op["pool_at_start"] == 0, op["op"]
        total = sum(op["self_s"].values())
        # self times partition the op span, which encloses the timed wall
        assert abs(total - op["wall_s"]) <= 0.02 * op["wall_s"] + 0.05, (op["op"], total)
        assert op["self_s"]["unattributed"] <= TOLERANCE * op["wall_s"], op["op"]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
