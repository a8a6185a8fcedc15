"""Run-to-run spread of the end-to-end metrics, in two sets.

    python3 perfbench/steadiness.py --runs 10 --sets 2 --out perfbench/STEADINESS.json

Runs the benchmark ``--runs`` times per workload of ``BENCHMARK.json``,
each with another seed, untraced, one after another; then does the same
again for each further set, with the next seeds. For each set and
end-to-end metric it records the values, median, first and third
quartile (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median`` beside the metric's bound, and every run's wall
time, exit status and detail line. For every set after the first it
records how far each median moved from the first set's, as a share of
the first median. Pass ``--trace`` to add one traced run per workload
and compare its ``pass_s`` with the untraced median. The output file is
rewritten after every set, so an interrupted run keeps what it measured.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, seed: int, trace: int) -> tuple[dict, float, int, str]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    detail = lines[-2] if len(lines) > 1 else ""
    return result, time.perf_counter() - t0, proc.returncode, detail


def summarize(values: list[float], bound: float) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "bound": bound,
            "values": values}


def host() -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"cpus": os.cpu_count(), "cpu_model": model, "machine": platform.machine(),
            "python": platform.python_version()}


def run_set(wl: str, seeds: list[int], bounds: dict, trace: bool) -> dict:
    vals: dict[str, list[float]] = {}
    runs = []
    for seed in seeds:
        result, wall, rc, detail = run(wl, seed, 0)
        runs.append({"seed": seed, "wall_s": wall, "exit": rc, "correct": result.get("correct"),
                     "failed": result.get("failed"), "detail": detail})
        for k, v in result.get("metrics", {}).items():
            vals.setdefault(k, []).append(v["value"])
        print(wl, seed, rc, round(wall, 1),
              {k: round(v["value"], 4) for k, v in result.get("metrics", {}).items()}, flush=True)
    entry = {"seeds": seeds, "runs": runs,
             "metrics": {k: summarize(v, bounds[k]) for k, v in vals.items()}}
    if trace:
        result, wall, rc, _ = run(wl, seeds[0], 1)
        entry["traced"] = {"seed": seeds[0], "wall_s": wall, "exit": rc,
                           "pass_s_untraced_median": entry["metrics"]["pass_s"]["median"],
                           "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()}}
    for k, s in entry["metrics"].items():
        print(f"{wl:10s} {k:12s} median {s['median']:.4f} q1 {s['q1']:.4f} "
              f"q3 {s['q3']:.4f} spread {s['spread']:.4f} bound {s['bound']}", flush=True)
    return entry


def compare(first: dict, later: dict) -> dict:
    """Each median's move from the first set, as a share of the first."""
    return {k: {"median_change": later["metrics"][k]["median"] / m["median"] - 1,
                "bound": m["bound"]}
            for k, m in first["metrics"].items() if k in later["metrics"]}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in BENCH["workloads"]])
    p.add_argument("--trace", action="store_true")
    p.add_argument("--out", default=None)
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    report = {"host": host(), "run_seconds": BENCH["run_seconds"], "runs_per_set": args.runs,
              "workloads": {wl: {"sets": []} for wl in args.workloads}}
    seed = args.first_seed
    for _ in range(args.sets):
        for wl in args.workloads:
            sets = report["workloads"][wl]["sets"]
            sets.append(run_set(wl, list(range(seed, seed + args.runs)), bounds, args.trace))
            if len(sets) > 1:
                sets[-1]["vs_first_set"] = compare(sets[0], sets[-1])
            if args.out:
                Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
        seed += args.runs
    return 0


if __name__ == "__main__":
    sys.exit(main())
