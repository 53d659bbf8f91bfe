"""Steadiness check for the benchmark.

    python3 perfbench/steadiness.py --runs 10 [--sets 2] [--workloads headline]

Runs every workload ``--runs`` times per set, each run a fresh process
with its own seed (set k uses seeds k*1000+1 .. k*1000+runs), and
reports for each end-to-end metric:

* spread: (Q3 - Q1) / median of the set's values, quartiles as
  ``statistics.quantiles(values, n=4)`` gives them, against the
  metric's bound in BENCHMARK.json (``setup_s`` is reported but exempt);
* with ``--sets 2``: how much worse the second set's median is than the
  first's, against the same bound (``setup_s`` included).

A table goes to stdout and the raw values to perfbench/out/steadiness.json.
Exit status is 1 when a check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(first: float, second: float, better: str) -> float:
    """Share of ``first`` by which ``second`` is worse (negative: better)."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    delta = (second - first) if better == "lower" else (first - second)
    return delta / first


def check(sets: list[dict[str, list[float]]], metrics: list[dict]) -> list[dict]:
    """One row per metric: spreads per set, drift between sets, verdict."""
    rows = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        spreads = [spread(s[name]) for s in sets]
        row = {"metric": name, "bound": bound, "spreads": spreads,
               "medians": [statistics.median(s[name]) for s in sets]}
        ok = name == "setup_s" or all(x <= bound for x in spreads)
        if len(sets) > 1:
            row["drift"] = worse_by(row["medians"][0], row["medians"][1], m["better"])
            ok = ok and row["drift"] <= bound
        row["ok"] = ok
        rows.append(row)
    return rows


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=180, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1]), time.monotonic() - t0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description="Spread of each end-to-end metric over seeds.")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    report, failed = {}, False
    for workload in args.workloads.split(","):
        sets, walls = [], []
        for k in range(1, args.sets + 1):
            values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
            for i in range(1, args.runs + 1):
                result, wall = run_once(workload, k * 1000 + i, args.seconds)
                if not result["correct"]:
                    print(f"{workload} seed {k * 1000 + i}: incorrect result", flush=True)
                    failed = True
                for name in values:
                    values[name].append(result["metrics"][name]["value"])
                walls.append(wall)
                print(f"{workload} set {k} run {i}: {wall:.1f} s wall", flush=True)
            sets.append(values)
        rows = check(sets, spec["end_to_end"])
        report[workload] = {"rows": rows, "sets": sets, "run_wall_s": walls}
        print(f"\n{workload}: median run wall {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for r in rows:
            drift = f" drift={r['drift']:+.3f}" if "drift" in r else ""
            spreads = " ".join(f"{x:.3f}" for x in r["spreads"])
            meds = " ".join(f"{x:.4g}" for x in r["medians"])
            print(f"  {r['metric']:14s} bound={r['bound']:.2f} spread={spreads}"
                  f" median={meds}{drift} {'ok' if r['ok'] else 'FAIL'}")
            failed |= not r["ok"]
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steadiness.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
