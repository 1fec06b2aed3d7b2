"""Steadiness check: two sets of benchmark runs of the same tree, each run
with its own seed, and every end-to-end metric's median and quartiles
against the bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --runs 10

Every workload of BENCHMARK.json runs --runs times per set, seeds counting
up from FIRST_SEED. Within a set the workloads are interleaved run by run,
so a throttling band of the host lands on all of them rather than on one.
For each set and metric it prints the median, the quartiles
(statistics.quantiles, n=4) and the spread (q3 - q1) / median; across sets,
how much worse the second median is than the first, as a share of the
first. A metric passes when its spread and its drift are within its bound;
setup_s passes on its drift alone, since each of its samples is a JVM
start that follows the host's speed in the few seconds it takes, which a
run cannot average away. Exit code 0 when every metric passes.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2
FIRST_SEED = 1000


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse `second` is than `first`, as a share of `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="runs per workload and set")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    seed = FIRST_SEED
    results: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    for s in range(SETS):
        for w in workloads:
            results[w].append([])
        for r in range(args.runs):
            for w in workloads:
                res = run_once(spec, w, seed, spec["run_seconds"])
                results[w][s].append({"seed": seed, **res})
                print(f"set {s + 1} run {r + 1} {w} seed {seed}: correct={res['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      flush=True)
                seed += 1

    ok = True
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'bound':>6s} " + " ".join(
            f"{'set' + str(s + 1) + ' median [q1, q3] spread':>42s}" for s in range(SETS))
            + f" {'drift':>7s}")
        if not all(r["correct"] for runs in results[w] for r in runs):
            print("  INCORRECT runs present")
            ok = False
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, cells, spread_ok = [], [], True
            for runs in results[w]:
                vals = [r["metrics"][name]["value"] for r in runs]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
                spread = (q3 - q1) / med
                meds.append(med)
                cells.append(f"{med:12.4g} [{q1:.4g}, {q3:.4g}] {spread:6.3f}")
                if spread > bound and name != "setup_s":
                    spread_ok = False
            drift = max((worse_by(meds[0], x, m["better"]) for x in meds[1:]), default=0.0)
            passed = spread_ok and drift <= bound
            ok &= passed
            print(f"  {name:14s} {bound:6.2f} " + " ".join(f"{c:>42s}" for c in cells)
                  + f" {drift:7.3f} {'ok' if passed else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
