#!/usr/bin/env python3
"""Steadiness report: run the benchmark twice over, each set with seeds
1-10 on every workload at BENCHMARK.json's run_seconds, and print, for every
end-to-end metric and workload, each set's median and quartiles, the
quartile spread as a share of the median, and how far the second set's
median moved from the first. Bounds in BENCHMARK.json should sit well above
both figures.

    python3 perfbench/steady.py

Every run's result line is kept in .bench_build/perfbench/steadiness.json.
"""

import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench" / "steadiness.json"
SETS = 2
SEEDS = range(1, 11)


def one_run(workload, seed, seconds):
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = {}  # (workload, set) -> list of result objects
    for s in range(SETS):
        for w in workloads:
            for seed in SEEDS:
                r = one_run(w, seed, bench["run_seconds"])
                results.setdefault(f"{w}/{s}", []).append(r)
                print(f"set {s} {w} seed {seed}: correct={r['correct']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    OUT.parent.mkdir(parents=True, exist_ok=True)
    OUT.write_text(json.dumps(results, indent=1))

    print(f"\n{'workload':14} {'metric':28} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11}"
          f" {'spread':>7} {'moved':>7} {'bound':>6}")
    ok = True
    for w in workloads:
        for metric, bound in bounds.items():
            first = None
            for s in range(SETS):
                vals = [r["metrics"][metric]["value"] for r in results[f"{w}/{s}"]]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                moved = 0.0 if first is None else (med - first) / first
                first = med if first is None else first
                flag = "" if spread <= bound / 3 else "  <- spread"
                ok &= spread <= bound
                ok &= abs(moved) <= bound
                print(f"{w:14} {metric:28} {s:>3} {med:11.5g} {q1:11.5g} {q3:11.5g}"
                      f" {spread:7.2%} {moved:7.2%} {bound:6.2f}{flag}")
    print("\nwithin bounds" if ok else "\nOUTSIDE BOUNDS")


if __name__ == "__main__":
    main()
