"""Steadiness check: run the benchmark repeatedly, one seed per run, and
report each end-to-end metric's spread against its bound.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]
        [--workload NAME ...] [--seconds S] [--json FILE]

Run from the root of a source checkout.  The spread of a metric is the
distance between the first and third quartiles of its values (Python's
``statistics.quantiles(values, n=4)``) as a share of their median.  A
metric is steady when its spread stays within its bound; ``setup_s`` is
reported but exempt, since only its median is compared between commits.
Exits non-zero when a run fails, reports an incorrect output, or a spread
exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["host"] = json.loads(lines[0]).get("host")
    return result


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    default=None, help="repeatable; default: all")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--json", help="write every run's result here")
    args = ap.parse_args()

    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, ok = {}, True
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(w, seed, args.seconds)
            runs.append(r)
            host = r["host"]
            print(f"{w} seed {seed}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} " + " ".join(
                      f"{n}={m['value']:.4g}"
                      for n, m in r["metrics"].items()) +
                  f" host_loop_s={host['start']['cpu_loop_s']:.3f}/"
                  f"{host['end']['cpu_loop_s']:.3f} steal_s="
                  f"{host['end']['steal_s'] - host['start']['steal_s']:.1f}",
                  flush=True)
            ok &= r["correct"] and r["failed"] == 0
        results[w] = runs
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            s = spread(vals) if len(vals) >= 2 else 0.0
            steady = name == "setup_s" or s <= bound
            ok &= steady
            print(f"  {w:16s} {name:12s} median={statistics.median(vals):.4g}"
                  f" spread={s:.3f} bound={bound} "
                  f"{'ok' if steady else 'TOO WIDE'}"
                  f"{' (exempt)' if name == 'setup_s' else ''}", flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(results, f)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
