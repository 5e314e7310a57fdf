#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly on one commit and print,
per metric, the median, the quartiles and the quartile spread as a share of
the median (what the bounds in BENCHMARK.json are compared against).

    python3 lakebench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Run from the root of a checkout. Each run uses its own seed (first-seed,
first-seed + 1, ...), the run length from BENCHMARK.json and no tracing:
steadiness is judged on the end-to-end metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    """(steal, total) jiffies of the machine, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workload:
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", "0"]
            c0 = cpu_times()
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t0
            c1 = cpu_times()
            steal = (100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1])) if c0 and c1 else float("nan")
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})", flush=True)
                continue
            r = json.loads(lines[-1])
            r["wall_s"] = wall
            results.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} wall={wall:.1f}s steal={steal:.1f}% {vals}", flush=True)
        if not results:
            continue
        print(f"\n{w}: {len(results)} runs")
        print(f"  {'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'iqr/med':>8} {'bound':>6}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            unit = results[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            b = bounds.get(name)
            print(f"  {name + ' [' + unit + ']':34} {med:14.6g} {q1:14.6g} {q3:14.6g} "
                  f"{spread:8.4f} {'' if b is None else b:>6}")
        shares = {r["failed"] / r["attempted"] for r in results}
        walls = [r["wall_s"] for r in results]
        print(f"  failed/attempted shares: {sorted(shares)}")
        print(f"  run wall time: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s\n", flush=True)


if __name__ == "__main__":
    main()
