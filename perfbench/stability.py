#!/usr/bin/env python3
"""Runs one workload once per seed and reports, for every metric, the median
and the quartile spread: (Q3 - Q1) / median, with the quartiles of
statistics.quantiles(values, n=4).

    python3 perfbench/stability.py --workload crawl_durable_thin --seeds 1-10 --seconds 6

Each run is a separate `run.py` invocation. The per-run JSON lines and the
summary go to perfbench/out/stability-<workload>-trace<t>.json.
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range such as 1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    runs = []
    for seed in seeds_of(a.seeds):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {r.returncode})")
            continue
        result = json.loads(lines[-1])
        runs.append({"seed": seed, **result})
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
            if a.trace == 0))

    summary = {}
    names = runs[0]["metrics"].keys() if runs else []
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs]
        row = {"median": benchlib.median(values), "n": len(values)}
        if len(values) >= 2:
            row["spread"] = benchlib.quartile_spread(values)
        summary[name] = row
        if a.trace == 0:
            print(f"{name:>20}: median {row['median']:.5g}  spread {row.get('spread', 0):.3f}")
    out = os.path.join(BENCH, "out", f"stability-{a.workload}-trace{a.trace}.json")
    with open(out, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    print(f"all correct: {all(r['correct'] for r in runs)} ({len(runs)} runs); see {out}")


if __name__ == "__main__":
    main()
