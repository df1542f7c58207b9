#!/usr/bin/env python3
"""Runs the benchmark on one workload over several seeds and prints, per
metric, the median and the run-to-run spread (interquartile range over the
median, as statistics.quantiles(values, n=4) gives the quartiles).

Usage: python3 ubabench/repeat.py --workload W --seeds 1-10 [--seconds S] [--trace 0|1]
Writes every run's result line to stdout as it finishes, then the summary.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    seconds = args.seconds or spec["run_seconds"]
    lo, _, hi = args.seeds.partition("-")
    values, walls = {}, []
    for seed in range(int(lo), int(hi or lo) + 1):
        t = time.monotonic()
        out = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", str(args.trace)],
                             capture_output=True, text=True, cwd=HERE.parent)
        walls.append(time.monotonic() - t)
        if out.returncode != 0:
            print("seed %d failed:\n%s" % (seed, out.stderr[-2000:]), flush=True)
            continue
        line = json.loads(out.stdout.strip().splitlines()[-1])
        steal = [ln.rsplit(" ", 1)[-1] for ln in out.stderr.splitlines() if ln.startswith("host steal")]
        print(json.dumps({"seed": seed, "run_s": round(walls[-1], 1),
                          "host_steal": float(steal[-1]) if steal else None, **line}), flush=True)
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print("runs: %d, run length median %.1f s" % (len(walls), statistics.median(walls)))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, vs in values.items():
        sp = stats.spread(vs) if len(vs) >= 2 and statistics.median(vs) else float("nan")
        print("%-48s median %-14.6g spread %.4f bound %s" % (k, statistics.median(vs), sp, bounds.get(k)))


if __name__ == "__main__":
    main()
