#!/usr/bin/env python3
"""ubabench: seeded end-to-end and per-layer benchmark of the graft library.

Usage (from the repository root):
  python3 ubabench/run.py --workload <uba_sweep|curation_pipeline|stream_ingest>
                          --seed N --seconds S --trace <0|1>

Builds the library and the benchmark (ubabench/build.py, skipped when no
source changed), generates the workload's inputs from the seed
(ubabench/gen.py), runs one fresh JVM (ubabench/scala/Main.scala) that
measures a cold pass and then whole passes for S seconds, checks the
outputs, and prints one JSON line last:
  {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (README.md lists both). Exits non-zero without a result
when the build, the run or the input generation fails.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("uba_sweep", "curation_pipeline", "stream_ingest")
RUN_TIMEOUT_S = 170


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, correct_frac):
    passes = res["passes"]
    cold = [p for p in passes if p.get("cold")][0]
    steady = [p for p in passes if not p.get("cold") and not p["traced"]]
    return {
        "setup_s": _metric(res["setup_s"], "s"),
        "cold_cpu_s": _metric(cold["cpu_s"], "s"),
        "cpu_s": _metric(statistics.median(p["cpu_s"] for p in steady), "s"),
        "heap_peak_mb": _metric(max(p["live_heap_mb"] for p in passes), "MiB"),
        "results_correct_frac": _metric(correct_frac, "ratio"),
    }


def wall_layer(res, rows):
    """The wall-clock view of the untraced passes: too dependent on the
    host's CPU steal to gate on (README), reported beside the layers."""
    passes = res["passes"]
    steady = [p["wall_s"] for p in passes if not p.get("cold") and not p["traced"]]
    wall = statistics.median(steady)
    return {"bench.cold_wall_s": [p["wall_s"] for p in passes if p.get("cold")][0],
            "bench.wall_s": wall, "bench.rows_per_s": rows / wall}


def stream_layer(passes):
    """streaming.* from the StreamingQueryProgress records of the traced
    passes, plus the open-loop latency and generator lateness."""
    traced = [p for p in passes if p["traced"]]
    lat, late, out = [], [], {}
    sums = dict(batches=0, add_batch_s=0.0, state_update_s=0.0, state_commit_s=0.0,
                state_rows=0, state_bytes=0, rows_removed=0, backlog_max_batches=0)
    for p in traced:
        prog = p["progress"]
        data = [d for d in prog if d["input_rows"] > 0]
        sums["batches"] += len(data)
        sums["add_batch_s"] += sum(d["add_batch_ms"] for d in prog) / 1000
        sums["state_update_s"] += sum(d["state_update_ms"] for d in prog) / 1000
        sums["state_commit_s"] += sum(d["state_commit_ms"] for d in prog) / 1000
        last = {}
        for d in prog:  # the final (drained) state of each query
            if d["batch_id"] >= last.get(d["query"], {}).get("batch_id", -1):
                last[d["query"]] = d
        sums["state_rows"] += sum(d["state_rows"] for d in last.values())
        sums["state_bytes"] = max(sums["state_bytes"], max(d["state_bytes"] for d in prog))
        sums["rows_removed"] += sum(d["rows_removed"] for d in prog)
        ls = stats.batch_latencies(p["sent"], prog)
        lat += ls
        sums["backlog_max_batches"] = max(sums["backlog_max_batches"],
                                          stats.max_backlog(p["sent"], ls))
        late += [(b["send_ns"] - b["due_ns"]) / 1e9 for b in p["sent"]]
    n = max(1, len(traced))
    for k, v in sums.items():
        out["streaming." + k] = v if k in ("state_bytes", "backlog_max_batches") else v / n
    out["streaming.batch_p50_s"] = stats.percentile(lat, 0.5)
    out["streaming.batch_p90_s"] = stats.percentile(lat, 0.9)
    out["bench.gen_late_p90_s"] = stats.percentile(late, 0.9)
    return out


def per_layer(res, workload, rows, names):
    layer = dict(res["layer"], **wall_layer(res, rows))
    passes = res["passes"]
    if workload == "stream_ingest":
        layer.update(stream_layer(passes))
    if workload == "curation_pipeline":
        last = [p for p in passes if p["traced"]][-1]
        layer["operators.Dedup.minhashLshPairs.pairs"] = last["lsh_pairs"]
        layer["operators.Dedup.minhashLshPairs.dropped_buckets"] = last["dropped_buckets"]
        layer["operators.Dedup.winnowingPairs.pairs"] = last["winnow_pairs"]
    untraced = [p["wall_s"] for p in passes if not p["traced"] and not p.get("cold")]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    layer["bench.trace_overhead_frac"] = statistics.median(traced) / statistics.mean(untraced) - 1
    # layers a workload does not exercise read 0 (README: prediction table)
    return {n: _metric(float(layer.get(n, 0.0)), u) for n, u in names}


def _cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat's first line."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)


def run(args):
    cp = build.build()  # the first run in a checkout compiles, then it is cached
    started = time.monotonic()
    work = build.BUILD / "work" / ("%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        rows = gen.generate(args.workload, args.seed, work)
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        cmd = ["java", *build.JVM_OPENS, "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
               "-XX:-UsePerfData",
               "-Djava.io.tmpdir=%s" % (work / "tmp"), "-Dspark.local.dir=%s" % (work / "tmp"),
               "-cp", cp, "ubabench.Main", args.workload, str(work),
               str(args.seconds), str(args.trace)]
        steal0, total0 = _cpu_ticks()
        with open(work / "jvm.log", "wb") as log:
            launch = time.time_ns()
            subprocess.run(cmd + [str(launch)], cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - started)),
                           check=True)
        steal1, total1 = _cpu_ticks()
        res = json.loads((work / "result.json").read_text())
        # CPU time the hypervisor gave to other guests while this run wanted
        # it: the host noise behind a slow run, printed with every run
        res["layer"]["bench.host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        print("host steal during the run: %.3f" % res["layer"]["bench.host_steal_frac"],
              file=sys.stderr)
        outcome = checks.check(args.workload, res, work)
        passes = res["passes"]
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
        frac = sum(outcome.values()) / len(outcome)
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        if args.trace:
            # the span tree outlives the run's work directory
            traces = build.BUILD / "traces"
            traces.mkdir(exist_ok=True)
            (traces / ("%s-s%d.json" % (args.workload, args.seed))).write_text(
                json.dumps(res.get("spans", [])))
            names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
            metrics = per_layer(res, args.workload, rows, names)
        else:
            metrics = end_to_end(res, frac)
        for name, ok in outcome.items():
            if not ok:
                print("check failed: %s" % name, file=sys.stderr)
        return {"correct": frac == 1.0 and failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    except subprocess.CalledProcessError:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        out = run(args)
    except Exception as e:  # no result line on any failure
        print("ubabench: %s: %s" % (type(e).__name__, e), file=sys.stderr)
        sys.exit(1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
