#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage (from the repository root):
  python3 perfbench/spread.py --runs 10 [--workloads a,b] [--first-seed 1] [--out FILE]

Runs `run.py` once per seed on each workload (untraced), then prints for
every end-to-end metric the median, the quartiles, and the spread: the
distance between the quartiles (`statistics.quantiles(values, n=4)`) as a
share of the median, next to a third of the metric's bound in BENCHMARK.json.
One traced run per workload follows; its `trace.qps` against the untraced
median qps gives the tracing overhead. `--out` writes the whole record.
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


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t
    return res


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {}
    for w in a.workloads.split(","):
        runs = [run(w, s, bench["run_seconds"], 0)
                for s in range(a.first_seed, a.first_seed + a.runs)]
        rec = {"runs": runs, "metrics": {}}
        print(f"{w}: {a.runs} runs, correct {sum(r['correct'] for r in runs)}/{a.runs}, "
              f"failed ops {sum(r['failed'] for r in runs)}, wall per run "
              f"{min(r['wall_s'] for r in runs):.1f}-{max(r['wall_s'] for r in runs):.1f} s")
        for m, bound in bounds.items():
            vals = [r["metrics"][m]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            rec["metrics"][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread}
            flag = "" if spread < bound / 3 else "  <-- above bound/3"
            print(f"  {m:18s} median {med:12.5f}  q1 {q1:12.5f}  q3 {q3:12.5f}  "
                  f"spread {spread:.4f}  bound/3 {bound / 3:.4f}{flag}")
        if not a.no_trace:
            t = run(w, a.first_seed, bench["run_seconds"], 1)
            rec["traced"] = t
            qps = rec["metrics"]["qps"]["median"]
            tq = t["metrics"]["trace.qps"]["value"]
            rec["trace_overhead"] = (qps - tq) / qps
            print(f"  tracing overhead on qps: {rec['trace_overhead']:+.4f} "
                  f"(traced {tq:.4f} vs untraced median {qps:.4f})")
        record[w] = rec
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
