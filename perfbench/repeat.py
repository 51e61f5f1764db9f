#!/usr/bin/env python3
"""Run every workload repeatedly and summarise the spread of each metric.

    python3 perfbench/repeat.py --runs 10 --seconds 8 --out perfbench/results/repeat.json

Run from the repository root. Run i uses seed --first-seed + i. For each
workload and metric it reports the median, the quartiles (Python's
statistics.quantiles(n=4)), the interquartile range as a share of the
median, and min/max. The bounds in BENCHMARK.json are set from these.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    record = next((json.loads(l)["record"] for l in lines if l.startswith('{"record"')), None)
    return json.loads(lines[-1]), record


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return {"median": m, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / m if m else None,
            "min": min(values), "max": max(values), "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default="sync,serve,corpus,stream")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    out = {"host": {"nproc": os.cpu_count(), "machine": platform.machine(),
                    "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())},
           "runs": a.runs, "seconds": a.seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        values, walls, failed, records = {}, [], 0, []
        for i in range(a.runs):
            t0 = time.monotonic()
            result, record = run_once(w, a.first_seed + i, a.seconds, a.trace)
            walls.append(time.monotonic() - t0)
            failed += result["failed"]
            records.append({"seed": a.first_seed + i, "correct": result["correct"],
                            "loadavg_start": record["host"]["loadavg_start"] if record else None})
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {a.first_seed + i}: {walls[-1]:.1f} s wall, correct={result['correct']}",
                  file=sys.stderr)
        out["workloads"][w] = {"metrics": {k: summary(v) for k, v in sorted(values.items())},
                               "values": values, "run_wall_s": summary(walls),
                               "failed_ops": failed, "runs": records}
        for k, s in sorted(out["workloads"][w]["metrics"].items()):
            share = "n/a" if s["iqr_share"] is None else f"{s['iqr_share']:.3f}"
            print(f"{w:7s} {k:30s} median {s['median']:.4g}  iqr/median {share}  "
                  f"min {s['min']:.4g}  max {s['max']:.4g}")
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
