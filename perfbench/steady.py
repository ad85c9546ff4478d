#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage, from the root of a checkout:

    python3 perfbench/steady.py --runs 10 [--workload <name> ...] [--set <label>]

Runs every chosen workload --runs times, each with another seed, and
reports for each end-to-end metric its median and the distance between its
first and third quartile as a share of that median (Python's
statistics.quantiles(values, n=4)). The figures of each set are stored in
perfbench/steadiness.json under the set's label; a metric whose spread
exceeds a tenth, or a third of its bound, is flagged.
"""
import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORD = os.path.join(HERE, "steadiness.json")


def run(workload, seed, seconds, trace="0"):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stdout}")
    return json.loads(r.stdout.splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append", choices=names)
    ap.add_argument("--set", default="A")
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = json.load(open(RECORD)) if os.path.exists(RECORD) else {}
    sets = record.setdefault("sets", {})
    this = sets.setdefault(a.set, {})
    for w in a.workload or names:
        values = {m: [] for m in bounds}
        walls = []
        bad = 0
        for i in range(a.runs):
            t0 = time.time()
            res = run(w, a.first_seed + i, bench["run_seconds"])
            walls.append(time.time() - t0)
            bad += (not res["correct"]) or res["failed"] > 0
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {a.first_seed + i}: " + ", ".join(
                f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        entry = {"runs": a.runs, "first_seed": a.first_seed, "incorrect_runs": bad,
                 "run_wall_s": {"median": round(statistics.median(walls), 1),
                                "max": round(max(walls), 1)},
                 "metrics": {}}
        for m, vs in values.items():
            s = spread(vs)
            flag = s > 0.1 or (m != "setup_s" and s > bounds[m] / 3)
            entry["metrics"][m] = {"median": statistics.median(vs), "spread": round(s, 4),
                                   "flagged": flag}
            print(f"{w} {m}: median {statistics.median(vs):.4g}, spread {s:.3f}"
                  f"{'  FLAGGED' if flag else ''}", flush=True)
        this[w] = entry
    this["date"] = datetime.date.today().isoformat()
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
