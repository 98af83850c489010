#!/usr/bin/env python3
"""Steadiness report: two sets of ten untraced runs per workload, seeds 1 to
10 in each, then each metric's median and quartiles per set, its spread
(interquartile distance over the median) and the drift of the second set's
median from the first's.

    python3 perfbench/steady.py

Each run's result is appended to perfbench/.work/steady.jsonl as it
finishes. A metric is steady when its spread stays below a third of its
bound in BENCHMARK.json (setup_s is exempt from the spread rule) and its
drift stays within the bound.
"""

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOG = os.path.join(HERE, ".work", "steady.jsonl")
SETS = 2
SEEDS = range(1, 11)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit("run failed: %s seed %d (exit %d)" % (workload, seed, p.returncode))
    return json.loads(p.stdout.strip().splitlines()[-1])


def report(records, bounds):
    """records: dicts with workload, set, seed and result."""
    ok = True
    for w in sorted({r["workload"] for r in records}):
        mine = [r for r in records if r["workload"] == w]
        if not all(r["result"]["correct"] for r in mine):
            ok = False
            print("%-13s some runs were not correct" % w)
        for m, bound in bounds.items():
            rows = []
            for s in range(SETS):
                values = [r["result"]["metrics"][m]["value"] for r in mine if r["set"] == s]
                q1, med, q3 = statistics.quantiles(values, n=4)
                rows.append((q1, med, q3, (q3 - q1) / med))
            drift = rows[-1][1] / rows[0][1] - 1
            steady = all(row[3] < bound / 3 or m == "setup_s" for row in rows) \
                and abs(drift) <= bound
            ok &= steady
            print("%-13s %-12s %s | drift %+5.1f%% bound %2.0f%% %s" % (
                w, m, " | ".join("q1 %.4g med %.4g q3 %.4g spread %4.1f%%" % (
                    q1, med, q3, 100 * spread) for q1, med, q3, spread in rows),
                100 * drift, 100 * bound, "ok" if steady else "NOT STEADY"))
    return ok


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    records = []
    with open(LOG, "w") as log:
        for w in (x["name"] for x in bench["workloads"]):
            for s in range(SETS):
                for seed in SEEDS:
                    r = {"workload": w, "set": s, "seed": seed,
                         "result": run(w, seed, bench["run_seconds"])}
                    records.append(r)
                    log.write(json.dumps(r) + "\n")
                    log.flush()
    sys.exit(0 if report(records, bounds) else 1)


if __name__ == "__main__":
    main()
