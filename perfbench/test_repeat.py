#!/usr/bin/env python3
"""Structural-repeat check: two traced runs of the same code and seed
must count the same jobs, stages, exchanges and construction jobs, and
plan to the same fingerprint, for every key. Only the keys in ALLOW may
differ: they are the ones whose plans duplicate a corpus pass, so AQE's
exchange reuse decides their shape at run time.

    python3 perfbench/test_repeat.py [--workload W ...] [--seed N] [--seconds S]

Run from the repository root. Exits 1 and names every differing
(key, counter) pair on failure.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTERS = ["exec.jobs", "exec.stages", "plans.exchanges",
            "operators.construct_jobs", "plans.fingerprint"]
ALLOW = {"dedup_simhash_pairs", "ev_kmv_daily_rollup", "mm_phash_pairs",
         "text_decontam_hashed", "text_line_dedup", "text_lm_bits"}


def traced_run(workload, seed, seconds):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", "1"],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench", "out", f"{workload}-trace1",
                        "trace.json")
    with open(path) as fh:
        return json.load(fh)["per_key"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=16)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = args.workload or [w["name"] for w in json.load(fh)["workloads"]]
    diffs = []
    for w in names:
        a = traced_run(w, args.seed, args.seconds)
        b = traced_run(w, args.seed, args.seconds)
        for key in sorted(set(a) | set(b)):
            if key not in a or key not in b:
                diffs.append(f"{w} {key}: traced in one run only")
                continue
            for c in COUNTERS:
                if a[key][c] != b[key][c] and key not in ALLOW:
                    diffs.append(f"{w} {key} {c}: {a[key][c]} vs {b[key][c]}")
        print(f"{w}: {len(a)} keys compared")
    for d in diffs:
        print("DIFF", d)
    print("structural repeat:", "FAIL" if diffs else "PASS")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
