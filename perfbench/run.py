#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_sf01 --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The script builds the engine and the
harness from source, generates the input tables and verifies every
workload key against its DuckDB oracle (all three once per build), runs
the closed-loop harness in a fresh JVM with the key order of each pass
drawn from the seed, checks every call's result digest against the
verified one, and prints a table of metrics followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics from a traced run, and writes every span and per-key metric to
.perfbench/out/<workload>-trace1/trace.json. `--workload all` runs every
workload in turn and prints one row per workload; its JSON line keys
`metrics` by workload. `--corrupt KEY`
duplicates one row of KEY's result in every call, to show the check
fails.
Everything the benchmark writes stays under .perfbench/ in the
repository root.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

MB = 1 << 20
SETUPS = 6
DATA_SEED = 42
# one core of the (at most four) is left to the JIT compiler, the garbage
# collector and the client thread, so they do not stall the task threads
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if not os.path.isfile(f):
            raise SystemExit(f"perfbench: build input missing: {f}")
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return (classpath, stamp)."""
    stamp = source_stamp()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"], stamp
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true") +
                       f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}")
    log("building engine and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = p.stdout.strip().splitlines()[-1]
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, stamp


def fingerprint(d):
    h = hashlib.sha256()
    for t in datagen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def inputs(kind):
    """Generate (once per checkout) and return (dir, fingerprint) of the
    workload's input tables."""
    d = os.path.join(WORK, "data", kind)
    marker = os.path.join(d, "fingerprint")
    if not os.path.exists(marker):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        if kind == "sf01":
            datagen.make_sf01(DATA_SEED, d)
        else:
            datagen.make_x10(inputs("sf01")[0], d)
        with open(marker, "w") as fh:
            fh.write(fingerprint(d))
        log(f"generated {kind} inputs in {time.time() - t0:.1f} s")
    with open(marker) as fh:
        return d, fh.read().strip()


def verified(classpath, stamp, name, wl):
    """The digests of the workload's results that match the DuckDB
    oracle, computed once per build and input set: {key: {"digest": d}}
    or {key: {"error": why}}."""
    data, fp = inputs(wl["input"])
    path = os.path.join(WORK, "verified", f"{name}.json")
    if os.path.exists(path):
        with open(path) as fh:
            saved = json.load(fh)
        if (saved["stamp"], saved["inputs"], sorted(saved["keys"])) == (
                stamp, fp, sorted(wl["keys"])):
            return saved["keys"]
    t0 = time.time()
    out = os.path.join(WORK, "out", f"{name}-verify")
    v = harness(classpath, ["--task", "verify", "--workload", name,
                            "--seed", "0", "--seconds", "0", "--trace", "0"],
                wl, data, out, "verify.json", timeout=600)
    results = v["results"]
    keys = {k: ({"error": r["error"]} if "error" in r else {"digest": r["digest"]})
            for k, r in results.items()}
    paths = {k: r["path"] for k, r in results.items() if "path" in r}
    for k, why in oracle.compare(data, v["oracle_sql"], paths).items():
        keys[k] = {"error": why}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"stamp": stamp, "inputs": fp, "keys": keys}, fh, indent=1)
    log(f"verified {name}: {len(keys)} keys in {time.time() - t0:.1f} s")
    return keys


def harness(classpath, task_args, wl, data, out, result, timeout):
    """Run the harness JVM; return its JSON result file."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{wl['heap']}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Harness"] + task_args +
           ["--data", data, "--out", out, "--keys", ",".join(wl["keys"]),
            "--cores", str(CORES),
            "--setups", str(SETUPS)])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(out, result)) as fh:
        return json.load(fh)


def p90(xs):
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def judge(run, verified_keys):
    """Per-key verdicts: a key fails when its result did not match the
    oracle, or when any of its calls threw or digested differently from
    the verified result. Calls run without the digest observer ("bare")
    are checked only for errors. Returns (bad keys with reasons, failed
    timed calls, attempted timed calls)."""
    bad = {k: v["error"] for k, v in verified_keys.items() if "error" in v}
    for c in run["calls"]:
        want = verified_keys[c["key"]].get("digest")
        if "error" in c:
            bad.setdefault(c["key"], f"call {c['id']}: {c['error']}")
        elif c["kind"] != "bare" and c["digest"] != want:
            bad.setdefault(c["key"], f"call {c['id']}: digest {c['digest']} "
                                     f"!= verified {want}")
    timed = [c for c in run["calls"] if c["kind"] == "timed"]
    failed = sum(1 for c in timed if c["key"] in bad)
    return bad, failed, len(timed)


def per_key_median(calls, field):
    """Mean over keys of each key's median `field`: a JIT or GC burst in
    one call moves neither, and every key weighs the same."""
    by_key = {}
    for c in calls:
        by_key.setdefault(c["key"], []).append(c[field])
    return statistics.mean(statistics.median(v) for v in by_key.values())


def end_to_end(run, failed, attempted):
    timed = [c for c in run["calls"] if c["kind"] == "timed"]
    lat = [c["wall_ns"] / 1e9 for c in timed]
    # set-up 0 runs from JVM main entry; the later ones re-create the
    # session in the warm JVM and are steady enough to gate
    return {
        "setup_s": (statistics.median(run["setup_s"][1:]), "s"),
        "setup_first_s": (run["setup_s"][0], "s"),
        "warmup_s": (run["warmup_s"], "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (p90(lat), "s"),
        "queries_per_s": (len(timed) / run["timed_wall_s"], "1/s"),
        "cpu_s_per_query": (per_key_median(timed, "cpu_ns") / 1e9, "s"),
        "pinned_mb": (run["pinned_bytes"] / MB, "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    names = ([w["name"] for w in contract["workloads"]]
             if args.workload == "all" else [args.workload])
    unknown = [n for n in names if n not in workloads]
    if unknown:
        raise SystemExit(f"perfbench: unknown workload {unknown}")
    classpath, stamp = build()
    # inputs and oracle-verified digests for every workload are made once
    # per build, before any workload is measured
    checks = {n: verified(classpath, stamp, n, workloads[n]) for n in
              dict.fromkeys([w["name"] for w in contract["workloads"]] + names)}

    rows = []
    for name in names:
        wl = workloads[name]
        data, fp = inputs(wl["input"])
        out = os.path.join(WORK, "out", f"{name}-trace{args.trace}")
        task = ["--task", "bench", "--workload", name, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.corrupt:
            task += ["--corrupt", args.corrupt]
        run = harness(classpath, task, wl, data, out, "run.json",
                      timeout=args.seconds + 150)
        bad, failed, attempted = judge(run, checks[name])
        for k, why in sorted(bad.items()):
            log(f"FAILED {k}: {why}")
        e2e = end_to_end(run, failed, attempted)
        timed = [c for c in run["calls"] if c["kind"] == "timed"]
        beyond = len(timed) - math.ceil(0.9 * len(timed))
        row = {"workload": name, "seed": args.seed, "inputs": fp,
               "keys": len(wl["keys"]), "calls": attempted,
               "beyond_p90": beyond, "failed": failed}
        if args.trace:
            per_layer, trace = layers.summarize(run, e2e, bad)
            trace.update(row)
            with open(os.path.join(out, "trace.json"), "w") as fh:
                json.dump(trace, fh, indent=1)
            metrics = {m["name"]: (per_layer[m["name"]], m["unit"])
                       for m in contract["per_layer"]}
        else:
            metrics = {m["name"]: e2e[m["name"]] for m in contract["end_to_end"]}
        row["table"] = metrics if args.trace else e2e
        rows.append((row, metrics, attempted, failed))
        with open(os.path.join(out, "summary.json"), "w") as fh:
            json.dump({**row, "bad": bad}, fh, indent=1)

    for row, _, _, _ in rows:
        print(f"== {row['workload']}  seed={row['seed']}  inputs={row['inputs']}"
              f"  keys={row['keys']}  calls={row['calls']}"
              f"  beyond_p90={row['beyond_p90']}  failed={row['failed']}")
        for k, (v, unit) in row["table"].items():
            print(f"   {k:<32} {v:>14.6g} {unit}")
    attempted = sum(r[2] for r in rows)
    failed = sum(r[3] for r in rows)
    by_workload = {row["workload"]: {k: {"value": v, "unit": u}
                                     for k, (v, u) in m.items()}
                   for row, m, _, _ in rows}
    metrics = (by_workload[names[0]] if len(names) == 1 else by_workload)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
