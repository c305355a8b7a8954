"""Per-layer metrics and spans of a traced run.

Every call is one span with three children — `operators.construct`
(`fn(spark, dir)`), `plans.plan` (forcing the executed plan) and
`exec.run` (running it) — and each job sits under the phase span that
submitted it, each stage under its job. A metric is computed per key as
the median over the key's traced steady calls, and per workload as the
sum over keys; the ratios (`sources.jobs_per_resolve`, `exec.slot_util`,
`cache.hit_ratio`, `trace.overhead_ratio`,
`trace.digest_share`) are ratios of workload sums.
"""
import collections
import statistics

MB = 1 << 20


def _union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0)


def _is_resolve(job):
    # a schema-inference job is submitted by DataFrameReader.parquet
    return job["sources"] and job["name"].startswith("parquet at")


def _spans(c):
    """The call's span tree, with self times."""
    start = c["start_ms"]
    bounds = {}
    t = start
    for phase, field in (("construct", "construct_ns"), ("plan", "plan_ns"),
                         ("run", "run_ns")):
        ms = c[field] / 1e6
        bounds[phase] = (t, t + ms)
        t += ms
    names = {"construct": "operators.construct", "plan": "plans.plan",
             "run": "exec.run"}
    children = []
    for phase, (lo, hi) in bounds.items():
        jobs = [j for j in c["jobs"] if j["phase"] == phase]
        covered = _union_ms([(j["start_ms"], j["start_ms"] + j["ms"]) for j in jobs],
                            lo, hi)
        children.append({
            "name": names[phase], "start_ms": lo, "ms": hi - lo,
            "self_ms": max(0.0, hi - lo - covered),
            "children": [{
                "name": f"job {j['id']}: {j['name']}", "start_ms": j["start_ms"],
                "ms": j["ms"], "sources": j["sources"],
                "children": [{"name": f"stage {s['id']}: {s['name']}",
                              "start_ms": s["start_ms"], "ms": s["ms"],
                              "tasks": s["tasks"]} for s in j["stages"]],
            } for j in jobs]})
    wall = c["wall_ns"] / 1e6
    return {"name": "call", "id": c["id"], "key": c["key"], "pass": c["pass"],
            "kind": c["kind"], "start_ms": start, "ms": wall,
            "self_ms": max(0.0, wall - sum(ch["ms"] for ch in children)),
            "children": children}


def _call_metrics(c, cores, probe_ms, probe_jobs):
    """Layer metrics of one traced call."""
    jobs = c["jobs"]
    run = [j for j in jobs if j["phase"] == "run"]
    cons = [j for j in jobs if j["phase"] == "construct"]
    stages = [s for j in run for s in j["stages"]]
    run_ms = c["run_ns"] / 1e6
    task_run = sum(s["task_run_ms"] for s in stages)
    phases = collections.Counter(c["phases_construct"]) + collections.Counter(c["phases_plan"])
    span = _spans(c)
    self_ms = {ch["name"]: ch["self_ms"] for ch in span["children"]}
    refs = c["table_refs"]
    return {
        "sources.resolve_ms": sum(probe_ms[t] for t in refs if t in probe_ms),
        "sources.resolve_jobs": sum(probe_jobs[t] for t in refs if t in probe_jobs),
        "sources.table_refs": len(refs),
        "sources.jobs_per_query": sum(1 for j in jobs if j["sources"]),
        "operators.construct_ms": c["construct_ns"] / 1e6,
        "operators.construct_jobs": len(cons),
        "plans.plan_ms": c["plan_ns"] / 1e6,
        "plans.analysis_ms": phases.get("analysis", 0),
        "plans.optimization_ms": phases.get("optimization", 0),
        "plans.planning_ms": phases.get("planning", 0),
        "plans.exchanges": c["exchanges"],
        "plans.nodes": c["nodes"],
        "exec.ms": run_ms,
        "exec.jobs": len(run),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_run_s": task_run / 1e3,
        "exec.task_cpu_s": sum(s["task_cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.sched_delay_s": sum(s["sched_delay_ms"] for s in stages) / 1e3,
        "exec.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "exec.input_mb": sum(s["input"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill"] for s in stages) / MB,
        "exec.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "exec.slot_capacity_ms": run_ms * cores,
        "exec.slot_util": task_run / (run_ms * cores) if run_ms > 0 else 0.0,
        "cache.write_mb": sum(s["output"] for j in jobs for s in j["stages"]) / MB,
        "cache.extra_construct_jobs": sum(1 for j in cons if not _is_resolve(j)),
        "spans.call_self_ms": span["self_ms"],
        "spans.construct_self_ms": self_ms["operators.construct"],
        "spans.plan_self_ms": self_ms["plans.plan"],
        "spans.run_self_ms": self_ms["exec.run"],
        "latency_ms": c["wall_ns"] / 1e6,
    }


def summarize(run, e2e, bad):
    """Returns (workload per-layer metrics, trace document)."""
    cores = run["cores"]
    ok = [c for c in run["calls"] if "error" not in c and c["key"] not in bad]
    traced = [c for c in ok if c["traced"]]

    by_table = collections.defaultdict(list)
    for p in run["probes"]:
        by_table[p["table"]].append(p)
    probe_ms = {t: statistics.median(p["ns"] for p in ps) / 1e6
                for t, ps in by_table.items()}
    probe_jobs = {t: statistics.median(p["jobs"] for p in ps)
                  for t, ps in by_table.items()}

    steady = collections.defaultdict(list)   # traced timed (warm) calls
    colds = collections.defaultdict(list)    # a key's first call in the JVM
    for c in traced:
        c["_m"] = _call_metrics(c, cores, probe_ms, probe_jobs)
        if c["kind"] == "timed":
            steady[c["key"]].append(c)
        elif c["kind"] == "warmup":
            colds[c["key"]].append(c)

    # the digest observer's price: a key's calls with and without it
    priced = collections.defaultdict(lambda: collections.defaultdict(list))
    for c in ok:
        if c["kind"] in ("observed", "bare"):
            priced[c["key"]][c["kind"]].append(c["wall_ns"] / 1e6)

    per_key = {}
    hits = warm_calls = 0
    for key in run["keys"]:
        calls = steady.get(key)
        if not calls:
            continue
        med = {name: statistics.median(c["_m"][name] for c in calls)
               for name in calls[0]["_m"]}
        fps = collections.Counter(c["fingerprint"] for c in calls)
        med["plans.fingerprint"] = fps.most_common(1)[0][0]
        med["plans.fingerprint_variants"] = len(fps)
        cold, warm = colds.get(key, []), calls
        if cold and warm:
            cold_ms = statistics.median(c["_m"]["latency_ms"] for c in cold)
            warm_ms = statistics.median(c["_m"]["latency_ms"] for c in warm)
            med["cache.build_ms"] = cold_ms - warm_ms
        else:
            med["cache.build_ms"] = 0.0
        med["cache.construct_jobs_cold"] = (
            statistics.median(c["_m"]["operators.construct_jobs"] for c in cold)
            if cold else 0)
        med["cache.write_mb"] = (
            statistics.median(c["_m"]["cache.write_mb"] for c in cold) if cold else 0.0)
        med["cache.rdds"] = statistics.median(c["new_rdds"] for c in cold) if cold else 0
        med["cache.pinned_mb"] = (
            statistics.median(c["pinned_delta"] for c in cold) / MB if cold else 0.0)
        # a key uses a cache when its cold call builds something its warm
        # calls can reuse: eager work beyond schema inference, a persisted
        # RDD, or written bytes
        uses = any(c["_m"]["cache.extra_construct_jobs"] > 0 or c["new_rdds"] > 0
                   or c["_m"]["cache.write_mb"] > 0 for c in cold)
        if uses and warm:
            h = sum(1 for c in warm if c["_m"]["cache.extra_construct_jobs"] == 0)
            med["cache.hit_ratio"] = h / len(warm)
            hits += h
            warm_calls += len(warm)
        else:
            med["cache.hit_ratio"] = None
        p = priced.get(key, {})
        if p.get("observed") and p.get("bare"):
            med["trace.observed_ms"] = statistics.median(p["observed"])
            med["trace.digest_ms"] = med["trace.observed_ms"] - statistics.median(p["bare"])
        else:
            med["trace.observed_ms"] = med["trace.digest_ms"] = 0.0
        med["calls"] = len(calls)
        per_key[key] = med

    def total(name):
        return sum(m[name] for m in per_key.values())

    timed = [c for c in run["calls"] if c["kind"] == "timed" and "error" not in c]
    lat_t = [c["wall_ns"] / 1e9 for c in timed if c["traced"]]
    lat_u = [c["wall_ns"] / 1e9 for c in timed if not c["traced"]]
    probes = run["probes"]
    workload = {name: total(name) for name in (
        "sources.resolve_ms", "sources.jobs_per_query",
        "operators.construct_ms", "operators.construct_jobs",
        "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
        "plans.exchanges", "plans.nodes",
        "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s",
        "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.input_mb",
        "exec.spill_mb", "exec.failed_tasks",
        "cache.build_ms", "cache.construct_jobs_cold", "cache.write_mb",
        "spans.call_self_ms", "spans.construct_self_ms", "spans.plan_self_ms",
        "spans.run_self_ms", "trace.digest_ms")}
    workload.update({
        "setup.first_s": run["setup_s"][0],
        "sources.jobs_per_resolve":
            sum(p["jobs"] for p in probes) / len(probes) if probes else 0.0,
        "exec.slot_util": (total("exec.task_run_s") * 1e3 /
                           max(total("exec.slot_capacity_ms"), 1e-9)),
        # with no cache-using key in the workload every warm call is a hit
        "cache.hit_ratio": hits / warm_calls if warm_calls else 1.0,
        "cache.rdds": run["persisted_rdds"],
        "cache.pinned_mb": run["pinned_bytes"] / MB,
        "trace.latency_p50_s": statistics.median(lat_t) if lat_t else 0.0,
        "trace.untraced_p50_s": statistics.median(lat_u) if lat_u else 0.0,
    })
    workload["trace.overhead_ratio"] = (
        workload["trace.latency_p50_s"] / workload["trace.untraced_p50_s"]
        if lat_t and lat_u else 1.0)
    workload["trace.digest_share"] = (
        total("trace.digest_ms") / total("trace.observed_ms")
        if total("trace.observed_ms") > 0 else 0.0)
    doc = {
        "workload_metrics": workload,
        "end_to_end_in_traced_run": {k: v for k, (v, _) in e2e.items()},
        "probes": {t: {"ms": probe_ms[t], "jobs": probe_jobs[t]} for t in probe_ms},
        "per_key": per_key,
        "spans": [_spans(c) for c in traced],
    }
    return workload, doc
