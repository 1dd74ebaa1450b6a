#!/usr/bin/env python3
"""graft benchmark: four fixed query workloads, closed loop, one JVM.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 15 --trace 0

Builds the program if its sources changed (perfbench/build.py), starts one
JVM running perfbench.Main over the workload's pass (perfbench/pools.json),
checks every result against perfbench/expected.json and prints, as the last
line of stdout, one JSON object: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. See perfbench/README.md.

Development options (not used by a normal run):
  --names a,b|all   run these registered queries instead of a workload
  --passes N        exactly N timed passes instead of --seconds
  --records FILE    keep the raw per-execution records (and spans) here
  --selfcheck       known-answer check of the plan inspector (SEED_FUNNELS)
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
sys.dont_write_bytecode = True
import build  # noqa: E402

DATA = HERE / "data" / "sf0.1"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
MB = 1e6
TAIL_PCT = 90
# Untimed passes before timing. The first pays class loading and the
# first-in-JVM jobs; the JIT is still speeding the second one up.
WARMUP_PASSES = 2
# Known answer for the plan inspector: the global row_number() funnels
# inside pinned (cached) subtrees at R29Queries.scala:47 and
# R49Queries.scala:95. A plan walk that skips InMemoryRelation.cachedPlan
# finds neither.
SEED_FUNNELS = ("q_entity_resolution", "q_textrank")


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--names")
    p.add_argument("--passes", type=int)
    p.add_argument("--records")
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args()
    if a.selfcheck:
        a.names, a.passes, a.trace = ",".join(SEED_FUNNELS), 1, 1
    if not a.workload and not a.names:
        p.error("--workload or --names is required")
    return a


def run_jvm(classes, plan_lines, args, extra):
    """Runs perfbench.Main; returns its records as a list of dicts."""
    run_dir = build.build_dir() / "runs" / f"{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        plan, out = run_dir / "plan.tsv", run_dir / "records.jsonl"
        plan.write_text("".join(f"{k}\t{v}\n" for k, v in plan_lines))
        opens = [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
        cmd = [build.java(), "-Xmx4g", "-XX:-UsePerfData", *opens,
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dspark.local.dir={run_dir / 'local'}",
               f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
               f"-Dderby.system.home={run_dir / 'derby'}",
               f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
               "perfbench.Main", "--sf", str(DATA), "--plan", str(plan),
               "--out", str(out), "--seed", str(args.seed),
               "--trace", str(args.trace), *extra]
        launch_us = time.time_ns() // 1000
        proc = subprocess.Popen(cmd + ["--launch-us", str(launch_us)],
                                stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
        try:
            # a probe over fixed passes may run long; a benchmark run may not
            code = proc.wait(timeout=None if args.passes else JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: JVM still running after {JVM_TIMEOUT_S} s; killed")
        if code != 0 or not out.is_file():
            sys.exit(f"perfbench: JVM exited with {code}")
        if args.records:
            shutil.copyfile(out, args.records)
        return [json.loads(line) for line in out.read_text().splitlines()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def latency_s(e):
    return (e["build_us"] + e["action_us"]) / 1e6


def end_to_end(run, timed, ok):
    by_query = {}
    for e in timed:
        by_query.setdefault(e["name"], []).append(latency_s(e))
    lat = [x for xs in by_query.values() for x in xs]
    print(f"perfbench: {len(timed)} timed executions; tail is p{TAIL_PCT}", file=sys.stderr)
    wall_min = (run["end_us"] - run["first_timed_us"]) / 60e6
    return {
        "throughput_qpm": ("queries/min", sum(ok) / wall_min),
        "query_p50_s": ("s", statistics.median(map(statistics.median, by_query.values()))),
        "query_tail_s": ("s", statistics.quantiles(lat, n=100, method="inclusive")[TAIL_PCT - 1]
                         if len(lat) > 1 else lat[0]),
        "ok_frac": ("ratio", sum(ok) / len(timed)),
        "setup_s": ("s", (run["first_timed_us"] - run["launch_us"]) / 1e6),
        "storage_peak_mb": ("MB", max(e["peak_bytes"] for e in timed) / MB),
    }


def self_times(spans):
    """Total duration and self time (duration minus the part covered by
    child spans) per span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end_us"] < s["start_us"]:
            continue
        covered, reach = 0, s["start_us"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            a, b = max(c["start_us"], reach), min(c["end_us"], s["end_us"])
            if b > a:
                covered, reach = covered + b - a, b
        d = s["end_us"] - s["start_us"]
        tot = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        tot["count"] += 1
        tot["total_s"] += d / 1e6
        tot["self_s"] += (d - covered) / 1e6
    return out


COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_records")


def count_spread(execs):
    """Queries whose counts differ between traced passes: (varying) between
    timed passes, with the counts of each; (cold) between the first warm-up
    pass and the first timed one, with the differences."""
    by = {}
    for e in execs:
        if e["traced"] and not e["error"]:
            by.setdefault(e["name"], []).append(e)
    varying, cold = {}, {}
    for name, es in sorted(by.items()):
        warm = [tuple(e[k] for k in COUNT_KEYS) for e in es if e["pass"] > 0]
        if len(set(warm)) > 1:
            varying[name] = {k: [w[i] for w in warm] for i, k in enumerate(COUNT_KEYS)}
        c0 = [e for e in es if e["pass"] == 0]
        if c0 and warm:
            d = {k: warm[0][i] - c0[0][k] for i, k in enumerate(COUNT_KEYS)
                 if warm[0][i] != c0[0][k]}
            if d:
                cold[name] = d
    return varying, cold


def per_layer(execs, timed):
    traced = [e for e in timed if e["traced"]]
    plain = [e for e in timed if not e["traced"]]
    npass = len({e["pass"] for e in traced})

    def tot(key, scale=1.0):
        return sum(e[key] for e in traced) * scale / npass

    def qpm(es):
        wall = sum(latency_s(e) for e in es) / 60
        return len(es) / wall

    wall_s = sum(latency_s(e) for e in traced)
    tasks = sum(e["tasks"] for e in traced)
    batches = sum(e["batches"] for e in traced)
    varying, _ = count_spread(execs)
    m = {
        "queries.build_s": ("s", tot("build_us", 1e-6)),
        "queries.build_jobs": ("count", tot("build_jobs")),
        "queries.action_s": ("s", tot("action_us", 1e-6)),
        "queries.actions": ("count", tot("actions")),
        "catalog.analysis_s": ("s", tot("analysis_ms", 1e-3)),
        "rules.optimize_s": ("s", tot("optimize_ms", 1e-3)),
        "plans.planning_s": ("s", tot("planning_ms", 1e-3)),
        "plans.graft_ops": ("count", tot("graft_ops")),
        "plans.window_unpartitioned": ("count", tot("window_unpartitioned")),
        "plans.rows_out": ("count", tot("rows_out")),
        "plans.stage_run_s": ("s", tot("graft_stage_run_ms", 1e-3)),
        "scheduler.jobs": ("count", tot("jobs")),
        "scheduler.stages": ("count", tot("stages")),
        "scheduler.tasks": ("count", tot("tasks")),
        "scheduler.idle_s": ("s", tot("idle_us", 1e-6)),
        "scheduler.empty_task_frac": (
            "ratio", sum(e["empty_tasks"] for e in traced) / tasks if tasks else 0.0),
        "scheduler.count_varying_queries": ("count", float(len(varying))),
        "executor.run_s": ("s", tot("run_ms", 1e-3)),
        "executor.cpu_s": ("s", tot("cpu_ns", 1e-9)),
        "executor.gc_s": ("s", tot("gc_ms", 1e-3)),
        "executor.busy_frac": (
            "ratio", sum(e["run_ms"] for e in traced) / 1e3 / (4 * wall_s)),
        "exchange.shuffle_records": ("count", tot("shuffle_records")),
        "exchange.shuffle_bytes": ("bytes", tot("shuffle_bytes")),
        "exchange.spill_bytes": ("bytes", tot("spill_bytes")),
        "core.pinned_mb": ("MB", tot("pinned_bytes", 1 / MB)),
        "core.read_mb": ("MB", tot("read_bytes", 1 / MB)),
        "core.write_mb": ("MB", tot("write_bytes", 1 / MB)),
        "streaming.batches": ("count", tot("batches")),
        "streaming.add_batch_s": ("s", tot("add_batch_ms", 1e-3)),
        "streaming.empty_batch_frac": (
            "ratio", sum(e["empty_batches"] for e in traced) / batches if batches else 0.0),
        "trace.throughput_qpm": ("queries/min", qpm(traced)),
        "trace.overhead_frac": ("ratio", qpm(plain) / qpm(traced) - 1 if plain else 0.0),
    }
    return m


def write_trace(path, records, timed):
    spans = [r for r in records if r["kind"] == "span"]
    execs = [r for r in records if r["kind"] == "exec"]
    traced = [e for e in timed if e["traced"]]
    timed_ids = {e["id"] for e in traced}
    npass = len({e["pass"] for e in traced})
    varying, cold = count_spread(execs)
    summary = {
        "traced_passes": sorted({e["pass"] for e in traced}),
        "self_time_per_pass": {
            k: {kk: vv / npass for kk, vv in v.items()}
            for k, v in self_times([s for s in spans if s["exec"] in timed_ids]).items()},
        "count_varying_queries": varying,
        "cold_pass_count_deltas": cold,
        "window_funnels": {e["name"]: e["funnels"] for e in execs if e["funnels"]},
    }
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
        f.write("\n")
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return summary


def main():
    args = parse_args()
    classes = build.build()
    pools = json.loads((HERE / "pools.json").read_text())
    expected = json.loads((HERE / "expected.json").read_text())["queries"]
    every_pool = [n for w in pools["workloads"].values() for n in w["pool"]]
    if args.names:
        names = ["*"] if args.names == "all" else args.names.split(",")
    elif args.workload in pools["workloads"]:
        names = pools["workloads"][args.workload]["pass"]
    else:
        sys.exit(f"perfbench: unknown workload {args.workload}")
    plan = [("pool", n) for n in every_pool] + [("run", n) for n in names]
    extra = (["--passes", str(args.passes), "--warmup", "1"] if args.passes else
             ["--seconds", str(args.seconds), "--warmup", str(WARMUP_PASSES)])
    records = run_jvm(classes, plan, args, extra)
    run = next(r for r in records if r["kind"] == "run")
    execs = [r for r in records if r["kind"] == "exec"]
    timed = [e for e in execs if e["pass"] > 0]

    def correct(e):
        want = expected.get(e["name"])
        return not e["error"] and want == [e["rows"], e["sum"], e["xor"]]

    ok = [correct(e) for e in timed]
    for e, good in zip(timed, ok):
        if not good:
            why = e["error"] or ("no expected checksum" if e["name"] not in expected
                                 else "checksum mismatch")
            print(f"perfbench: FAILED {e['name']} (pass {e['pass']}): {why}",
                  file=sys.stderr)
    if args.trace:
        metrics = per_layer(execs, timed)
        tag = args.workload or "names"
        summary = write_trace(build.build_dir() / "traces" / f"{tag}-seed{args.seed}.json",
                              records, timed)
        print("perfbench: self time per traced pass: " + json.dumps(
            {k: round(v["self_s"], 3) for k, v in summary["self_time_per_pass"].items()}),
            file=sys.stderr)
        if summary["count_varying_queries"]:
            print("perfbench: counts vary between passes for "
                  + ", ".join(summary["count_varying_queries"]), file=sys.stderr)
        if args.selfcheck:
            found = summary["window_funnels"]
            print(json.dumps({"selfcheck_funnels": found}))
            if not all(any(f.startswith("cached:row_number()") for f in found.get(n, []))
                       for n in SEED_FUNNELS):
                sys.exit("perfbench: selfcheck FAILED: a cached row_number() funnel is missing")
            return
    else:
        metrics = end_to_end(run, timed, ok)
    result = {
        "correct": all(ok),
        "attempted": len(timed),
        "failed": len(timed) - sum(ok),
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
