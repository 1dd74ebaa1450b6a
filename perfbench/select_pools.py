#!/usr/bin/env python3
"""Freezes the workloads from a probe: applies the selection rule to the
per-query numbers of a probe run and writes perfbench/pools.json and
perfbench/expected.json.

    python3 perfbench/run.py --names all --passes 3 --seed 7 --trace 1 \\
        --records probe.jsonl
    python3 perfbench/select_pools.py probe.jsonl [more probes ...]

The probe runs every registered query once cold (pass 0) and three times
warm (passes 1-3), traced, in one JVM with the benchmark's session. Per
query the rule takes medians over the warm passes:

  busy = executor run time / (4 cores x query wall)

and assigns each query to at most one pool, in this order:

  stream_write  it ran streaming micro-batches, or its tasks wrote bytes
  iterative     >= 15 jobs and busy < 0.20
  task_bound    busy >= 0.40
  window        its executed plan holds a graft Global*/Partitioned* operator

A pool is frozen as a name list. A benchmark run executes the pool's
*pass*: a fixed sample of the pool that fits a run (see PASS_BUDGET_S), so
every seed runs the same queries and only their order changes. The sample
is stratified first by the pool's kinds of query (CLAUSES), so each kind
has a member, then by latency within each kind. The expected checksum of a
query is the one every probe execution of it agreed on; crosscheck.py
--freeze then replaces it with DuckDB's where graft's result is wrong, so
run it after this script. Such a query stays in its pool and keeps DuckDB's
checksum (this script carries both over from expected.json), but no pass
takes it: a benchmark run must not fail, so a pass holds only queries whose
result is right. If crosscheck.py --freeze finds a new one, run this script
again.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ORDER = ("stream_write", "iterative", "task_bound", "window")
WHY = {
    "iterative": "graph solvers, BFS crawls and dedup loops: per-job and "
                 "per-action fixed cost, most wall outside any Spark job",
    "task_bound": "executor-bound queries: work in functions, ext and the "
                  "exchange; a job-count cut should leave it unchanged",
    "window": "plans with graft Global*/Partitioned* window operators: "
              "the plans and rules layers",
    "stream_write": "streaming micro-batches and file writes: the streaming, "
                    "sources and core.Sinks layers, writes beside reads",
}
# Wall budget of one warm pass (sum of probe median latencies). A run is
# JVM start + two warm-up passes + --seconds of timing; in a fresh JVM a
# 5 s pass costs ~25 s of warm-up, which keeps a 20 s run near a minute.
PASS_BUDGET_S = 5.0
# The kinds of query in a pool, each with at least one member in the pass:
# (label, predicate over a query's name and probe numbers); a query takes
# the first kind it matches. In `iterative`, the BFS crawls and dedup loops
# the workload is named for, the other loops driven from the builder, and
# the loops whose time is in actions; in `stream_write`, streaming queries
# and file writes.
CLAUSES = {
    "stream_write": [("streaming", lambda n, q: q["stream"]),
                     ("file_write", lambda n, q: True)],
    "iterative": [("crawl_dedup", lambda n, q: any(
                      k in n for k in ("crawl", "dedup", "edges_actual"))),
                  ("builder_loop", lambda n, q: q["build_frac"] >= 0.5),
                  ("action_loop", lambda n, q: True)],
    "task_bound": [("all", lambda n, q: True)],
    "window": [("all", lambda n, q: True)],
}
RULE = [
    "probe: every registered query, 1 cold + 3 warm passes, traced, local[4], sf0.1",
    "per query, medians over the warm passes; busy = executor run time / (4 x wall)",
    "stream_write: ran streaming micro-batches, or its tasks wrote bytes",
    "iterative: not above, >= 15 jobs and busy < 0.20",
    "task_bound: not above, busy >= 0.40",
    "window: not above, executed plan holds a graft Global*/Partitioned* operator",
    "pass kinds: stream_write = streaming (ran micro-batches), file_write (the rest); "
    "iterative = crawl_dedup (name holds crawl, dedup or edges_actual), builder_loop "
    "(>= half the wall in the builder call), action_loop (the rest)",
    "pass: k slots shared among the kinds by their probe wall (largest remainder, at "
    "least one each); per kind, its slots' equal-count latency strata, the middle member "
    f"of each; the largest k whose summed probe latency <= {PASS_BUDGET_S} s",
    "a query whose result differs from DuckDB's (expected.json oracle_corrected) stays "
    "in its pool but is left out before the strata are drawn",
]


def load(paths):
    execs = []
    for p in paths:
        for line in open(p):
            r = json.loads(line)
            if r["kind"] == "exec":
                execs.append(r)
    return execs


def per_query(execs):
    by = {}
    for e in execs:
        by.setdefault(e["name"], []).append(e)
    out = {}
    for name, es in sorted(by.items()):
        warm = [e for e in es if e["pass"] > 0 and e["traced"]]
        lat = [(e["build_us"] + e["action_us"]) / 1e6 for e in warm]
        sums = {(e["rows"], e["sum"], e["xor"]) for e in es if not e["error"]}
        out[name] = {
            "lat_s": statistics.median(lat),
            "jobs": statistics.median(e["jobs"] for e in warm),
            "busy": statistics.median(
                e["run_ms"] / 1e3 / (4 * l) for e, l in zip(warm, lat)),
            "stream": any(e["batches"] > 0 for e in warm),
            "writes": any(e["write_bytes"] > 0 for e in warm),
            "window": any(e["window_ops"] > 0 for e in warm),
            "failed": any(e["error"] for e in es),
            "checksums": sums,
            "build_frac": statistics.median(
                e["build_us"] / 1e6 / l for e, l in zip(warm, lat)),
            "idle_frac": statistics.median(
                e["idle_us"] / 1e6 / l for e, l in zip(warm, lat)),
            "shuffle_records": statistics.median(e["shuffle_records"] for e in warm),
        }
    return out


def assign(q):
    if q["stream"] or q["writes"]:
        return "stream_write"
    if q["jobs"] >= 15 and q["busy"] < 0.20:
        return "iterative"
    if q["busy"] >= 0.40:
        return "task_bound"
    if q["window"]:
        return "window"
    return None


def middles(ranked, k):
    """The middle member of each of k equal-count strata of a ranked list."""
    return [ranked[int((i + 0.5) * len(ranked) / k)] for i in range(k)]


def slots(walls, k):
    """k slots shared by wall (largest remainder), at least one each."""
    total = sum(walls)
    share = [max(1.0, k * w / total) for w in walls]
    got = [int(s) for s in share]
    by_rest = sorted(range(len(walls)), key=lambda i: got[i] - share[i])
    for i in by_rest[:max(0, k - sum(got))]:
        got[i] += 1
    return got


def stratified_pass(kinds, stats, budget, wrong):
    """The largest k whose sample fits the budget: k slots shared among
    the kinds, each kind's slots at the middles of its latency strata.
    Queries in `wrong` are not drawn."""
    ranked = [sorted((n for n in ns if n not in wrong), key=lambda n: (stats[n]["lat_s"], n))
              for ns in kinds]
    walls = [sum(stats[n]["lat_s"] for n in ns) for ns in ranked]
    best = [r[len(r) // 2] for r in ranked]
    for k in range(len(kinds), sum(map(len, kinds)) + 1):
        got = slots(walls, k)
        if any(g > len(r) for g, r in zip(got, ranked)):
            continue
        pick = [n for r, g in zip(ranked, got) for n in middles(r, g)]
        if sum(stats[n]["lat_s"] for n in pick) <= budget:
            best = pick
    return sorted(best)


def kinds_of(w, pool, stats):
    kinds = {label: [] for label, _ in CLAUSES[w]}
    for n in pool:
        label = next(lb for lb, pred in CLAUSES[w] if pred(n, stats[n]))
        kinds[label].append(n)
    return {lb: ns for lb, ns in kinds.items() if ns}


def summary(pool, stats):
    def tot(k):
        return round(sum(stats[n][k] for n in pool), 2)
    lat = [stats[n]["lat_s"] for n in pool]
    return {
        "queries": len(pool),
        "pass_wall_s": round(sum(lat), 2),
        "median_query_s": round(statistics.median(lat), 3),
        "jobs": tot("jobs"),
        "shuffle_records": tot("shuffle_records"),
        "build_frac": round(sum(stats[n]["build_frac"] * stats[n]["lat_s"]
                                for n in pool) / sum(lat), 3),
        "idle_frac": round(sum(stats[n]["idle_frac"] * stats[n]["lat_s"]
                               for n in pool) / sum(lat), 3),
    }


def main():
    stats = per_query(load(sys.argv[1:]))
    old = json.loads((HERE / "expected.json").read_text())
    wrong = {n: old["queries"][n] for n in old.get("oracle_corrected", [])}
    pools = {w: [] for w in ORDER}
    for name, q in stats.items():
        w = assign(q)
        if w:
            pools[w].append(name)
    workloads = {}
    for w in ORDER:
        pool = sorted(pools[w])
        kinds = kinds_of(w, pool, stats)
        sample = stratified_pass(list(kinds.values()), stats, PASS_BUDGET_S, wrong)
        workloads[w] = {
            "why": WHY[w],
            "pool": pool,
            "kinds": kinds,
            "pass": sample,
            "probe_pool": summary(pool, stats),
            "probe_pass": summary(sample, stats),
        }
    doc = {"rule": RULE, "workloads": workloads}
    (HERE / "pools.json").write_text(json.dumps(doc, indent=1) + "\n")

    members = sorted(n for w in workloads.values() for n in w["pool"])
    unstable = [n for n in members if len(stats[n]["checksums"]) != 1]
    failed = [n for n in members if stats[n]["failed"]]
    expected = {n: list(next(iter(stats[n]["checksums"])))
                for n in members if len(stats[n]["checksums"]) == 1}
    expected.update(wrong)
    doc = {"data": "sf0.1", "queries": expected}
    if wrong:
        doc["oracle_corrected"] = sorted(wrong)
    (HERE / "expected.json").write_text(json.dumps(doc, indent=0, sort_keys=True) + "\n")
    for w, v in workloads.items():
        print(w, v["probe_pool"], "pass:", v["probe_pass"], v["pass"])
    print("failed:", failed)
    print("unstable checksums:", unstable)


if __name__ == "__main__":
    main()
