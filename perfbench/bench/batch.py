"""batch_sql and batch_curation: closed-loop query passes over a seeded
corpus, every warm-up result checked against the DuckDB oracle."""
import math
import os
import random
import statistics

from bench import corpus, oracle, stats

# Fixed query panels. A run has well under a minute, so each workload
# times a small panel of its query group instead of all of it (the 57
# and 81 queries take 34 s and 71 s per steady pass at this corpus size on
# 4 cores, plus a cold pass twice as long). README.md says why each is in.
PANELS = {
    # Relational / Windows / Analytic / Coverage / Extras: scan, join,
    # aggregate and window work in Spark itself
    "batch_sql": [
        "q01_pricing_summary", "q03_star_join_revenue", "q23_asof_join",
        "q43_range_join", "q53_above_cust_avg", "q58_window_family"],
    # Text / Vector / Pipeline: the engine's operators, expression
    # kernels and eager Pins.pin jobs
    "batch_curation": [
        "q24_token_stats", "q71_near_dup_clusters", "q79_ann_ivf_trained",
        "q125_ann_corpus_neighbors"],
}
MAX_PASSES = 64
OP_FAMILIES = ["scan", "exchange", "aggregate", "join", "generate", "sort",
               "window"]


def orders(workload, seed):
    """Warm-up order and the timed passes' orders, all seed-shuffled."""
    rng = random.Random(f"perfbench-{workload}-{seed}")
    names = list(PANELS[workload])
    rng.shuffle(names)
    passes = []
    for _ in range(MAX_PASSES):
        p = list(PANELS[workload])
        rng.shuffle(p)
        passes.append(p)
    return names, passes


def config(workload, seed, work):
    # One corpus for every seed, as the test corpus is one per scale:
    # the seed shuffles the query order, so a run's work is the same
    # whatever the seed (a seeded corpus moved q71's cluster count, and
    # with it the pass time, by a fifth between seeds)
    cdir = corpus.write(corpus.CORPUS_SEED, os.path.join(work, "corpus"))
    warm, passes = orders(workload, seed)
    return {"corpus": cdir, "warm_order": warm, "passes": passes}


def check(jvm, cfg, work):
    """Oracle-check the warm-up results and count failed timed runs;
    returns (attempted, failed, notes)."""
    with open(os.path.join(cfg["corpus"], "_COMPLETE")) as f:
        fp = f.read().strip()
    orc = oracle.Oracle(cfg["corpus"], fp, os.path.join(work, "oracle_cache"))
    failures = []
    for w in jvm["warm"]:
        name = w["name"]
        if w["error"]:
            failures.append(f"{name}: warm-up failed: {w['error']}")
            continue
        sql = jvm["oracle"].get(name)
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        why = orc.check(sql, os.path.join(cfg["out"], "results", name))
        if why:
            failures.append(f"{name}: {why}")
    for w in jvm["warm2"]:
        if w["error"]:
            failures.append(f"{w['name']}: warm-up failed: {w['error']}")
    for t in jvm["timed"]:
        if t["error"]:
            failures.append(f"{t['name']} pass {t['pass']}: {t['error']}")
    attempted = len(jvm["warm"]) + len(jvm["warm2"]) + len(jvm["timed"])
    return attempted, len(failures), failures


def timed_ok(jvm):
    return [t for t in jvm["timed"] if not t["error"]]


def end_to_end(jvm):
    """From each query's median over the passes: pass_s is the sum of the
    wall times (one steady pass, each query's stray slow run left out),
    latency_ms their geometric mean, so every query weighs the same
    however long it runs (a pooled median of a few heterogeneous queries
    jumps between them from run to run), and cpu_s the sum of the JVM's
    CPU seconds, JIT compiler threads left out (the pass's cost in
    core-seconds; the JIT share, a warm-up transient that has not settled
    after three passes and spreads twice as much between runs as the rest,
    is the per-layer jvm.jit_cpu_s)."""
    passes = [(p["end_ns"] - p["start_ns"]) / 1e9 for p in jvm["passes"]]
    per_query = {}
    for t in timed_ok(jvm):
        per_query.setdefault(t["name"], []).append(
            (t["end_ns"] - t["start_ns"]) / 1e6)
    if not passes or not per_query:
        raise RuntimeError("no complete timed pass in the time budget")
    medians = [statistics.median(v) for v in per_query.values()]
    cpu, jit = {}, {}
    for t in timed_ok(jvm):
        cpu.setdefault(t["name"], []).append(
            (t["cpu_ns"] - t["jit_ns"]) / 1e9)
        jit.setdefault(t["name"], []).append(t["jit_ns"] / 1e9)
    latency = math.exp(statistics.mean(math.log(m) for m in medians))
    pooled = stats.summary([x for v in per_query.values() for x in v])
    return ({"pass_s": (sum(medians) / 1e3, "s"),
             "latency_ms": (latency, "ms"),
             "cpu_s": (sum(statistics.median(v) for v in cpu.values()), "s")},
            {"passes_s": passes, "query_ms": pooled, "per_query_ms": {
                k: [round(x, 1) for x in v] for k, v in per_query.items()},
             "per_query_cpu_s": cpu, "per_query_jit_s": jit})


def per_layer(jvm, nproc):
    """Per-query-execution means of the traced counters."""
    execs = timed_ok(jvm)
    n = len(execs)
    groups = jvm["trace"]["groups"]
    ops = jvm["trace"]["ops"]
    tot = {}
    peak = 0
    idle = 0.0
    op_tot = {}
    for t in execs:
        task_s = 0.0
        for phase in ("build", "exec"):
            g = groups.get(f"t|{t['pass']}|{t['name']}|{phase}", {})
            for k, v in g.items():
                if k != "peak_task_mem_bytes":
                    tot[k] = tot.get(k, 0) + v
            peak = max(peak, g.get("peak_task_mem_bytes", 0))
            task_s += g.get("task_ms", 0) / 1e3
            for fam, m in ops.get(f"t|{t['pass']}|{t['name']}|{phase}",
                                  {}).items():
                r, ms = op_tot.get(fam, (0, 0.0))
                op_tot[fam] = (r + m["rows_out"], ms + m["ms"])
        wall = (t["end_ns"] - t["start_ns"]) / 1e9
        idle += max(0.0, wall * nproc - task_s)
    m = {
        "queries.build_s": statistics.mean(
            (t["built_ns"] - t["start_ns"]) / 1e9 for t in execs),
        "queries.exec_s": statistics.mean(
            (t["end_ns"] - t["built_ns"]) / 1e9 for t in execs),
        "pins.jobs": tot.get("pin_jobs", 0) / n,
        "pins.s": tot.get("pin_ns", 0) / 1e9 / n,
        "spark.jobs": tot.get("jobs", 0) / n,
        "spark.stages": tot.get("stages", 0) / n,
        "spark.tasks": tot.get("tasks", 0) / n,
        "spark.task_core_s": tot.get("task_ms", 0) / 1e3 / n,
        "spark.idle_core_s": idle / n,
        "spark.gc_s": tot.get("gc_ms", 0) / 1e3 / n,
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0) / n,
        "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0) / n,
        "spark.spill_bytes": tot.get("spill_bytes", 0) / n,
        "spark.peak_task_mem_bytes": peak,
        "jvm.jit_cpu_s": statistics.mean(t["jit_ns"] / 1e9 for t in execs),
    }
    for fam in OP_FAMILIES:
        r, ms = op_tot.get(fam, (0, 0.0))
        m[f"op.{fam}.rows_out"] = r / n
        m[f"op.{fam}.ms"] = ms / n
    return m
