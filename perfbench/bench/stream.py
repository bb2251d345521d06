"""stream_ingest: open-loop HTTP ingest through dedup and upsert."""
import json
import os
import queue
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

import pyarrow.dataset as ds

from bench import common, events, stats

# Fixed load, picked once on a 4-core machine (README.md): `low` is well
# under capacity, `high` near but under it, `burst` a backlog posted as
# fast as the connections allow. Rates are events per second.
# (events per POST, POST interval): one POST lands while the previous
# micro-batch is done, so each becomes a micro-batch of its own and the
# number of batches is set by the schedule, not by how fast they ran
LOW = (400, 2_000_000_000)     # 200 events/s
HIGH = (3000, 1_500_000_000)   # 2000 events/s
BURST_POSTS, BURST_PER_POST = 60, 250
WARM_POSTS, WARM_PER_POST = 4, 50
WATERMARK = "10 minutes"
PHASES = ("low", "high", "burst")
STAGES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets"]


def phase_table(seconds, burst):
    """`low` takes 60 % of the time budget and `high` 40 %, in POSTs. The
    burst, whose drain time depends on where it lands in the batch cycle
    and is not gated, runs in traced runs only, after `high`."""
    n_low = max(1, int(seconds * 0.6 * 1e9 / LOW[1]))
    n_high = max(1, int(seconds * 0.4 * 1e9 / HIGH[1]))
    table = [["warm", WARM_POSTS, WARM_PER_POST, None],
             ["low", n_low, LOW[0], LOW[1]],
             ["high", n_high, HIGH[0], HIGH[1]]]
    if burst:
        table.append(["burst", BURST_POSTS, BURST_PER_POST, None])
    return table


def config(seed, seconds, nproc, trace):
    phases = phase_table(seconds, burst=trace)
    warm = sum(1 for p in events.plan(seed, phases[:1])
               for ev in p["lines"] if "resend" not in ev)
    rates = {name: per_post * 1e9 / interval
             for name, _, per_post, interval in phases if interval}
    return {"phases": phases, "rates_eps": rates, "warm_events": warm,
            "watermark": WATERMARK, "conns": nproc}


def _left(deadline):
    left = deadline - time.monotonic()
    if left <= 0:
        raise RuntimeError("stream run out of time")
    return left


def _gen(cfg, here, send, out, deadline):
    path = out + ".config.json"
    with open(path, "w") as f:
        json.dump({"port": cfg["port"], "seed": cfg["seed"],
                   "phases": cfg["phases"], "send": send,
                   "conns": cfg["conns"], "out": out}, f)
    subprocess.run([sys.executable, os.path.join(here, "bench", "gen.py"),
                    path], check=True, timeout=_left(deadline))
    with open(out) as f:
        return json.load(f)


def run(cp, work, cfg, here, deadline):
    """Run the JVM and the generator; returns (jvm record, gen record)."""
    out = cfg["out"]
    path = os.path.join(out, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    log = open(os.path.join(out, "jvm.log"), "w")
    p = subprocess.Popen(common.java_cmd(cp, work, path),
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                         stderr=log, text=True)
    lines = queue.Queue()
    threading.Thread(target=lambda: [lines.put(l) for l in p.stdout],
                     daemon=True).start()

    def expect(prefix):
        until = deadline
        while time.monotonic() < until:
            try:
                l = lines.get(timeout=max(0.01, until - time.monotonic()))
            except queue.Empty:
                break
            if l.startswith(prefix):
                return l.split()[1]
        raise RuntimeError(f"harness JVM did not say {prefix.strip()}")

    try:
        cfg["port"] = int(expect("PORT "))
        warm = _gen(cfg, here, ["warm"], os.path.join(out, "gen-warm.json"),
                    deadline)
        expect("READY ")
        gen = _gen(cfg, here, [p[0] for p in cfg["phases"][1:]],
                   os.path.join(out, "gen.json"),
                   deadline)
        acked = {i for r in gen["posts"] if r["status"] == 202
                 for i in r["ids"]}
        p.stdin.write(f"DONE {len(acked)}\n")
        p.stdin.close()
        rc = p.wait(timeout=_left(deadline))
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        log.close()
    if rc != 0:
        raise RuntimeError(f"harness JVM exited {rc}")
    with open(os.path.join(out, "jvm.json")) as f:
        jvm = json.load(f)
    gen["posts"] = warm["posts"] + gen["posts"]
    gen["events"].update(warm["events"])
    return jvm, gen


def check(jvm, gen):
    """Every acked unique event emitted by dedup exactly once (re-sends
    dropped), and the upsert store equal to the generator's own
    keep-latest per user_id. Returns (attempted, failed, notes): one
    operation per event posted and one per user in the store."""
    notes, failed, attempted = [], 0, 0
    acked = set()
    for r in gen["posts"]:
        attempted += len(r["ids"])
        if r["status"] == 202:
            acked.update(r["ids"])
        else:
            failed += len(r["ids"])
            notes.append(f"POST of {len(r['ids'])} events got {r['status']}")
    seen = Counter(i for b in jvm["emitted"] for i in b["ids"])
    for what, ids in (("acked but never emitted", acked - set(seen)),
                      ("emitted more than once",
                       {i for i, c in seen.items() if c > 1}),
                      ("emitted but never acked", set(seen) - acked)):
        if ids:
            failed += len(ids)
            notes.append(f"{len(ids)} events {what}")
    want = events.keep_latest(gen["events"][str(i)] for i in acked)
    try:
        tbl = ds.dataset(jvm["store"], format="parquet",
                         partitioning="hive").to_table(
            columns=["user_id", "event_id", "event_type", "value"])
        got = {r["user_id"]: r for r in tbl.to_pylist()}
    except (OSError, ValueError) as e:
        got = {}
        notes.append(f"upsert store unreadable: {e}")
    bad = [u for u, ev in want.items()
           if u not in got or got[u]["event_id"] != ev["event_id"]
           or got[u]["event_type"] != ev["event_type"]
           or got[u]["value"] != ev["value"]]
    bad += [u for u in got if u not in want]
    if bad:
        failed += len(bad)
        notes.append(f"upsert store differs for {len(bad)} users")
    return attempted + len(want), failed, notes


def _phase_of(t_ns, starts):
    cur = None
    for name in PHASES:
        if name in starts and t_ns >= starts[name]:
            cur = name
    return cur


def _batch_samples(jvm):
    """Per phase, one e2e sample per dedup micro-batch: the median over
    its events of (emission - due time)."""
    out = {ph: [] for ph in PHASES}
    for b in jvm["emitted"]:
        per = {}
        for g, ph in zip(b["gen_ns"], b["phases"]):
            per.setdefault(ph, []).append(
                stats.open_loop_latency(g, b["emit_ns"]) / 1e6)
        for ph, lat in per.items():
            if ph in out:
                out[ph].append(statistics.median(lat))
    return out


def end_to_end(jvm, gen):
    samples = _batch_samples(jvm)
    low = stats.summary(samples["low"])
    high = stats.summary(samples["high"])
    posts = [r for r in gen["posts"] if r["phase"] in ("low", "high")]
    acks = stats.summary([stats.open_loop_latency(r["due_ns"], r["ack_ns"])
                          / 1e6 for r in posts])
    detail = {"e2e_low": low, "e2e_high": high, "ack": acks}
    burst_ids = {i for r in gen["posts"] if r["phase"] == "burst"
                 for i in r["ids"]}
    if burst_ids:
        first_burst = min(r["sent_ns"] for r in gen["posts"]
                          if r["phase"] == "burst")
        last_emit = max(b["emit_ns"] for b in jvm["emitted"]
                        if any(i in burst_ids for i in b["ids"]))
        detail["drain_s"] = (last_emit - first_burst) / 1e9
        detail["drain_eps"] = len(burst_ids) / detail["drain_s"]
    late = [stats.lateness(r["due_ns"], r["sent_ns"]) / 1e6
            for r in gen["posts"] if r["phase"] in ("low", "high")]
    detail["gen_late_p99_ms"] = stats.quantile(late, 0.99)
    # both loaded phases feed the run's figure (a phase alone has four
    # micro-batches in a 15 s run); the per-phase figures are in the ledger
    loaded = stats.summary(samples["low"] + samples["high"])
    detail["e2e_loaded"] = loaded
    e2e = {"latency_ms": (loaded["p50"], "ms"),
           "cpu_s": (jvm["loaded_cpu_s"] - jvm["loaded_jit_s"], "s")}
    return e2e, detail


def per_layer(jvm, gen):
    starts = gen["phase_start_ns"]
    m = {}
    posts = [r for r in gen["posts"] if r["phase"] != "warm"]
    m["ingest.posts"] = sum(1 for r in posts if r["status"] == 202)
    m["ingest.rejected"] = sum(1 for r in posts if r["status"] != 202)
    m["ingest.bytes"] = sum(r["bytes"] for r in posts if r["status"] == 202)
    m["gen.events"] = sum(len(r["ids"]) for r in posts)
    paced = [r for r in posts if r["phase"] != "burst"]
    m["gen.late_p99_ms"] = stats.quantile(
        [stats.lateness(r["due_ns"], r["sent_ns"]) / 1e6 for r in paced], 0.99)
    acks = stats.summary([stats.open_loop_latency(r["due_ns"], r["ack_ns"])
                          / 1e6 for r in paced])
    m["ingest.ack_p50_ms"], m["ingest.ack_p90_ms"] = acks["p50"], acks["tail"]
    samples = _batch_samples(jvm)
    for ph in ("low", "high"):
        m[f"e2e.p50_ms.{ph}"] = statistics.median(samples[ph])
    # backlog: events acked minus emitted, sampled at every ack and emit
    marks = [(r["ack_ns"], len(set(r["ids"]))) for r in posts
             if r["status"] == 202]
    marks += [(b["emit_ns"], -len(b["ids"])) for b in jvm["emitted"]
              if b["emit_ns"] >= min(starts.values())]
    level, peak = 0, {}
    for t, d in sorted(marks):
        level += d
        ph = _phase_of(t, starts)
        if ph:
            peak[ph] = max(peak.get(ph, 0), level)
    dedup_run = jvm["dedup_run_id"]
    by = {}
    for p in jvm["progress"]:
        ph = _phase_of(p["seen_ns"], starts)
        if ph is not None and p["run_id"] == dedup_run:
            by.setdefault(ph, []).append(p)
    # the upsert run after the timed phases, over everything they posted
    final = jvm["upsert_runs"][-1]
    ups = [p for p in jvm["progress"] if p["run_id"] == final["run_id"]]
    m["stream.upsert.input_rows"] = final["rows"]
    m["stream.upsert.wall_ms"] = (final["end_ns"] - final["start_ns"]) / 1e6
    for k in ["triggerExecution"] + STAGES:
        m[f"stream.upsert.{k}_ms"] = sum(p["duration_ms"].get(k, 0)
                                         for p in ups)
    for ph in PHASES:
        m[f"source.backlog_events_max.{ph}"] = peak.get(ph, 0)
        ps = [p for p in by.get(ph, []) if p["rows"]]
        m[f"source.rows_per_batch_p50.{ph}"] = \
            statistics.median(p["rows"] for p in ps) if ps else 0
        m[f"stream.dedup.batches.{ph}"] = len(ps)
        for k in ["triggerExecution"] + STAGES:
            v = [p["duration_ms"].get(k, 0) for p in ps]
            m[f"stream.dedup.{k}_ms.{ph}"] = statistics.median(v) if v else 0
        st = [p["state"] for p in ps if p["state"]]
        for k in ("rows_total", "rows_updated", "commit_ms", "memory_bytes"):
            m[f"state.{k}.{ph}"] = statistics.median(s[k] for s in st) \
                if st else 0
    m["e2e.drain_eps"] = end_to_end(jvm, gen)[1].get("drain_eps", 0)
    # JIT compilation in the cpu_s window (a traced run's also covers the
    # burst), per dedup micro-batch with data in it
    m["jvm.jit_cpu_s"] = jvm["loaded_jit_s"] / max(
        1, sum(m[f"stream.dedup.batches.{ph}"] for ph in PHASES))
    # engine counters per micro-batch with data, over both queries
    nb = max(1, sum(1 for p in jvm["progress"] if p["rows"]))
    tot, peak_mem = {}, 0
    for g in jvm["trace"]["groups"].values():
        for k, v in g.items():
            tot[k] = tot.get(k, 0) + v
        peak_mem = max(peak_mem, g["peak_task_mem_bytes"])
    m.update({
        "spark.jobs": tot.get("jobs", 0) / nb,
        "spark.stages": tot.get("stages", 0) / nb,
        "spark.tasks": tot.get("tasks", 0) / nb,
        "spark.task_core_s": tot.get("task_ms", 0) / 1e3 / nb,
        "spark.gc_s": tot.get("gc_ms", 0) / 1e3 / nb,
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0) / nb,
        "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0) / nb,
        "spark.spill_bytes": tot.get("spill_bytes", 0) / nb,
        "spark.peak_task_mem_bytes": peak_mem,
    })
    ops = {}
    for g in jvm["trace"]["ops"].values():
        for fam, v in g.items():
            r, ms = ops.get(fam, (0, 0.0))
            ops[fam] = (r + v["rows_out"], ms + v["ms"])
    for fam, (r, ms) in ops.items():
        m[f"op.{fam}.rows_out"] = r / nb
        m[f"op.{fam}.ms"] = ms / nb
    return m


def all_spans(jvm, gen):
    """JVM spans, plus generator POSTs and streaming micro-batches with
    their phases laid end to end inside each batch (durations exact,
    placement approximate: progress reports durations, not start times)."""
    spans = list(jvm["spans"])
    nxt = max([s["id"] for s in spans] + [0]) + 1
    for r in gen["posts"]:
        spans.append({"id": nxt, "parent": 0, "name": f"post {r['phase']}",
                      "layer": "gen", "start_ns": r["sent_ns"],
                      "end_ns": r["ack_ns"]})
        nxt += 1
    dedup_run = jvm["dedup_run_id"]
    for p in jvm["progress"]:
        dur = p["duration_ms"]
        end = p["seen_ns"]
        start = end - int(dur.get("triggerExecution", 0) * 1e6)
        q = "dedup" if p["run_id"] == dedup_run else "upsert"
        bid = nxt
        spans.append({"id": bid, "parent": 0, "name": f"batch {q}",
                      "layer": "stream", "start_ns": start, "end_ns": end})
        nxt += 1
        t = start
        for k in STAGES:
            d = int(dur.get(k, 0) * 1e6)
            if d:
                spans.append({"id": nxt, "parent": bid, "name": k,
                              "layer": "stream.phase", "start_ns": t,
                              "end_ns": min(end, t + d)})
                nxt += 1
                t += d
    return spans
