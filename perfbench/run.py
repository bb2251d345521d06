#!/usr/bin/env python3
"""The repository benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload batch_sql|batch_curation|stream_ingest
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness with sbt
into .bench_build/; every run makes its inputs from --seed, measures for
--seconds, checks every output, writes a stamped result file under
.bench_build/runs/ and prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (the traced run also writes the span file).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import batch, common, provenance, stats, stream  # noqa: E402

WORKLOADS = ("batch_sql", "batch_curation", "stream_ingest")
RUN_TIMEOUT_S = 160   # a run must end within 180 s, checks included


def fail(msg, code=2):
    common.log(msg)
    sys.exit(code)


def run_jvm(cp, work, cfg, deadline):
    """Batch workloads: run the harness JVM to completion."""
    path = os.path.join(cfg["out"], "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(cfg["out"], "jvm.log"), "w") as log:
        p = subprocess.Popen(common.java_cmd(cp, work, path),
                             stdin=subprocess.DEVNULL, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        raise RuntimeError(f"harness JVM exited {rc}; see {log.name}")
    with open(os.path.join(cfg["out"], "jvm.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="run Spark at local[N] (default: every core); "
                         "for the ungated scaling reference")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft): run from the root "
             "of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meters = provenance.Meters()
    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    # Spark's scratch space and the engine's tmpdir state start empty
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    try:
        cp = common.ensure_build(ROOT, work)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}", 3)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}"
                       f"-trace{args.trace}-{stamp}-{os.getpid()}")
    os.makedirs(out)
    nproc = args.cores or common.nproc()
    cfg = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": bool(args.trace),
           "nproc": nproc, "out": out}
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        # inputs first (the batch corpus is written on a checkout's first
        # run): set-up is timed from the launch of the harness JVM
        if args.workload == "stream_ingest":
            cfg.update(stream.config(args.seed, args.seconds, nproc,
                                     bool(args.trace)))
        else:
            cfg.update(batch.config(args.workload, args.seed, work))
        launch_ns = time.monotonic_ns()
        if args.workload == "stream_ingest":
            jvm, gen = stream.run(cp, work, cfg, HERE, deadline)
            attempted, failed, notes = stream.check(jvm, gen)
            e2e, detail = stream.end_to_end(jvm, gen)
            layers = stream.per_layer(jvm, gen) if args.trace else {}
        else:
            jvm = run_jvm(cp, work, cfg, deadline)
            attempted, failed, notes = batch.check(jvm, cfg, work)
            e2e, detail = batch.end_to_end(jvm)
            layers = batch.per_layer(jvm, nproc) if args.trace else {}
    except (RuntimeError, OSError, ValueError, KeyError,
            subprocess.SubprocessError) as e:
        fail(f"{args.workload} run failed: {e}", 4)

    e2e["setup_s"] = ((jvm["ready_ns"] - launch_ns) / 1e9, "s")
    e2e["peak_rss_mb"] = (jvm["vmhwm_kb"] / 1024.0, "MB")
    if args.trace:
        spans = stream.all_spans(jvm, gen) \
            if args.workload == "stream_ingest" else jvm["spans"]
        layers["core.session_s"] = jvm["session_s"]
        layers["core.warmup_s"] = jvm["warmup_s"]
        for layer, s in stats.self_time_by_layer(spans).items():
            layers[f"self.{layer}_s"] = s
    meters_out = meters.stop()

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        extra = sorted(set(layers) - set(units))
        if extra:
            common.log("per-layer values not in BENCHMARK.json:", extra)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    result = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "failed_frac": failed / max(attempted, 1), "failures": notes[:50],
        "end_to_end": {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()},
        "detail": detail, "per_layer": layers,
        "provenance": {
            "git_head": provenance.git_head(ROOT), "nproc": nproc,
            "xmx": common.XMX, "xmn": common.YOUNG,
            "heap_max_bytes": jvm["heap_max_bytes"],
            "seed": args.seed, "spark_conf": jvm["conf"],
            "stream_phases": cfg.get("phases"),
            "stream_rates_eps": cfg.get("rates_eps"), **meters_out},
    }
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    if args.trace:
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump(spans, f)
    for heavy in ("results", "spool", "ckpt", "ckpt-upsert", "store"):
        shutil.rmtree(os.path.join(out, heavy), ignore_errors=True)
    for name in ("jvm.json", "gen.json"):
        p = os.path.join(out, name)
        if os.path.exists(p) and not args.trace:
            os.remove(p)
    common.log(f"result: {out}/result.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
