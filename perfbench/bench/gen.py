"""Open-loop load generator for stream_ingest (a process of its own).

    python3 gen.py <config.json>

The config names the port, the seed, the phase table and the phases to
send. Each POST is due at a fixed time from its phase start and is sent by
the first free connection (at most `conns` of them); when the system slows
the schedule does not, so a POST may go out late and its latency still
counts from when it was due. Each event is stamped `gen_ns`, the due time
of the POST that first carries it, on the CLOCK_MONOTONIC clock the JVM's
System.nanoTime also reads. Writes one JSON record per POST to `out`.
"""
import http.client
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import events  # noqa: E402


def run(cfg):
    posts = [p for p in events.plan(cfg["seed"], cfg["phases"])
             if p["phase"] in cfg["send"]]
    start = time.monotonic_ns() + 50_000_000
    phase_start, t = {}, start
    for name, n_posts, _, interval in cfg["phases"]:
        if name in cfg["send"]:
            phase_start[name] = t
            t += n_posts * (interval or 0)
    stamped = {}
    records = [None] * len(posts)
    lock = threading.Lock()
    nxt = [0]

    def take():
        with lock:
            i = nxt[0]
            if i >= len(posts):
                return None
            nxt[0] += 1
            p = posts[i]
            due = phase_start[p["phase"]] + p["due_ns"]
            body, ids = [], []
            for ev in p["lines"]:
                if "resend" in ev:
                    body.append(stamped[ev["resend"]])
                    ids.append(ev["resend"])
                else:
                    stamped[ev["event_id"]] = events.line(ev, due)
                    body.append(stamped[ev["event_id"]])
                    ids.append(ev["event_id"])
            return i, due, ("\n".join(body) + "\n").encode(), ids

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", cfg["port"], timeout=60)
        while True:
            job = take()
            if job is None:
                break
            i, due, body, ids = job
            wait = due - time.monotonic_ns()
            if wait > 0:
                time.sleep(wait / 1e9)
            sent = time.monotonic_ns()
            try:
                conn.request("POST", "/ingest", body=body,
                             headers={"Content-Type": "application/x-ndjson"})
                r = conn.getresponse()
                r.read()
                status = r.status
            except (OSError, http.client.HTTPException):
                status = -1
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", cfg["port"],
                                                  timeout=60)
            records[i] = {"phase": posts[i]["phase"], "due_ns": due,
                          "sent_ns": sent, "ack_ns": time.monotonic_ns(),
                          "status": status, "bytes": len(body), "ids": ids}
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(cfg["conns"])]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return {"phase_start_ns": phase_start, "posts": records,
            "events": {str(k): json.loads(v) for k, v in stamped.items()}}


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    res = run(cfg)
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
