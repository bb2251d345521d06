"""Seeded event stream for the stream_ingest workload.

`plan(seed, ...)` returns the POSTs the generator sends, in order: each has
its phase, its due time relative to the phase start (burst POSTs are due at
once) and its NDJSON lines. Events carry zipf-skewed `user_id`s and event
times (`ts`) that run out of order by up to `JITTER_MS`, far inside the
dedup watermark. A few percent of the lines are exact re-sends of an
earlier event of the same phase. The stamp `gen_ns` is not part of the
plan: the generator adds it when a POST is due, so the plan itself is a
pure function of its arguments.
"""
import itertools
import json
import random
import time

BASE_MS = 1704067200000          # 2024-01-01T00:00:00Z
STEP_MS = 10                     # event-time spacing between events
JITTER_MS = 3000                 # out-of-order bound, << the watermark
RESEND_FRAC = 0.03               # share of lines that re-send an event
USERS = 2000
ZIPF_S = 1.1
_CUM = list(itertools.accumulate(1.0 / r ** ZIPF_S
                                 for r in range(1, USERS + 1)))
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _ts(ms):
    s, milli = divmod(ms, 1000)
    t = time.gmtime(s)
    return (f"{t.tm_year:04d}-{t.tm_mon:02d}-{t.tm_mday:02d}T"
            f"{t.tm_hour:02d}:{t.tm_min:02d}:{t.tm_sec:02d}.{milli:03d}Z")


def plan(seed, phases):
    """POST plan for `phases`: a list of (name, n_posts, events_per_post,
    post_interval_ns or None for as-fast-as-possible)."""
    rng = random.Random(f"perfbench-events-{seed}")
    posts = []
    next_id = 0
    for name, n_posts, per_post, interval in phases:
        recent = []
        for k in range(n_posts):
            lines = []
            for _ in range(per_post):
                if recent and rng.random() < RESEND_FRAC:
                    lines.append({"resend": rng.choice(recent[-200:])})
                    continue
                ev = {"event_id": next_id,
                      "ts": _ts(BASE_MS + next_id * STEP_MS
                                - rng.randrange(0, JITTER_MS)),
                      "user_id": rng.choices(range(USERS),
                                             cum_weights=_CUM)[0],
                      "event_type": rng.choice(EVENT_TYPES),
                      "value": round(rng.uniform(0.01, 500.0), 2),
                      "phase": name}
                next_id += 1
                recent.append(ev["event_id"])
                lines.append(ev)
            due = 0 if interval is None else k * interval
            posts.append({"phase": name, "due_ns": due, "lines": lines})
    return posts


def serialize(posts):
    """Canonical bytes of a plan (what the same-seed test compares)."""
    return "\n".join(json.dumps(p, sort_keys=True, separators=(",", ":"))
                     for p in posts).encode()


def line(ev, gen_ns):
    """One NDJSON line of an event stamped with its due time."""
    return json.dumps(dict(ev, gen_ns=gen_ns), separators=(",", ":"))


def keep_latest(events):
    """The generator's own keep-latest per user_id: the greatest
    (ts, event_id), the order the upsert sink's tie-break gives."""
    best = {}
    for ev in events:
        k = ev["user_id"]
        if k not in best or (ev["ts"], ev["event_id"]) > \
                (best[k]["ts"], best[k]["event_id"]):
            best[k] = ev
    return best
