#!/usr/bin/env python3
"""Corpus-mutation gates: rewrite a copy of the test corpus into a
production pathology, re-run the full oracle gate (`check_oracle.py`:
graft.Verify, then every query's oracle SQL in DuckDB) on the copy and
write the gate's `<GATE>.json` artifact at the repo root.

Both engines read the same rewritten files, so every query must still
value-match: a divergence is a semantics difference one engine shows on
that pathology and the other does not. Each `GATES` entry says which
tables it rewrites and how (the comments above it say why); tables an
entry does not name are byte copies of the source.

Every artifact records the child's exit code, the size of the declared
oracle inventory (`n_declared`, -1 when Verify never wrote it) and
`complete`: a sweep whose per-query lines do not cover that inventory
(Verify or the compare crashed) is a failure, never a clean 0 ok / 0 fail.

Usage: python3 scripts/corpus_gate.py <GATE> [src_sf_dir]
  GATE is a key of GATES (EMPTYCHECK ... LAYOUTCHECK); src_sf_dir
  defaults to the gate's test corpus (sf0.001 for EMPTYCHECK, sf0.01
  for the rest). Exit code: check_oracle's, or 3 when the sweep is
  incomplete or a gate's own check fails.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from dataclasses import dataclass
from typing import Callable, Optional

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# the read-only test corpora (TESTDATA.md) sit beside the checkout
TESTDATA = os.path.join(os.path.dirname(REPO), "testdata")
sys.path.insert(0, HERE)
import check_oracle as co  # noqa: E402  TABLES; norm/row_key for LAYOUT


@dataclass
class Gate:
    # table name (or "*" for every table) -> rewrite(con, src, dst), which
    # writes dst from the source file src and may return per-table stats
    tables: dict
    # (con, src_dir, dst_dir, stats) -> the gate's own artifact fields
    meta: Callable = lambda *_: {}
    sf: str = "sf0.01"
    src_key: str = "src_sf"
    # queries whose input contract must raise on this corpus (check_oracle
    # verifies the recorded raise_error carries the `=message` text)
    expect_raise: tuple = ()
    # (src_dir, dst_dir) -> (fields, complete, passed): a gate-specific
    # assertion beyond oracle parity
    check: Optional[Callable] = None


def sql(select):
    """Rewrite one table with a DuckDB select over '{src}'."""
    return lambda con, src, dst: con.sql(
        f"COPY ({select.format(src=src)}) TO '{dst}' (FORMAT PARQUET)")


def numbered(order_by, replace):
    """Rewrite one table by swapping in the `replace` column expressions,
    which may use __rn = row_number() in `order_by` order (the scan order
    when empty); rows are written back in that order."""
    over = f"ORDER BY {order_by}" if order_by else ""
    return sql(f"SELECT * EXCLUDE (__rn) REPLACE ({replace}) FROM "
               f"(SELECT *, row_number() OVER ({over}) AS __rn "
               f"FROM '{{src}}') {over}")


def count(con, path):
    return con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]


def classes(key, column, by_class, length=None):
    """pyarrow rewrite of one string column: a non-NULL value whose row
    has k = `key % 13` in `by_class` becomes by_class[k](key, value);
    `length`, if given, is recomputed as the new text's code-point count.
    Returns the rewritten-row count per class."""
    def rewrite(con, src, dst):
        tbl = pq.read_table(src)
        new, counts = [], Counter()
        for i, v in zip(tbl.column(key).to_pylist(),
                        tbl.column(column).to_pylist()):
            f = None if v is None else by_class.get(i % 13)
            counts[i % 13] += f is not None
            new.append(v if f is None else f(i, v))
        cols = {column: pa.array(new, pa.string())}
        if length:
            cols[length] = pa.array([None if v is None else len(v)
                                     for v in new], pa.int64())
        for name, arr in cols.items():
            tbl = tbl.set_column(tbl.schema.get_field_index(name),
                                 tbl.schema.field(name), arr)
        pq.write_table(tbl, dst)
        return {str(k): n for k, n in sorted(counts.items()) if n}
    return rewrite


# --- EMPTYCHECK -----------------------------------------------------------
# The full oracle gate against an EMPTY corpus — every table present with
# its exact schema, zero rows. This is the "empty partition" production
# edge (a date-scoped run over a range with no data, a new tenant, a
# filtered slice that matched nothing): every query must degrade to an
# empty (or empty-aggregate) result identically in both engines, not
# crash on a missing seed row, an empty staged write, or a 0/0.
EMPTY = Gate(tables={"*": sql("SELECT * FROM '{src}' LIMIT 0")},
             sf="sf0.001", src_key="template_sf")

# --- SKEWCHECK ------------------------------------------------------------
# Heavy DETERMINISTIC key/value skew: the hot-key production shape (one
# viral document template, one bot user, one dominant source/part/
# customer) for correctness — hot group keys, hot window partitions, hot
# join keys, giant exact/near-dup clusters, and a packed LSH bucket all
# appear at once. All keyed on a stable row number, so runs are identical:
#   documents: every 10th doc gets doc 0's text (a corpus-wide duplicate
#              cluster ~10% of the corpus -> one packed LSH/simhash
#              bucket, quadratic-in-cluster pair lists); every 3rd doc
#              gets source 'hot_src' (a dominant source stratum).
#              n_chars follows the copied text (consistency contract).
#   events:    every 3rd event gets user_id 0 (hot window partition and
#              hot session/range-join key).
#   orders:    every 3rd order gets o_custkey of the first customer (hot
#              fact->dim join key).
#   lineitem:  every 3rd row gets l_partkey of the first part (hot
#              fact->dim join key + skewed groupBy).
#   embeddings: every 10th vector gets vec 0's embedding (hot quantizer
#              cell, cosine-1 duplicate pile).
# Pair-producing queries legitimately emit O(cluster^2) rows for the
# duplicate pile — that is the DATA's shape, not an engine artifact; the
# check asserts both engines agree on all of it.
DOC0 = "(SELECT text FROM '{src}' ORDER BY doc_id LIMIT 1)"
SKEW = Gate(
    tables={
        "documents": numbered("", f"""
          CASE WHEN __rn % 10 = 3 THEN {DOC0} ELSE text END AS text,
          CASE WHEN __rn % 3 = 1 THEN 'hot_src' ELSE source END AS source,
          CASE WHEN __rn % 10 = 3 THEN length({DOC0})
               ELSE n_chars END AS n_chars"""),
        "events": numbered("", """
          CASE WHEN __rn % 3 = 1 THEN CAST(0 AS BIGINT) ELSE user_id END
            AS user_id"""),
        "orders": numbered("", """
          CASE WHEN __rn % 3 = 1 THEN (SELECT MIN(o_custkey) FROM '{src}')
               ELSE o_custkey END AS o_custkey"""),
        "lineitem": numbered("", """
          CASE WHEN __rn % 3 = 1 THEN (SELECT MIN(l_partkey) FROM '{src}')
               ELSE l_partkey END AS l_partkey"""),
        "embeddings": numbered("", """
          CASE WHEN __rn % 10 = 3 THEN (SELECT embedding FROM '{src}'
                                        ORDER BY vec_id LIMIT 1)
               ELSE embedding END AS embedding"""),
    },
    meta=lambda con, src, dst, _: {"duplicate_pile_docs": con.sql(
        f"SELECT count(*) FROM '{dst}/documents.parquet' WHERE text = "
        + DOC0.format(src=f"{src}/documents.parquet")).fetchone()[0]})

# --- UNICODECHECK ---------------------------------------------------------
# Degenerate TEXT (VERDICT r9 item 2). The NULL/empty/skew/layout gates
# never touch text pathology, yet the codegen text expressions
# (NgramShingles, TokenStats, ShingleRepetition, Md5Hash60 over shingles)
# do byte/char-level work exactly where engines most often diverge (UTF-8
# code points vs UTF-16 units vs graphemes, regex over astral-plane
# chars, whitespace classes). Classes on documents.text, keyed on
# doc_id % 13 (deterministic, corpus-stable):
#   0  emoji/ZWJ prefix: family + rainbow-flag ZWJ sequences, astral plane
#   3  RTL/bidi suffix: Arabic + Hebrew with an RLO..PDF override span
#   5  repaired lone surrogates: U+FFFD replacement chars woven in (valid
#      parquet cannot carry a real lone surrogate; repair-to-FFFD is what
#      any ingest would produce)
#   7  whitespace-only doc: spaces/tab/newline/NBSP — zero real tokens
#   9  100 kB single-token doc: one unbroken token (shingle windows,
#      length stats, and hashing over a degenerate token stream)
#   11 combining marks (zalgo) on the first word + CJK no-space append
# n_chars is recomputed as the new code-point count (FIXTURES contract:
# n_chars matches text length; Python len == Spark length == DuckDB
# length == code points — verified).
# All pathology chars via explicit escapes (no invisible source literals):
# \u200d=ZWJ  \ufe0f=VS16  \u202e/\u202c=RLO/PDF  \ufffd=replacement
ZWJ_PREFIX = ("\U0001F468\u200d\U0001F469\u200d\U0001F467\u200d\U0001F466 "
              "\U0001F3F3\ufe0f\u200d\U0001F308 ")
BIDI_SUFFIX = (" \u202e\u0634\u0645\u0627\u0644\u202c"
               " \u05e9\u05b8\u05c1\u05dc\u05d5\u05b9\u05dd")
ZALGO = "\u0301\u0302\u0303\u0316\u0317"
CJK = "\u65e5\u672c\u8a9e\u4e2d\u6587\ud55c\uad6d\uc5b4"
WS_ONLY = " \t\n \u00a0 \u3000 \t "
BIG_TOKEN = "abcdefghij" * 10000  # 100 kB, one unbroken token


def woven_fffd(i, text):
    toks = text.split(" ")
    mid = len(toks) // 2
    return " ".join(toks[:mid] + ["\ufffd\ufffdbad\ufffd"] + toks[mid:])


def zalgo_cjk(i, text):
    first, *rest = text.split(" ", 1)
    return ("".join(ch + ZALGO for ch in first)
            + "".join(" " + r for r in rest) + " " + CJK)


UNICODE = Gate(
    tables={"documents": classes("doc_id", "text", {
        0: lambda i, t: ZWJ_PREFIX + t,
        3: lambda i, t: t + BIDI_SUFFIX,
        5: woven_fffd,
        7: lambda i, t: WS_ONLY,
        # the doc_id suffix keeps the docs DISTINCT while preserving the
        # pathology (one unbroken 100 kB token): identical big docs formed
        # an accidental exact-dup pile whose C(38,2)=703 pairs of
        # 100k-element exact-Jaccard intersects cost the ORACLE side alone
        # ~650 s (measured — 60% of the whole gate's wall; the engine side
        # handles the pile fine). Dup piles are SKEWCHECK's axis, at
        # realistic doc sizes; this gate's axis is per-doc text pathology.
        9: lambda i, t: f"{BIG_TOKEN}{i}",
        11: zalgo_cjk,
    }, length="n_chars")},
    meta=lambda con, src, dst, stats: {
        "pathology_classes": {
            "0": "emoji/ZWJ prefix", "3": "RTL/bidi override suffix",
            "5": "U+FFFD repaired lone surrogates", "7": "whitespace-only",
            "9": "100 kB single token", "11": "zalgo + CJK no-space"},
        "class_counts": stats["documents"]})

# --- JSONCHECK ------------------------------------------------------------
# Pathological JSON in events.props. Nothing else stresses the JSON parse
# path (q18/q19/q60/q66), where engine semantics diverge hardest: DuckDB's
# json_extract_string THROWS on malformed input while Spark's parsers
# return NULL, ANSI CAST of a non-numeric extract throws where TRY_CAST
# returns NULL, typed from_json maps NULL the whole document on one bad
# value, and get_json_object's streaming early-exit can "extract" from
# truncated JSON that DuckDB rejects outright. At 100 TB of scraped data,
# malformed JSON is the NORM for some sources — the parse path must
# degrade to NULLs identically in both engines, never crash the job.
# Classes keyed on event_id % 13 (deterministic):
#    0  truncated object:   {"k": 4        (unterminated — parsers differ
#                                           on whether a trailing number
#                                           token is recoverable)
#    1  plain garbage:      not json at all
#    2  empty string
#    3  JSON null literal:  null           (VALID json, not an object)
#    4  wrong-typed value:  {"k": "str12"} (cast must NULL, not throw)
#    5  extra keys:         {"a": 1, "k": 7, "zz": 3}  (key order, multi-
#                                           value joins)
#    6  nested object:      {"k": {"deep": 1}}  (raw-text extraction
#                                           renders differently per
#                                           engine; must die in try_cast)
#    7  int64 overflow:     {"k": 12345678901234567890123}  (DuckDB
#                                           renders 1.23e22, Spark keeps
#                                           raw digits — both must
#                                           TRY_CAST to NULL)
#    8  escaped unicode:    {"k": "\\u00e9\\ud83d\\ude00"}  (escape
#                                           decode, then non-numeric NULL)
#    9  whitespace-padded:  ___{"k": 5}___ (valid in both)
#   10  null-valued key:    {"k": null}
#   11  empty object:       {}             (empty key list is '' not NULL)
#   12  untouched           {"k": <n>}
JSON_CLASSES = ['{"k": 4', 'not json at all', '', 'null', '{"k": "str12"}',
                '{"a": 1, "k": 7, "zz": 3}', '{"k": {"deep": 1}}',
                '{"k": 12345678901234567890123}',
                '{"k": "\\u00e9\\ud83d\\ude00"}', '   {"k": 5}   ',
                '{"k": null}', '{}']
JSON = Gate(
    tables={"events": classes("event_id", "props", {
        k: (lambda i, p, s=s: s) for k, s in enumerate(JSON_CLASSES)})},
    meta=lambda con, src, dst, stats: {
        "pathology_classes": {
            "0": "truncated object", "1": "plain garbage",
            "2": "empty string", "3": "JSON null literal",
            "4": "wrong-typed value", "5": "extra keys",
            "6": "nested object value", "7": "int64 overflow",
            "8": "escaped unicode string", "9": "whitespace-padded",
            "10": "null-valued key", "11": "empty object"},
        "class_counts": stats["events"]})

# --- VECCHECK -------------------------------------------------------------
# Pathological but contract-legal vectors in embeddings.embedding: the
# VECTOR family — fixed-point cosine/IVF/LSH/k-means/quantization paths —
# where the engines most plausibly diverge:
#   - division semantics: DuckDB float division by zero yields NULL,
#     Spark yields Inf/NaN — a zero-norm vector turns every cosine it
#     touches into engine-dependent garbage unless the operator pins a
#     contract (graft's contract: cosine with a zero-norm side is NULL);
#   - NULL ordering under rank windows (Spark ASC = NULLS FIRST vs
#     DuckDB NULLS LAST — the cosine windows are DESC where both agree,
#     and this gate proves it stays that way);
#   - fixed-point underflow: components so small that floor(x·2^40) = 0
#     makes the EXACT norm 0 while the float norm is not — both engines
#     must agree the fixed-point norm is what defines the contract;
#   - exact ties: duplicated vectors force cosine = 1.0 / dist = 0 ties
#     through every (cosine DESC, vid) / (dist, cid) tie-break.
# Keyed on rn = row_number() OVER (ORDER BY vec_id), 1-based, so vec_id v
# gets rn = v+1 on the corpus's 0-based ids; ~4/13 of rows mutated. Every
# value stays a finite float, so FixedPoint* expressions stay long-safe
# and no contract raise fires.
VEC = Gate(
    tables={"embeddings": sql("""
      SELECT vec_id,
        CASE
          WHEN __rn % 13 = 3 THEN list_transform(embedding, x -> 0.0::FLOAT)
          WHEN __rn % 13 = 7 THEN list_transform(embedding, x -> (-x)::FLOAT)
          WHEN __rn % 13 = 9
            THEN list_transform(embedding, x -> (x * 1e-12)::FLOAT)
          WHEN __rn % 13 = 11 THEN prev
          ELSE embedding
        END AS embedding,
        label
      FROM (SELECT *,
              row_number() OVER (ORDER BY vec_id) AS __rn,
              COALESCE(lag(embedding) OVER (ORDER BY vec_id), embedding)
                AS prev
            FROM '{src}')
      ORDER BY vec_id""")},
    meta=lambda *_: {"mutations": {
        "stride": 13,
        "zero_vector": "rn % 13 == 3",
        "negated": "rn % 13 == 7",
        "fixed_point_underflow_1e-12": "rn % 13 == 9",
        "exact_duplicate_of_prev": "rn % 13 == 11"}})

# --- NUMCHECK -------------------------------------------------------------
# Degenerate but contract-legal numeric measures: the DISPERSION /
# PERCENTILE / WINDOW-RANK family, where degenerate distributions diverge
# engines:
#   - a zero-variance group: var = 0 hits the floor-bias clamp, and the
#     Pearson denominator becomes exactly 0 — correlation is undefined
#     (NULL, DuckDB's divide-by-zero) and must not ANSI-throw in Spark;
#   - massive tie blocks: exact/approx percentiles over a constant group,
#     rank/percent_rank/cume_dist/ntile over repeated values (every rank
#     window must carry a deterministic tie-break to survive this);
#   - negative zero: -0.0 must compare, rank and aggregate as 0.0 in both
#     engines while the stored value round-trips.
NUM = Gate(
    tables={
        # the whole 'A' group constant: zero variance, zero covariance,
        # percentile ties
        "lineitem": sql("""
          SELECT * REPLACE (
            CASE WHEN l_returnflag = 'A' THEN 7.0 ELSE l_quantity END
              AS l_quantity,
            CASE WHEN l_returnflag = 'A' THEN 1234.56 ELSE l_extendedprice
              END AS l_extendedprice,
            CASE WHEN l_returnflag = 'A' THEN 0.05 ELSE l_discount END
              AS l_discount)
          FROM '{src}'"""),
        # tie blocks inside every user's rank window; negative zero
        # through sums, ranks and lag/lead. NB '-0.0'::DOUBLE, not the
        # literal -0.0: DuckDB parses the bare literal as DECIMAL, which
        # has no signed zero
        "events": numbered("event_id", """
          CASE WHEN __rn % 5 = 2 THEN 42.0
               WHEN __rn % 17 = 5 THEN '-0.0'::DOUBLE ELSE value END
            AS value"""),
    },
    meta=lambda *_: {"mutations": {
        "lineitem_constant_group":
            "l_returnflag='A' -> qty 7.0, disc 0.05, price 1234.56",
        "events_tie_block": "rn % 5 == 2 -> value 42.0",
        "events_negative_zero": "rn % 17 == 5 -> value -0.0"}})

# --- TIMECHECK ------------------------------------------------------------
# Pathological but legal events.ts: the window/session/as-of/path family
# where engines classically diverge:
#   - an exact-tie pile: hundreds of events (many sharing a user) carry
#     the IDENTICAL timestamp — every ORDER BY ts window (lag/lead,
#     running sums with RANGE frames, as-of joins, session splits, funnel
#     and path orderings) must either be tie-insensitive or carry an id
#     tie-break;
#   - pre-epoch timestamps: negative epoch values expose floor-vs-
#     truncate bucketing (Spark's window() floor-divides; DuckDB's `//`
#     TRUNCATES toward zero — -7//2 = -3 — and time_bucket's 2000-01-01
#     origin only agrees with the epoch origin because floor semantics
#     hold on both sides);
#   - epoch zero exactly; and a far-future 2200 timestamp (well inside
#     µs range) for the other end.
# All whole-ms values (exact in µs parquet); rn = row_number() OVER
# (ORDER BY event_id).
TIME = Gate(
    tables={"events": numbered("event_id", """
      CASE WHEN __rn % 23 = 4  THEN '2024-03-10 02:30:00'::TIMESTAMP
           WHEN __rn % 23 = 9  THEN '1969-12-31 23:57:30'::TIMESTAMP
           WHEN __rn % 23 = 14 THEN '1970-01-01 00:00:00'::TIMESTAMP
           WHEN __rn % 23 = 19 THEN '2200-06-15 12:34:56.789'::TIMESTAMP
           ELSE ts END AS ts""")},
    meta=lambda *_: {"mutations": {
        "tie_instant": "rn % 23 == 4 -> 2024-03-10 02:30:00",
        "pre_epoch": "rn % 23 == 9 -> 1969-12-31 23:57:30",
        "epoch_zero": "rn % 23 == 14 -> 1970-01-01 00:00:00",
        "far_future": "rn % 23 == 19 -> 2200-06-15 12:34:56.789"}})

# --- DATECHECK ------------------------------------------------------------
# Calendar-edge orders.o_orderdate; closes the pathology matrix alongside
# TIMECHECK (events.ts). It stresses the DATE-ARITHMETIC family —
# date_trunc / last_day / dayofweek / datediff / +INTERVAL / year-month
# grouping / date range joins — on the dates where calendar systems
# diverge:
#   - 1582-10-05: inside the Julian→Gregorian cutover gap. Valid in the
#     proleptic Gregorian calendar both engines use; a hybrid-calendar
#     regression (pre-Spark-3 behavior) would shift it by 10 days;
#   - 0001-01-01: minimum practical year — exercises signed day/µs
#     arithmetic ~2 million days before the epoch;
#   - 2000-02-29 12:00:00: a leap day WITH a time-of-day — last_day /
#     date_trunc must ignore the time part, and day-difference semantics
#     must agree between Spark's cast-to-date datediff and DuckDB's
#     boundary-counting date_diff when one endpoint has hours;
#   - 9999-11-30 23:59:59: near-max year, still safe under the +30 day
#     shift every consumer applies (lands 9999-12-30).
# rn = row_number() OVER (ORDER BY o_orderkey).
DATE = Gate(
    tables={"orders": numbered("o_orderkey", """
      CASE WHEN __rn % 19 = 3  THEN '1582-10-05 00:00:00'::TIMESTAMP
           WHEN __rn % 19 = 8  THEN '0001-01-01 00:00:00'::TIMESTAMP
           WHEN __rn % 19 = 13 THEN '2000-02-29 12:00:00'::TIMESTAMP
           WHEN __rn % 19 = 17 THEN '9999-11-30 23:59:59'::TIMESTAMP
           ELSE o_orderdate END AS o_orderdate""")},
    meta=lambda *_: {"mutations": {
        "julian_gap": "rn % 19 == 3 -> 1582-10-05",
        "year_one": "rn % 19 == 8 -> 0001-01-01",
        "leap_day_with_time": "rn % 19 == 13 -> 2000-02-29 12:00:00",
        "near_max": "rn % 19 == 17 -> 9999-11-30 23:59:59"}})

# --- NULLCHECK ------------------------------------------------------------
# Deterministic NULLs in every contract-NULLABLE column (every 7th row by
# row number, so the same rows are nulled on every run and on
# re-generated corpora). This catches NULL-semantics divergence between
# Spark and the DuckDB mirrors (three-valued predicates, count-vs-sum
# skip rules, null group keys, size/split-of-NULL) across the whole
# inventory at once, not one op at a time. lineitem.l_returnflag is a
# NULL group key (null-grouping). What NEVER gets nulled — columns with
# an enforced non-null contract:
#   - all join/id keys (doc_id, vec_id, event_id, *_key): a null key is a
#     different dataset, not a robustness probe;
#   - embeddings.embedding (FixedPointVectorSum raises on null by design —
#     FIXTURES.md contract);
#   - events.ts (watermark/window column; the streaming contract requires
#     event time);
#   - documents.n_chars stays consistent with text: rows whose text is
#     nulled get n_chars NULL too, so the length-consistency contract
#     (n_chars = length(text)) holds with NULL = NULL.
NULLED = {
    "events": ["props", "event_type", "value"],
    "documents": ["text", "lang", "source", "n_chars"],
    "customer": ["c_mktsegment", "c_acctbal"],
    "part": ["p_type", "p_brand"],
    "orders": ["o_orderpriority"],
    "lineitem": ["l_returnflag"],
}
# The sampling family raise_error-guards NULL quality scores / token
# counts / weights / strata (documented input contracts): on the nulled
# corpus the CORRECT behavior is the loud failure, not output.
# check_oracle turns these into [ok (contract raise)] and fails if any of
# them silently produces rows instead, or raises something else.
NULL = Gate(
    tables={t: numbered("", ", ".join(
        f'CASE WHEN __rn % 7 = 3 THEN NULL ELSE "{c}" END AS "{c}"'
        for c in cols)) for t, cols in NULLED.items()},
    meta=lambda *_: {"nulled_columns": NULLED, "null_stride": 7,
                     "contract_raises": list(NULL.expect_raise)},
    expect_raise=(
        "q114_adaptive_quality_floor=adaptiveQualityFloor: NULL score",
        "q121_token_budget_sample=tokenBudgetSample: NULL token count",
        "q122_matched_contrast_sample=matchedSample: NULL",
        "q138_pps_sample=systematicPps: NULL weight"))

# --- DUPCHECK -------------------------------------------------------------
# An at-least-once REPLAY: a second copy of ~1/7 of every ingest-shaped
# table's rows, carrying the SAME content under FRESH primary keys (id +
# 10^9; replayed lineitems keep their order key and take fresh line
# numbers — a partially re-ingested order). This is the duplication shape
# a real pipeline produces (a retried ingest batch or an overlapping
# backfill lands twice AFTER id assignment), and it preserves the
# corpus's primary-key contract, which both the operators' keyed
# semantics (content-addressed staging, keep-one-per-id, the reference's
# keyed store) and the oracle mirrors' unnest-regroup idiom (GROUP BY id
# to mirror per-row array math in SQL) are built on. A first cut of this
# gate duplicated FULL ROWS id-and-all: 31 queries diverged — every one an
# artifact of breaking that contract (e.g. the mirrors' n2-by-vec_id CTE
# collapses id-duplicates where Spark computes per row), none an engine
# multiplicity bug — so the id-violating axis tests the wrong thing.
#
# What the replay exercises that no other gate does: pairwise duplicate
# CONTENT spread across the whole corpus (the skew gate builds ONE giant
# pile instead) — every near-dup/exact-dup operator must flag each
# (original, replay) pair, ANN rankings gain cosine-1.0 ties that the vid
# tie-breaks must order identically in both engines, quantizer training
# prefixes (vec_id < cap) must exclude the fresh-id copies in both,
# keep-one and CC see thousands of 2-clusters, and every count/sum
# carries the extra multiplicity.
#
# Duplicates are keyed on a row number ordered by the table's primary
# key, so the replayed slice (and the interleave shuffle's __rn keys) is
# deterministic by construction (row_number() with no ORDER BY would lean
# on DuckDB's default preserve_insertion_order — a setting, not a
# guarantee).
OFF = 1000000000  # fresh-id offset for replayed rows


def replay(key, fresh):
    """Append a replay of every 7th row in `key` order (same content, the
    `fresh` primary key), scrambled so copies arrive interleaved like a
    real overlapping backfill; returns the row counts."""
    copy = sql(f"""
      SELECT * EXCLUDE (__rn) FROM (
        SELECT *, row_number() OVER (ORDER BY {key}) AS __rn FROM '{{src}}'
        UNION ALL
        SELECT * EXCLUDE (__r0) REPLACE ({fresh}),
               row_number() OVER (ORDER BY {key}) + {OFF} AS __rn
        FROM (SELECT *, row_number() OVER (ORDER BY {key}) AS __r0
              FROM '{{src}}')
        WHERE __r0 % 7 = 3)
      ORDER BY md5(CAST(__rn AS VARCHAR))""")

    def rewrite(con, src, dst):
        copy(con, src, dst)
        n = count(con, dst)
        return {"rows": n, "replayed": n - count(con, src)}
    return rewrite


DUP = Gate(
    tables={
        "lineitem": replay("l_orderkey, l_linenumber",
                           "l_linenumber + 1000 AS l_linenumber"),
        "events": replay("event_id", f"event_id + {OFF} AS event_id"),
        "documents": replay("doc_id", f"doc_id + {OFF} AS doc_id"),
        "embeddings": replay("vec_id", f"vec_id + {OFF} AS vec_id"),
    },
    meta=lambda con, src, dst, stats: {"replayed_tables": stats})

# --- RETYPECHECK ----------------------------------------------------------
# SCHEMA DRIFT — the two lossless rewrites real lakehouse writers produce
# constantly:
#   1. physical column order REVERSED per table (a different writer, a
#      schema-evolution append, or a SELECT-reordering ETL step changes
#      file column order freely; readers must bind by NAME, never by
#      position), and
#   2. integer columns NARROWED to INT32 wherever the table's actual value
#      range fits (a space-conscious writer, a different language's ORM,
#      or a Parquet statistics-aware compactor picks the smallest physical
#      type; readers must treat int32/int64 ids as the same key domain —
#      joins, window keys, staged-table round-trips and collects to
#      the Spark driver all included).
# Any divergence is a positional or width assumption one engine makes and
# the other doesn't. Timestamps, floats and text are left untouched (those
# are genuinely different values when rewritten, not drift). The rewrite
# is a pure projection, so row order and content equal the source corpus.
I32_MIN, I32_MAX = -(2 ** 31), 2 ** 31 - 1


def retype(con, src, dst):
    exprs, narrowed = [], []
    for name, typ, *_ in reversed(
            con.sql(f"DESCRIBE SELECT * FROM '{src}'").fetchall()):
        if typ == "BIGINT":
            lo, hi = con.sql(f'SELECT min("{name}"), max("{name}") '
                             f"FROM '{src}'").fetchone()
            if lo is not None and lo >= I32_MIN and hi <= I32_MAX:
                exprs.append(f'CAST("{name}" AS INTEGER) AS "{name}"')
                narrowed.append(name)
                continue
        exprs.append(f'"{name}"')
    sql(f"SELECT {', '.join(exprs)} FROM '{{src}}'")(con, src, dst)
    return {"narrowed_to_int32": narrowed, "columns_reversed": True}


RETYPE = Gate(tables={"*": retype},
              meta=lambda con, src, dst, stats: {"drift": stats})

# --- LAYOUTCHECK ----------------------------------------------------------
# A different PHYSICAL LAYOUT — the two lossless rewrites every lakehouse
# maintenance job produces — proving the full query inventory is
# layout-blind:
#   1. row order SHUFFLED deterministically (ORDER BY md5 of the whole
#      row): compaction, clustering, re-ingest and distributed writers all
#      reorder rows freely; no operator may depend on physical row order
#      (seeded-hash sampling, first-seen/earlier-doc semantics, ties,
#      top-k must all be keyed on DATA, never on position), and
#   2. each table split into MANY SMALL FILES (small row groups +
#      FILE_SIZE_BYTES): the file count is the unit of scan parallelism,
#      and `Tables.spread` keys its adaptive post-scan repartition on it —
#      a multi-file corpus must take the no-exchange path and still
#      produce identical results.
# Two gates run against the re-laid-out copy:
#   a. the full DuckDB oracle parity sweep (both engines read the same
#      re-laid-out files), and
#   b. a CROSS-LAYOUT bit-identity sweep (`pristine_identity`): every
#      query's output on the shuffled multi-file corpus must equal its
#      output on the pristine single-file corpus exactly (columns
#      name-sorted, rows sorted, as check_oracle compares), because
#      the rewrite changed no VALUES. DuckDB parity alone is blind to
#      order-dependence both engines share; (b) is the check that
#      catches it.
# Supersedes the early `shuffle_check.py` (row shuffle only, sf0.001,
# DuckDB parity only, no artifact): parity alone cannot catch an
# order-dependence both engines share, and a single-file rewrite never
# exercises the multi-file scan path or the adaptive spread heuristic.
def relayout(con, src, dst):
    # ORDER BY md5(row) is a deterministic full shuffle: same corpus in,
    # same (scrambled) order out — reproducible across runs for debugging.
    shuffled = (f"SELECT * FROM read_parquet('{src}') t "
                f"ORDER BY md5(CAST(t AS VARCHAR))")
    n_rows = count(con, src)
    if n_rows < 4096:
        # DuckDB clamps row groups to its 2048-row vector granularity, so
        # FILE_SIZE_BYTES cannot split a small table (documents/embeddings
        # — the spread-heuristic tables this axis exists for). Chunk by
        # hand: 8 part files sliced from the one deterministic ordering.
        os.makedirs(dst, exist_ok=True)
        k = min(8, max(1, n_rows // 16))
        per = -(-n_rows // k)  # ceil
        for i in range(k):
            con.sql(f"COPY ({shuffled} LIMIT {per} OFFSET {i * per}) "
                    f"TO '{dst}/part-{i:02d}.parquet' (FORMAT PARQUET)")
    else:
        # Splitting happens at row-group boundaries, so the row group is
        # sized per table: n/12 + a tiny FILE_SIZE_BYTES forces ~12 files
        # per table regardless of its row count or width.
        con.sql(f"COPY ({shuffled}) TO '{dst}' (FORMAT PARQUET, "
                f"ROW_GROUP_SIZE {max(2048, n_rows // 12)}, "
                f"FILE_SIZE_BYTES 1024)")
    return {"files": len([f for f in os.listdir(dst)
                          if f.endswith(".parquet")]),
            "rows_shuffled": True}


def sorted_rows(outdir, name):
    tbl = pq.read_table(f"{outdir}/{name}", coerce_int96_timestamp_unit="us")
    cols = sorted(tbl.column_names)
    rows = [tuple(co.norm(row[c]) for c in cols) for row in tbl.to_pylist()]
    return cols, sorted(rows, key=co.row_key)


def pristine_identity(src, dst):
    """Gate (b): Verify the pristine corpus (only Verify — its DuckDB
    parity is the standing correctness gate) and require every query's
    output on the re-laid-out copy to equal it."""
    base = f"{dst}/verify_base"
    rb = subprocess.run(["sbt", "-batch", f"runMain graft.Verify {src} {base}"],
                        cwd=REPO, env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
                        capture_output=True, text=True)
    if rb.returncode != 0:
        print(rb.stdout[-3000:])
        print(rb.stderr[-2000:])
    queries = sorted(d for d in os.listdir(base)
                     if os.path.isdir(f"{base}/{d}")) if rb.returncode == 0 else []
    n_same, divergent = 0, []
    for name in queries:
        try:
            bc, br = sorted_rows(base, name)
            lc, lr = sorted_rows(f"{dst}/verify_out", name)
            if bc != lc:
                divergent.append((name, f"schema {bc} vs {lc}"))
            elif br != lr:
                i = next(i for i, (a, b) in enumerate(
                    zip(br + [None] * len(lr), lr + [None] * len(br)))
                    if a != b)
                divergent.append((name, f"row {i}: pristine="
                                  f"{br[i] if i < len(br) else 'absent'} "
                                  f"relayout={lr[i] if i < len(lr) else 'absent'}"))
            else:
                n_same += 1
        except Exception as e:
            divergent.append((name, f"EXC {type(e).__name__}: {e}"))
    for name, why in divergent:
        print(f"[LAYOUT-DIVERGENT] {name}: {why[:400]}")
    fields = {"base_verify_returncode": rb.returncode,
              "n_identical_to_pristine": n_same,
              "n_divergent": len(divergent),
              "divergent": [name for name, _ in divergent]}
    complete = (rb.returncode == 0
                and n_same + len(divergent) >= len(queries) > 0)
    return fields, complete, not divergent


LAYOUT = Gate(tables={"*": relayout},
              meta=lambda con, src, dst, stats: {"layout": stats},
              check=pristine_identity)

# The gate sweep runs these in this order.
GATES = {"EMPTYCHECK": EMPTY, "SKEWCHECK": SKEW, "UNICODECHECK": UNICODE,
         "JSONCHECK": JSON, "VECCHECK": VEC, "NUMCHECK": NUM,
         "TIMECHECK": TIME, "DATECHECK": DATE, "NULLCHECK": NULL,
         "DUPCHECK": DUP, "RETYPECHECK": RETYPE, "LAYOUTCHECK": LAYOUT}


def build(gate, src, dst):
    """Write the gate's rewrite of the corpus at src into dst; return the
    gate's metadata fields."""
    con = duckdb.connect()
    stats = {}
    for t in co.TABLES:
        s, d = f"{src}/{t}.parquet", f"{dst}/{t}.parquet"
        if not os.path.exists(s):
            continue
        rewrite = gate.tables.get(t, gate.tables.get("*"))
        if rewrite is None:
            shutil.copyfile(s, d)
        elif (st := rewrite(con, s, d)) is not None:
            stats[t] = st
    return gate.meta(con, src, dst, stats)


def provenance():
    """The commit the artifact was made at. `dirty` is set when the tree
    differs from it outside the top-level *.json artifacts (which a sweep
    rewrites as it goes)."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=REPO, capture_output=True,
                              text=True).stdout
    changed = [line[3:] for line in git("status", "--porcelain").splitlines()]
    return {"git_head": git("rev-parse", "HEAD").strip() or None,
            "dirty": any("/" in p or not p.endswith(".json")
                         for p in changed)}


def summarize(fields, stdout, returncode, outdir, check=None):
    """Artifact fields and exit code of one gate run from check_oracle's
    stdout and exit code; `check` is the gate's own (fields, complete,
    passed)."""
    lines = stdout.splitlines()
    try:
        with open(f"{outdir}/oracle_sql.json") as f:
            n_declared = len(json.load(f))
    except Exception:
        n_declared = -1  # Verify never wrote the inventory — crashed
    s = dict(fields, returncode=returncode, n_declared=n_declared,
             n_ok=sum(1 for l in lines if l.startswith("[ok]")),
             n_fail=sum(1 for l in lines if l.startswith("[FAIL]")),
             failed=[l.split()[1].rstrip(":") for l in lines
                     if l.startswith("[FAIL]")])
    extra, extra_complete, passed = check or ({}, True, True)
    s.update(extra)
    s["complete"] = (n_declared > 0 and s["n_ok"] + s["n_fail"] >= n_declared
                     and extra_complete)
    s.update(provenance())
    return s, returncode or (0 if s["complete"] and passed else 3)


def main():
    if len(sys.argv) not in (2, 3) or sys.argv[1] not in GATES:
        sys.exit(f"usage: corpus_gate.py <{'|'.join(GATES)}> [src_sf_dir]")
    name, gate = sys.argv[1], GATES[sys.argv[1]]
    src = sys.argv[2] if len(sys.argv) > 2 else f"{TESTDATA}/{gate.sf}"
    dst = tempfile.mkdtemp(prefix=f"graft-{name.lower()}-")
    fields = {gate.src_key: src, **build(gate, src, dst)}
    print(f"[{name}] corpus rewritten at {dst}")
    env = dict(os.environ)
    if gate.expect_raise:
        env["GRAFT_EXPECT_RAISE"] = ",".join(gate.expect_raise)
    r = subprocess.run([sys.executable, f"{HERE}/check_oracle.py", dst,
                        f"{dst}/verify_out"], cwd=REPO, env=env,
                       capture_output=True, text=True)
    sys.stdout.write(r.stdout)
    sys.stderr.write(r.stderr[-2000:] if r.returncode else "")
    check = gate.check(src, dst) if gate.check else None
    summary, rc = summarize(fields, r.stdout, r.returncode,
                            f"{dst}/verify_out", check)
    with open(f"{REPO}/{name}.json", "w") as f:
        json.dump(summary, f, indent=1)
    print(f"[{name}] summary -> {name}.json ({summary['n_ok']} ok, "
          f"{summary['n_fail']} fail, complete={summary['complete']})")
    sys.exit(rc)


if __name__ == "__main__":
    main()
