"""Generated corpus for the batch workloads.

Writes the ten tables the engine's queries read (`region` .. `embeddings`),
one parquet file each, with the schemas and value ranges of the test
corpus described in FIXTURES.md: the relational tables at the size of its
sf0.01 tier, `documents` and `embeddings` at that of its sf0.1 tier. The same
seed always gives the same bytes; another seed gives other rows of the
same shape. The batch workloads use one seed, CORPUS_SEED, for every run.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 tier, but for the tables the curation panel
# reads: documents and embeddings have the sf0.1 tier's 5000 and 2000 rows,
# so that the panel's time goes to per-row operator work, not per-stage cost
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 5000,
         "embeddings": 2000}
VERSION = "corpus-v2"
CORPUS_SEED = 42  # the seed of the test corpus (TESTDATA.md)

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["red", "blue", "small", "large", "hot", "old", "green", "cold"]
P_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(days_from, base):
    """Microsecond timestamps `base` + fractional days."""
    us = (np.asarray(days_from) * 86400e6).astype(np.int64)
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """Return {name: pyarrow.Table} for `seed`."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])})
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, np_),
                                                rng.choice(P_NOUN, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(P_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.integers(0, 2400, no), "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(rng.integers(1, 2500, nl), "1995-01-01")})
    ne = n["events"]
    # roughly ordered event times over 30 days, like the test corpus
    offs = np.sort(rng.uniform(0, 30, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(offs, "2024-01-01"),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup targets)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(seed, root):
    """Write the corpus for `seed` under `root` (once) and return its dir.

    The directory name carries the generator version and the seed, so a
    changed generator never reuses an old corpus."""
    d = os.path.join(root, f"{VERSION}-seed{seed}")
    done = os.path.join(d, "_COMPLETE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"),
                       row_group_size=1 << 20)
    with open(done, "w") as f:
        f.write(fingerprint(d) + "\n")
    return d


def fingerprint(d):
    """Content hash of a corpus directory (the oracle-cache key)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()
