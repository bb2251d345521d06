"""DuckDB oracle check for the batch workloads.

Each query's Spark result (parquet, written by the warm-up pass) is
compared with its `oracleSql` run by DuckDB on the same corpus, by the
row-set compare of scripts/check_oracle.py: columns matched by name, rows
compared in order first and, failing that, as sorted row sets. Oracle
results are cached on disk by (SQL, corpus fingerprint), so DuckDB runs a
query once per corpus.
"""
import contextlib
import hashlib
import os
import pickle
import sys

import duckdb
import pyarrow.parquet as pq

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "scripts")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(spark_cols, spark_rows, duck_cols, duck_rows):
    """None when the results agree, else a one-line reason: the compare of
    scripts/check_oracle.py (its order warnings go to stderr)."""
    if SCRIPTS not in sys.path:
        sys.path.insert(0, SCRIPTS)
    import check_oracle
    with contextlib.redirect_stdout(sys.stderr):
        return check_oracle.compare("", spark_rows, spark_cols, duck_rows,
                                    duck_cols)


class Oracle:
    def __init__(self, corpus_dir, fingerprint, cache_dir):
        self.corpus = corpus_dir
        self.fp = fingerprint
        self.cache = cache_dir
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            for t in TABLES:
                p = os.path.join(self.corpus, f"{t}.parquet")
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self.con

    def result(self, sql):
        """(columns, rows) of `sql` on the corpus, from cache if present."""
        key = hashlib.sha256((self.fp + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = self._connect().sql(sql)
        val = (list(res.columns), res.fetchall())
        with open(path + ".tmp", "wb") as f:
            pickle.dump(val, f)
        os.replace(path + ".tmp", path)
        return val

    def check(self, sql, result_dir):
        """None when the Spark result at `result_dir` matches `sql`."""
        try:
            tbl = pq.read_table(result_dir, coerce_int96_timestamp_unit="us")
            cols = tbl.column_names
            rows = [tuple(r[c] for c in cols) for r in tbl.to_pylist()]
            dcols, drows = self.result(sql)
            return compare(cols, rows, dcols, drows)
        except Exception as e:  # a failed read or query is a failed check
            return f"{type(e).__name__}: {e}"
