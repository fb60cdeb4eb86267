"""Checks catalog query results against DuckDB's answers.

The oracle for query ``q`` is ``SparkEntry.oracleSql(q)`` run by DuckDB
over the same parquet tables. Both sides get ``tools/compare.py``'s
canonicalization (columns sorted by name, NaN normalized, rows sorted by
``key``), and rows then compare exactly, as there. In addition, every cell
must have the same Python type on both sides (int, float, Decimal, ...), so
that a drift in a column's type shows. DuckDB's answers are cached per sf
directory and SQL text under ``.bench_work/oracle``.
"""

import hashlib
import importlib.util
import os
import pickle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_compare(root):
    """tools/compare.py's canonicalization: ``norm`` and ``key``."""
    path = os.path.join(root, "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("repo_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm, mod.key


def shape(v):
    """The type of a cell, and of every element of a nested one."""
    if isinstance(v, (list, tuple)):
        return type(v), tuple(shape(x) for x in v)
    if isinstance(v, dict):
        return dict, tuple((k, shape(x)) for k, x in v.items())
    return type(v)


def same(got, want):
    """compare.py's row test, plus the same type in every cell."""
    return got == want and shape(got) == shape(want)


class Oracle:
    def __init__(self, root, sf_dir, cache_dir):
        import duckdb
        self.norm, self.key = load_compare(root)
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.cache = os.path.join(cache_dir, os.path.basename(os.path.normpath(sf_dir)))
        os.makedirs(self.cache, exist_ok=True)

    def canonical(self, rel):
        cols = sorted(rel.columns)
        rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
        return cols, sorted((tuple(self.norm(v) for v in r) for r in rows), key=self.key)

    def answer(self, name, sql):
        f = os.path.join(self.cache, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pickle")
        if os.path.exists(f):
            with open(f, "rb") as fh:
                return pickle.load(fh)
        ans = self.canonical(self.con.sql(sql))
        tmp = f + f".{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(ans, fh)
        os.replace(tmp, f)
        return ans

    def check(self, name, sql, result_dir):
        """None when the parquet result at ``result_dir`` matches, else a reason."""
        try:
            want_cols, want = self.answer(name, sql)
            got_cols, got = self.canonical(self.con.sql(
                f"SELECT * FROM read_parquet('{result_dir}/*.parquet')"))
        except Exception as e:
            return f"{name}: {type(e).__name__}: {str(e)[:200]}"
        if got_cols != want_cols:
            return f"{name}: columns {got_cols} != {want_cols}"
        if len(got) != len(want):
            return f"{name}: rows {len(got)} != {len(want)}"
        bad = sum(1 for g, w in zip(got, want) if not same(g, w))
        if bad:
            return f"{name}: {bad} mismatched rows"
        return None
