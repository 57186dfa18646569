"""DuckDB oracle check for catalog results. The tables and the
normalisation (sorted columns, object columns as strings, sorted rows) come
from tools/check_oracle.py; the comparison below repeats that script's
column-by-column rules (equal column names, row counts and values, floats
exactly or both NaN), which sit inside its main().

Oracle results are cached by a fingerprint of the data files plus the SQL
text, so a workload pays each oracle query once per checkout.
"""
import hashlib
import os
import pickle
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import TABLES, norm  # noqa: E402


def fingerprint(data_dir: Path) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            h.update(t.encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def compare(got: pd.DataFrame, exp: pd.DataFrame):
    """None when equal, else the first difference as a message."""
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        a, b = g[c].values, e[c].values
        if np.issubdtype(g[c].dtype, np.floating):
            eq = (a == b) | (pd.isna(a) & pd.isna(b))
        elif g[c].dtype == object:
            eq = (g[c].fillna("__NA__") == e[c].fillna("__NA__")).values
        else:
            eq = a == b
        if not np.all(eq):
            i = int(np.argmin(eq))
            return f"col {c} row {i}: spark={a[i]!r} oracle={b[i]!r}"
    return None


class Oracle:
    def __init__(self, data_dir: Path, cache_dir: Path):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.fp = fingerprint(data_dir)
        self.con = None

    def expected(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((self.fp + "\0" + sql).encode()).hexdigest()
        path = self.cache_dir / f"{key}.pkl"
        if path.exists():
            return pd.read_pickle(path)
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                p = self.data_dir / f"{t}.parquet"
                if p.exists():
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        exp = self.con.sql(sql).df()
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        with open(tmp, "wb") as f:
            pickle.dump(exp, f)
        tmp.rename(path)
        return exp

    def check(self, sql, result_dir: Path):
        """None when the result matches the oracle, else why not."""
        if not sql:
            return "no oracle SQL"
        if not result_dir.is_dir():
            return "no result written"
        try:
            return compare(pd.read_parquet(result_dir), self.expected(sql))
        except Exception as e:  # an oracle or read failure is a failed check
            return f"{type(e).__name__}: {e}"
