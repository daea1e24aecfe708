"""DuckDB oracle check for the ops_battery workload.

Each query leaf's Spark rows (written as parquet by the benchmark's warm-up
pass) are compared with its oracle SQL run in DuckDB over the same generated
tables, the way tools/check_oracle.py does: columns sorted by name, then the
same row count, column names and values.
"""
import json
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _canon(df):
    return df[sorted(df.columns)].reset_index(drop=True)


def _eq(u, v):
    if isinstance(u, (list, np.ndarray)):
        return list(u) == list(v)
    return u == v or (pd.isna(u) and pd.isna(v))


def _same(a, b):
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        x, y = a[c].values, b[c].values
        if a[c].dtype == object:
            if not all(_eq(u, v) for u, v in zip(x, y)):
                return False
        elif np.issubdtype(a[c].dtype, np.floating):
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


def failing_leaves(tables: Path, out: Path) -> set:
    """Names of the leaves whose rows differ from their oracle's, or whose
    timed passes counted another number of rows than the warm-up wrote."""
    oracles = json.loads((out / "oracle_sql.json").read_text())
    counts = json.loads((out / "counts.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    bad = set()
    for name, sql in oracles.items():
        files = sorted((out / name).glob("*.parquet"))
        try:
            got = _canon(pd.concat([pd.read_parquet(f) for f in files])) if files else None
            want = _canon(con.sql(sql).df())
            if got is None or len(got) != counts[name] or not _same(got, want):
                bad.add(name)
        except Exception:
            bad.add(name)
    con.close()
    return bad
