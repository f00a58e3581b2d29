"""Result checks for the query workloads.

Oracle keys are compared with their DuckDB oracle SQL under the engine's
correctness-gate rules: columns sorted by name, rows sorted, values
compared exactly. Keys without an oracle are compared by row count and an
order-independent digest pinned in `expected_digests.json`.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def compare(got, exp):
    """Empty string when `got` equals `exp` under the gate rules, else why not."""
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    cols = list(g.columns)
    gs = g.sort_values(by=cols, na_position="first").reset_index(drop=True)
    es = e.sort_values(by=cols, na_position="first").reset_index(drop=True)
    for c in cols:
        try:
            pd.testing.assert_series_equal(gs[c], es[c], check_dtype=False,
                                           check_exact=True, check_names=False)
        except AssertionError:
            return f"column {c} differs"
    return ""


def digest(df):
    """(rows, sha256) of the result as a multiset of rows, columns by name."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_plain(v) for v in r))
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def _plain(v):
    if hasattr(v, "tolist"):
        return _plain(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, float) and v != v:
        return "NaN"
    return v


def check_key(con, key, path, oracles, pinned, expected):
    """Empty string when the result of `key` written under `path` is
    correct. `expected` caches oracle results by key."""
    if not os.path.isdir(path):
        return "no result written"
    got = read_result(path)
    if key in oracles:
        if key not in expected:
            try:
                expected[key] = con.sql(oracles[key]).df()
            except Exception as e:  # an oracle that cannot run is a failed check
                expected[key] = f"oracle error: {e}"
        exp = expected[key]
        return exp if isinstance(exp, str) else compare(got, exp)
    if key not in pinned:
        return "rows-only key without a pinned digest"
    rows, sha = digest(got)
    want = pinned[key]
    if rows != want["rows"] or sha != want["sha256"]:
        return f"digest ({rows}, {sha[:12]}) != pinned ({want['rows']}, {want['sha256'][:12]})"
    return ""
