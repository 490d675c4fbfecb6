"""Output checks, run after the clock stops.

Every check returns a list of problems (empty = pass); the caller counts
each failing operation once in ``failed``.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REL_TOL = 1e-9


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every input table as a view, the names the
    registry's oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        path = Path(sf_dir) / f"{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Lower-cased, name-sorted columns; rows sorted by every column
    (order-insensitive); list cells turned into tuples so they sort."""
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any():
            df[c] = df[c].map(lambda v: tuple(np.asarray(v).tolist()) if v is not None else None)
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _close(a, b) -> bool:
    if _missing(a) or _missing(b):
        return _missing(a) and _missing(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float, np.number)) and isinstance(b, (int, float, np.number)):
        return a == b or math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=REL_TOL)
    return str(a) == str(b)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive equality of two result frames: same column names,
    same row count, equal values (floats to a relative 1e-9)."""
    g, w = canonical(got), canonical(want)
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"rows {len(g)} != {len(w)}"]
    for c in g.columns:
        a = [None if pd.isna(v) is True else v for v in g[c].tolist()]
        b = [None if pd.isna(v) is True else v for v in w[c].tolist()]
        bad = [i for i, (x, y) in enumerate(zip(a, b)) if not _close(x, y)]
        if bad:
            i = bad[0]
            return [f"column {c}: {len(bad)} values differ, first row {i}: {a[i]!r} != {b[i]!r}"]
    return []


def ranking_invariants(rows: list[dict], ks=(5, 10)) -> list[str]:
    """HR/NDCG/MRR rows (domain, k, n_users, hr, ndcg, mrr) of one mode:
    every metric in [0, 1], MRR <= NDCG <= HR, HR non-decreasing in K,
    and one row per (domain, K)."""
    problems = []
    by = {(r["domain"], r["k"]): r for r in rows}
    if len(by) != len(rows) or {k for _, k in by} != set(ks):
        problems.append(f"metric rows keyed {sorted(by)}")
    for key, r in by.items():
        if not r["n_users"] or r["n_users"] <= 0:
            problems.append(f"{key}: n_users={r['n_users']}")
        for m in ("hr", "ndcg", "mrr"):
            if r[m] is None or not 0.0 <= r[m] <= 1.0:
                problems.append(f"{key}: {m}={r[m]} outside [0, 1]")
        if None not in (r["hr"], r["ndcg"], r["mrr"]) and not (
                r["mrr"] <= r["ndcg"] + 1e-12 and r["ndcg"] <= r["hr"] + 1e-12):
            problems.append(f"{key}: not mrr <= ndcg <= hr")
    for d in {d for d, _ in by}:
        hrs = [by[(d, k)]["hr"] for k in sorted(ks) if (d, k) in by]
        if any(b is None or a is None or b < a for a, b in zip(hrs, hrs[1:])):
            problems.append(f"domain {d}: HR not non-decreasing in K: {hrs}")
    return problems


def same_params(a: dict, b: dict) -> list[str]:
    """Two trained parameter dicts {name: ndarray} are identical."""
    if sorted(a) != sorted(b):
        return [f"parameter names {sorted(a)} != {sorted(b)}"]
    return [f"parameter {k} differs on replay" for k in sorted(a)
            if a[k].shape != b[k].shape or not np.array_equal(a[k], b[k])]
