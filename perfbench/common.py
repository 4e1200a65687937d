"""Pieces every workload shares: operations, result comparison, DuckDB."""

from __future__ import annotations

import datetime as dt
import math
import os


class Op:
    """One timed operation: ``run(op_id)`` does the work and returns the
    number of input rows it consumed; it raises ``EmptyResult`` when a
    query whose contract is to find something found nothing."""

    __slots__ = ("name", "run")

    def __init__(self, name: str, run) -> None:
        self.name = name
        self.run = run


class EmptyResult(Exception):
    """An operation whose contract is to find something found nothing."""


def cents(field: str) -> dict:
    """Exact integer cents of a money field (sums then do not depend on
    partition order, so Spark and DuckDB agree exactly)."""
    return {"$toLong": {"$round": [{"$multiply": [field, 100]}, 0]}}


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------

REL_TOL = 1e-9


def _plain(v):
    """Spark Rows, DuckDB structs and lists to plain Python values."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _close(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def _sort_key(row: dict):
    def k(v):
        if isinstance(v, float):
            return (1, round(v, 6))
        if v is None:
            return (0, "")
        if isinstance(v, (int, float)):
            return (1, v)
        return (2, repr(v))
    return [k(row[c]) for c in sorted(row)]


def compare_rows(expected: list[dict], actual, ordered: bool) -> str | None:
    """None when ``actual`` (Spark rows or dicts) matches ``expected``
    (dicts), else a one-line reason. Numbers match to a relative 1e-9;
    unordered results are compared as multisets."""
    exp = [_plain(r) for r in expected]
    act = [_plain(r) for r in actual]
    if len(exp) != len(act):
        return f"{len(act)} rows, expected {len(exp)}"
    if exp and exp[0].keys() != act[0].keys():
        return f"columns {sorted(act[0])}, expected {sorted(exp[0])}"
    if not ordered:
        exp, act = sorted(exp, key=_sort_key), sorted(act, key=_sort_key)
    for i, (e, a) in enumerate(zip(exp, act)):
        if not _close(e, a):
            return f"row {i}: {a}, expected {e}"
    return None


# ---------------------------------------------------------------------------
# DuckDB
# ---------------------------------------------------------------------------

def duckdb_over(path: str, tables: list[str], threads: int = 2):
    """A DuckDB connection with one view per parquet table under ``path``."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(path, t + '.parquet')}')")
    return con


def duck_rows(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]
