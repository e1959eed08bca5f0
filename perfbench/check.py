"""Result checking: DuckDB oracles, order-insensitive comparison and the
recall checks for the approximate operators.

Cells are compared the way the repository's oracle sweep compares them
(both sides through pandas, numeric cells tagged int/float, NaN folded
into NULL, rows sorted), so a row that passes there passes here.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa


def duck_connect(data_dir: str, names: list[str]):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, n + '.parquet')}/*.parquet')")
    return con


def _cell(v):
    if v is None or v is pd.NaT or (
            isinstance(v, (float, np.floating)) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (decimal.Decimal, float, np.floating)):
        return ("float", float(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, pd.Timestamp):
        return ("ts", v.to_pydatetime().replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (np.ndarray, list, tuple)):
        return ("array", tuple(_cell(x) for x in v))
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    return (type(v).__name__, v)


def canonical(frame: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted column names, sorted normalized rows) of a result frame."""
    cols = list(frame.columns)
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_cell(r[i]) for i in idx)
            for r in frame.itertuples(index=False, name=None)]
    rows.sort(key=lambda t: tuple((x is None, str(type(x)), str(x))
                                  for x in t))
    return tuple(cols[i] for i in idx), rows


def digest(canon) -> str:
    return hashlib.md5(repr(canon).encode()).hexdigest()


def compare_oracle(name: str, result: pa.Table, con, sql: str) -> str | None:
    """None when ``result`` equals the oracle's rows, else why not."""
    mine = canonical(result.to_pandas())
    theirs = canonical(con.execute(sql).df())
    if mine[0] != theirs[0]:
        return f"{name}: columns {mine[0]} != oracle {theirs[0]}"
    if len(mine[1]) != len(theirs[1]):
        return f"{name}: {len(mine[1])} rows != oracle {len(theirs[1])}"
    if mine[1] != theirs[1]:
        bad = next(i for i, (a, b) in enumerate(zip(mine[1], theirs[1]))
                   if a != b)
        return f"{name}: row {bad} {mine[1][bad]} != oracle {theirs[1][bad]}"
    return None


def compare_recall(name: str, result: pa.Table, con, exact_sql: str,
                   keys: tuple[str, str], floor: float,
                   subset: bool) -> str | None:
    """Approximate operator vs its exact counterpart on ``keys``: recall
    of the exact key pairs must reach ``floor``; with ``subset`` every
    returned pair must also be an exact pair (exact verification)."""
    got = {tuple(r.values())
           for r in result.select(list(keys)).to_pylist()}
    exact = {tuple(r) for r in con.execute(
        f"SELECT {keys[0]}, {keys[1]} FROM ({exact_sql})").fetchall()}
    if not exact:
        return f"{name}: exact counterpart returned no rows"
    recall = len(got & exact) / len(exact)
    if recall < floor:
        return f"{name}: recall {recall:.3f} < {floor}"
    if subset and not got <= exact:
        return f"{name}: {len(got - exact)} pairs not in the exact result"
    return None
