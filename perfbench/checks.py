"""Output checks: Spark results against DuckDB computations over the same
generated inputs. Nothing here is a stored copy of an earlier output."""

from __future__ import annotations

import glob
import math
import os
from datetime import date, datetime


def norm_val(v) -> str:
    """Engine-neutral rendering: floats to 9 significant digits (the
    catalog rounds its float outputs, so this only absorbs representation
    noise), timestamps in ISO form, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v + 0.0:.9g}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def norm_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_val(r[i]) for i in order) for r in rows)


def compare(scols, srows, dcols, drows) -> str | None:
    """None when equal as multisets of rows over name-sorted columns,
    else a one-line reason."""
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows spark={len(srows)} duckdb={len(drows)}"
    a, b = norm_rows(scols, srows), norm_rows(dcols, drows)
    for x, y in zip(a, b):
        if x != y:
            return f"first differing row spark={x} duckdb={y}"
    return None


def duck(inputs: str, tables: dict[str, list[str]]):
    """DuckDB connection with one view per table over the given parquet
    files (or globs)."""
    import duckdb

    con = duckdb.connect()
    for name, files in tables.items():
        paths = sorted(p for f in files for p in glob.glob(os.path.join(inputs, f)))
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({paths!r})")
    return con


def query(con, sql: str) -> tuple[list[str], list]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def self_test() -> list[str]:
    """The comparison must pass an equal result and count every kind of
    wrong result as a failure. Returns the list of problems (empty = ok)."""
    cols = ["k", "v", "t"]
    good = [(1, 0.5, datetime(2024, 1, 1)), (2, 1.25, datetime(2024, 1, 2))]
    wrong = {
        "changed value": [(1, 0.5001, good[0][2]), good[1]],
        "missing row": good[:1],
        "extra row": good + [(3, 0.0, good[0][2])],
        "changed key": [(9, 0.5, good[0][2]), good[1]],
        "renamed column": None,
    }
    problems = []
    if compare(cols, list(reversed(good)), cols, good) is not None:
        problems.append("equal results (rows reordered) reported as different")
    for what, rows in wrong.items():
        scols = ["k", "v", "u"] if rows is None else cols
        if compare(scols, rows or good, cols, good) is None:
            problems.append(f"{what} not detected")
    return problems
