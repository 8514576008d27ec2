"""Independent output checks: DuckDB re-runs or re-derives what Spark
returned, and results are compared by the engine's oracle contract —
same sorted column names, same row count, and equal rows as an
order-insensitive multiset after canonicalizing values (dates and
timestamps to ISO text; floats equal to a relative 1e-9, because the
engines sum in different orders)."""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import Decimal

import duckdb

_PARAM = re.compile(r":([A-Za-z_]\w*)")


def duck_sql(spark_sql: str) -> str:
    """Spark named parameter markers (``:name``) → DuckDB (``$name``)."""
    return _PARAM.sub(r"$\1", spark_sql)


def connect(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    """Comparable form of one value; floats stay floats (compared with
    a tolerance, because engines sum in different orders)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return None if math.isnan(v) else v  # pandas renders SQL NULL in float columns as NaN
    if isinstance(v, dt.datetime):  # includes pandas Timestamp
        if v.tzinfo is None and v.time() == dt.time(0):
            return v.date().isoformat()  # DuckDB hands DATE to pandas as midnight
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if type(v).__module__ == "numpy" and hasattr(v, "tolist"):
        return _canon(v.tolist())
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row):
    return repr(tuple(f"{x:.6g}" if isinstance(x, float) else x for x in row))


def canon_rows(pdf, cols) -> list[tuple]:
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(b, float) and isinstance(a, int):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_frames(got, want, name: str) -> str | None:
    """None when equal under the oracle contract, else a short reason."""
    g_cols, w_cols = sorted(got.columns), sorted(want.columns)
    if g_cols != w_cols:
        return f"{name}: columns {g_cols} vs {w_cols}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows vs {len(want)}"
    g, w = canon_rows(got, g_cols), canon_rows(want, g_cols)
    bad = [(a, b) for a, b in zip(g, w)
           if len(a) != len(b) or not all(_same(x, y) for x, y in zip(a, b))]
    if bad:
        return f"{name}: {len(bad)}/{len(g)} rows differ, first {bad[0]}"
    return None


def multiset_diff(con, a_sql: str, b_sql: str) -> int:
    """Rows in either relation but not the other, as multisets."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql}))) + "
        f"(SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))"
    ).fetchone()[0]


def normalize_words(text: str) -> list[str]:
    """The dedup operators' normal form: lowercase, whitespace
    collapsed and trimmed, split on single spaces."""
    return " ".join(text.lower().split()).split(" ") if text.strip() else []


def shingle_set(text: str, n: int = 3) -> set[str]:
    w = normalize_words(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)
