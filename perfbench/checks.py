"""Output checks: DuckDB oracles and order-insensitive row comparison."""

from __future__ import annotations

import math
import os


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0 else repr(v)
    return str(v)


def normalize(rows, cols):
    """Rows as sorted tuples of strings, columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, x or "") for x in t))
    return out


def oracle_rows(data_dir: str, sql_by_name: dict[str, str]):
    """Run each oracle on DuckDB over the parquet tables in ``data_dir``.

    Returns ``{name: normalized rows}``.
    """
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(
                    f"CREATE VIEW {f[: -len('.parquet')]} AS "
                    f"SELECT * FROM '{path}'"
                )
        out = {}
        for name, sql in sql_by_name.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = normalize(res.fetchall(), cols)
        return out
    finally:
        con.close()


def diff(got, want, limit: int = 3) -> str | None:
    """``None`` when equal, else a short description of the difference."""
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    pairs = [(a, b) for a, b in zip(got, want) if a != b][:limit]
    return f"values differ, first: {pairs}"
