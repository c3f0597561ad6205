"""Order-insensitive result hashes, and the DuckDB oracle cache.

A result is summarised as (sorted column names, row count, sha256 of the
sorted, normalised row strings); two engines agree when all three match.
Normalisation follows the repository's oracle comparison: floats at 9
decimals with -0.0 kept distinct, integral floats printed as integers,
NULL as a sentinel, columns ordered by name.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

_NULL = "␀"


def _norm(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def result_hash(rows, columns: list[str]) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(lines), "sha256": digest}


def oracle_hashes(table_dir: str, queries: dict[str, str], cache_dir: str) -> dict[str, dict]:
    """DuckDB hash of every ``name -> oracle SQL`` over the parquet tables
    in ``table_dir``. Cached on disk, keyed by the table bytes and the SQL
    text, so repeated runs of a seed skip DuckDB and an edited oracle or
    table is recomputed."""
    import duckdb

    from .datagen import TABLES

    h = hashlib.sha256(json.dumps(sorted(queries.items())).encode())
    for t in TABLES:
        with open(os.path.join(table_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:20]
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(table_dir, t)}.parquet')")
        out = {}
        for name, sql in queries.items():
            res = con.sql(sql)
            out[name] = result_hash(res.fetchall(), list(res.columns))
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
