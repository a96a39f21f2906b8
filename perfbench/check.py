"""Result checks: order-insensitive row hashes, goldens and the DuckDB oracle.

A query's result is summarised as ``(row count, hash)``.  The hash is
order-insensitive: columns are taken in name order, floats are rounded to
4 decimals, timestamps are written in ISO form, and the sorted row reprs are
hashed.  The expected summary for a query comes from, in order:

1. ``goldens.json`` in this directory, recorded from the engine for a fixed
   set of seeds (``record_goldens.py``), which records only results that
   agree with the oracle;
2. for a query with no golden for the seed, the registry's DuckDB oracle
   SQL, run on the same generated inputs.

Only the preparation's collected result is checked; the timed passes write
to the ``noop`` sink and are not.  Every result must also have rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

GOLDENS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")


def _norm(v):
    # integral numbers compare equal whatever their type (1 == 1.0 ==
    # Decimal("1.00")), as the engines disagree on some result types
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return None
        r = round(v, 4) + 0.0
        return int(r) if r.is_integer() and abs(r) < 2**53 else r
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def summarize(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:16]


def load_goldens(path: str = GOLDENS_PATH) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def oracle_summaries(queries: dict, names: list[str], sf_dir: str) -> dict[str, tuple[int, str]]:
    """Run each named query's DuckDB oracle SQL over the generated tables."""
    out = {}
    if all(queries[name].oracle is None for name in names):
        return out
    import duckdb

    from datawarehouse_code_spark.sources.catalog import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            sql = queries[name].oracle
            if sql is None:
                continue
            rel = con.sql(sql)
            out[name] = summarize(rel.columns, rel.fetchall())
    finally:
        con.close()
    return out


def expected_for(
    workload: str, seed: int, names: list[str], goldens: dict, oracle: dict
) -> dict[str, list[tuple[int, str]]]:
    """Every expected summary per query: the recorded golden for this seed
    and the oracle's, whichever exist."""
    recorded = goldens.get(workload, {}).get(str(seed), {})
    out: dict[str, list[tuple[int, str]]] = {}
    for name in names:
        exp = []
        if name in recorded:
            exp.append(tuple(recorded[name]))
        if name in oracle:
            exp.append(oracle[name])
        out[name] = exp
    return out
