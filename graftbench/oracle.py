"""Output checks for the query workloads: each result graft wrote must
equal its DuckDB oracle over the same tables.

The comparison is the repository's correctness gate (tools/compare.py):
columns sorted by name, the same coarse type class per column (int vs
float), no decimal-typed output, the same row count, and the same values
row by row after canonicalisation (floats at 15 significant digits).
"""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq
import pyarrow.types as pt

from gen_tables import TABLES


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.15g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _kind(t):
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t) or pt.is_decimal(t):
        return "float"
    return str(t)


def canonical(tbl):
    """(sorted column names, type class per column, canonical rows)."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = [tuple(canon(x) for x in r) for r in zip(*data)] if cols else []
    kinds = {f.name: _kind(f.type) for f in tbl.schema}
    decimals = sorted(f.name for f in tbl.schema if pt.is_decimal(f.type))
    return cols, [kinds[c] for c in cols], rows, decimals


def compare(got, want):
    """None when equal, else the first difference found."""
    gcols, gkinds, grows, gdec = got
    wcols, wkinds, wrows, wdec = want
    if gcols != wcols:
        return f"columns {gcols} != oracle {wcols}"
    bad = [c for c, a, b in zip(gcols, gkinds, wkinds)
           if {a, b} == {"int", "float"}]
    if bad:
        return f"int/float type class differs on {bad}"
    if gdec or wdec:
        return f"decimal-typed output columns {sorted(set(gdec) | set(wdec))}"
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != oracle {len(wrows)}"
    for i, (a, b) in enumerate(zip(grows, wrows)):
        if a != b:
            return f"row {i}: {list(a)} != oracle {list(b)}"
    return None


def check_results(res, tables_dir, check_dir, catalog_path):
    """Checks the first result of each query against its oracle. A wrong
    first result fails every op that ran the query: later results were
    checked equal to it by the harness."""
    sql = {q["name"]: q["oracle"] for q in json.load(open(catalog_path))}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    names = sorted(os.listdir(check_dir)) if os.path.isdir(check_dir) else []
    if not names:
        for op in res["ops"]:
            op["errors"].append("no results written")
    for n in names:
        diff = compare(canonical(pq.read_table(os.path.join(check_dir, n))),
                       canonical(con.execute(sql[n]).arrow()))
        if diff:
            for op in res["ops"]:
                op["errors"].append(f"{n}: {diff}")
