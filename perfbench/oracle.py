"""DuckDB oracle check for the query workload's outputs.

Each query's output (parquet, written by the harness) must equal the
rows its `SparkEntry.oracleSql` statement returns under DuckDB over the
same input tables: the same column names, the same row count, and the
same multiset of rows. Rows are compared as sorted, type-normalised
tuples over name-sorted columns, so row order, column order and the
int/decimal/double spelling of a number do not matter; values do,
exactly.
"""
import datetime
import decimal
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (0, 0)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, decimal.Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and v.is_integer() and abs(v) < 2 ** 63:
        v = int(v)
    if isinstance(v, int):
        return (2, v)
    if isinstance(v, float):
        return (3, v)
    if isinstance(v, str):
        return (4, v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return (5, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (6, tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return (7, tuple(sorted((k, _norm(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return (8, bytes(v))
    return (9, repr(v))


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_norm(r[i]) for i in order) for r in cur.fetchall())
    return sorted(cols), rows


def compare(con, ours_sql, oracle_sql):
    """Why the two results differ, or None when they match."""
    ours_cols, ours = _rows(con, ours_sql)
    theirs_cols, theirs = _rows(con, oracle_sql)
    if ours_cols != theirs_cols:
        return f"columns {ours_cols} != {theirs_cols}"
    if len(ours) != len(theirs):
        return f"{len(ours)} rows != {len(theirs)}"
    if ours != theirs:
        n = sum(1 for x, y in zip(ours, theirs) if x != y)
        return f"{n} of {len(ours)} rows differ"
    return None


def check(tables_dir, outputs_dir, oracle_json):
    """Map of query name → reason, for every query that fails its check."""
    with open(oracle_json) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(outputs_dir, name, "*.parquet"))
        if sql is None:
            bad[name] = "no oracle statement"
        elif not files:
            bad[name] = "no output"
        else:
            try:
                why = compare(con, "SELECT * FROM read_parquet("
                              f"'{os.path.join(outputs_dir, name)}/*.parquet')",
                              sql)
            except duckdb.Error as e:
                why = f"oracle error: {e}"
            if why:
                bad[name] = why
    con.close()
    return bad
