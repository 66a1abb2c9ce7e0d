"""DuckDB oracle check of the warehouse results.

The engine carries, for each analytics query, an equivalent DuckDB SQL
(`graft.SparkEntry.oracleSql`). Each query variant's first Spark result is
compared with that SQL, under the same predicate, over the same generated
lake, by row count, column names and a canonical order-invariant hash.
"""
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check(refs, lake):
    """refs: variant id -> {query, where, oracle_sql, cols, rows}. Returns
    variant id -> None when the result matches the oracle, else a reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{lake}/{t}.parquet'")
    out = {}
    for v, ref in refs.items():
        if not ref["oracle_sql"]:
            out[v] = f"{ref['query']}: no oracle SQL"
            continue
        try:
            rel = con.sql(f"SELECT * FROM ({ref['oracle_sql']}) AS oracle WHERE {ref['where']}")
            ocols, orows = [c.lower() for c in rel.columns], rel.fetchall()
        except duckdb.Error as e:
            out[v] = f"{ref['query']}: oracle error {str(e)[:200]}"
            continue
        scols = [c.lower() for c in ref["cols"]]
        srows = [tuple(r) for r in ref["rows"]]
        if sorted(scols) != sorted(ocols):
            out[v] = f"{ref['query']}: columns {sorted(scols)} != {sorted(ocols)}"
        elif len(srows) != len(orows):
            out[v] = f"{ref['query']} WHERE {ref['where']}: {len(srows)} rows != oracle {len(orows)}"
        elif table_hash(srows, scols) != table_hash(orows, ocols):
            out[v] = f"{ref['query']} WHERE {ref['where']}: value hash mismatch"
        else:
            out[v] = None
    return out
