"""Program-independent correctness check.

DuckDB reads each imported table (parquet from the warehouse, or an Arrow
copy of a Derby table fetched with a plain Spark JDBC read) and computes
the same order-independent digest ``gen.generate`` recorded for the
generated source. A table whose row count or digest differs has failed.
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb

from gen import DDL, digest_sql

_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _canonical(name: str, dtype: str) -> str:
    """VARCHAR form of one column, matching the generator's text."""
    col = f'"{name}"'
    if dtype.startswith("TIMESTAMP"):
        return f"strftime(CAST({col} AS TIMESTAMP), '{_TS_FMT}')"
    return f"CAST({col} AS VARCHAR)"


def _digest(con, relation: str, table: str) -> dict:
    types = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE SELECT * FROM {relation})").fetchall())
    cols = [c for c, _, _ in DDL[table][0]]
    exprs = [_canonical(c, types[c]) for c in cols]
    n, x, s = con.execute(digest_sql(relation, exprs)).fetchone()
    return {"rows": n, "xor": x or 0, "sum": int(s or 0)}


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def check_parquet(warehouse: str, expected: dict[str, dict]) -> list[str]:
    """Return the ``db.table`` names whose imported parquet differs from
    the expected digest (missing tables included)."""
    bad = []
    con = _connect()
    try:
        for key, want in expected.items():
            db, table = key.split(".", 1)
            files = glob.glob(os.path.join(warehouse, db, table, "**", "*.parquet"), recursive=True)
            if not files:
                bad.append(key)
                continue
            rel = f"read_parquet({files!r})"
            if _digest(con, rel, table) != want:
                bad.append(key)
    finally:
        con.close()
    return bad


def check_jdbc(spark, url: str, props: dict, prefix: str, expected: dict[str, dict]) -> list[str]:
    """Same check for tables written over JDBC into the schema
    ``<prefix><db>``: Spark reads each table with ``spark.read.jdbc`` and
    DuckDB digests its Arrow copy."""
    bad = []
    con = _connect()
    try:
        for key, want in expected.items():
            db, table = key.split(".", 1)
            try:
                arrow = spark.read.jdbc(url, f"{prefix}{db}.{table}", properties=props).toArrow()
            except Exception as exc:  # a missing table is a failed table
                print(f"verify: {key}: {type(exc).__name__}", file=sys.stderr)
                bad.append(key)
                continue
            arrow = arrow.rename_columns([c.lower() for c in arrow.column_names])
            con.register("t", arrow)
            if _digest(con, "t", table) != want:
                bad.append(key)
            con.unregister("t")
    finally:
        con.close()
    return bad
