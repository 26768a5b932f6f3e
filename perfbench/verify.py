"""Order-independent result digests and the DuckDB oracle.

A digest covers column names, canonical column types and the sorted
multiset of canonicalized rows, so two results agree exactly when the
engine's own differential tests would call them equal.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from datetime import date, datetime
from decimal import Decimal

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_TYPES = {
    "tinyint": "i8", "smallint": "i16", "int": "i32", "integer": "i32",
    "bigint": "i64", "long": "i64", "hugeint": "i128",
    "double": "f64", "float": "f32", "real": "f32",
    "varchar": "str", "string": "str", "timestamp": "ts",
    "timestamp_ntz": "ts", "date": "date", "boolean": "bool",
    "blob": "bin", "binary": "bin",
}


def canon_type(t) -> str:
    s = str(t).strip().lower()
    if s.endswith("[]"):
        return f"array<{canon_type(s[:-2])}>"
    if s.startswith("array<") and s.endswith(">"):
        return f"array<{canon_type(s[6:-1])}>"
    if s.startswith("decimal"):
        return s.replace(" ", "")
    return _TYPES.get(s, s)


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, Decimal):
        return "dec:" + format(v, "f")
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(columns: list[str], types: list, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update("|".join(f"{columns[i]}:{canon_type(types[i])}"
                      for i in order).encode())
    for line in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def spark_digest(columns, dtypes, rows) -> str:
    """Digest of collected Spark rows (``df.columns``, ``df.dtypes``)."""
    return digest(list(columns), [t for _, t in dtypes],
                  [tuple(r) for r in rows])


def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')")
    return con


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    # DuckDB inlines a CTE at each reference, so the pair CTE that
    # opens the connected-components oracles is re-evaluated on every
    # recursion step; materializing it runs it once, with the same
    # result and about a sixth of the time
    sql = re.sub(r"^\s*WITH RECURSIVE (\w+) AS \(",
                 r"WITH RECURSIVE \1 AS MATERIALIZED (", sql, count=1)
    rel = con.sql(sql)
    return digest(list(rel.columns), list(rel.types), rel.fetchall())
