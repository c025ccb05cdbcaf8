"""Order-insensitive digests of query results, so Spark rows and their
DuckDB twins can be compared by hash.

Both engines' rows reduce to the same canonical text: columns sorted
by name, every value rendered by ``canon``, rows sorted. Equal digests
mean equal column names, row counts and values."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(val) -> str:
    if val is None:
        return "\x00NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(val + 0.0)  # folds -0.0 into 0.0
    if isinstance(val, int):
        return repr(int(val))
    if isinstance(val, decimal.Decimal):
        return repr(float(val))
    if isinstance(val, (datetime.datetime, datetime.date)):
        return val.isoformat()
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return repr(val)


def digest(columns, rows) -> tuple[str, int]:
    """(sha256 hex, row count) of a result given its column names and
    row tuples in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def duckdb_digests(data_dir: str, oracles: dict[str, str]) -> dict:
    """Digest of every oracle SQL twin, run by DuckDB over ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()
