"""Compare query results with their DuckDB oracle twins.

The same comparison ``tools/check_oracle.py`` makes: row count, column
names, DuckDB's precise result types against Spark's, and an
order-insensitive multiset of the rows with columns sorted by name.
It runs outside the timed region.
"""

from __future__ import annotations

import os
import sys

import duckdb

import datagen

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))

from check_oracle import rows_multiset  # noqa: E402

_TYPES = {
    "BIGINT": "bigint", "VARCHAR": "string", "INTEGER": "int", "DOUBLE": "double",
    "FLOAT": "float", "BOOLEAN": "boolean", "DATE": "date",
}


def _spark_type(duck: str) -> str:
    if duck.endswith("[]"):
        return f"array<{_spark_type(duck[:-2])}>"
    return _TYPES.get(duck, duck.lower())


def compare(con, sql: str, cols: list[str], dtypes: dict[str, str], rows: list[tuple]) -> str | None:
    """None when Spark's result matches the oracle, else the problem."""
    rel = con.sql(sql)
    ocols = list(rel.columns)
    otypes = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    orows = rel.fetchall()
    if len(rows) != len(orows):
        return f"rowcount spark={len(rows)} oracle={len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns spark={sorted(cols)} oracle={sorted(ocols)}"
    drift = {c: (dtypes.get(c), otypes[c]) for c in ocols if _spark_type(otypes[c]) != dtypes.get(c)}
    if drift:
        return f"dtypes {drift}"
    if rows_multiset(cols, rows) != rows_multiset(ocols, orows):
        return "values differ"
    return None


def compare_all(data_dir: str, results: dict, names: list[str]) -> dict[str, str | None]:
    """Check every query in ``names``; a query with no result (it
    failed) or no oracle twin is reported as a problem too."""
    from proglog_spark import queries as q

    oracles = q.oracle_sql()
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            if name not in results:
                out[name] = "no result"
            elif name not in oracles:
                out[name] = "no oracle twin"
            else:
                out[name] = compare(con, oracles[name], *results[name])
        return out
    finally:
        con.close()
