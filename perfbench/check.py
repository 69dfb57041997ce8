"""Output checks, run outside the timed sections.

Batch query results (Arrow tables fetched from Spark) are compared with
``oracle_sql()[id]`` run on DuckDB over the same parquet files. Both sides
are reduced to a fingerprint that follows the repository's oracle-parity
check (``tests/conftest.py``): the sorted column names, the row count, and
an order-insensitive multiset hash of the rows. A row is hashed as a list
of its values in sorted column order, each value rendered with a type tag
(``bool:``, ``int:``, ``float:``, ``decimal:``, ``str:``, ...) so that the
string ``'1'`` differs from the integer 1 and the string ``'NULL'`` from a
NULL. Floats are rounded to six decimals; DECIMAL stays DECIMAL (an oracle
column typed DECIMAL where Spark returns DOUBLE is a mismatch); a NaN on
the oracle side counts as NULL, as it does in the parity check.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_INT = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT", "USMALLINT",
        "UINTEGER", "UBIGINT", "UHUGEINT")
_FLOAT = ("FLOAT", "DOUBLE", "REAL")


def connect(sf_dir: str | None = None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection; with ``sf_dir``, one view per table file there."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for n in TABLES if sf_dir else ():
        if os.path.exists(f"{sf_dir}/{n}.parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM '{sf_dir}/{n}.parquet'")
    return con


def _render(name: str, dtype: str, oracle: bool) -> str:
    """SQL for one value as tagged text; NULL stays NULL (an untagged list
    element, so no rendered value can equal it)."""
    c = f'"{name}"'
    t = dtype.upper()
    if t == "BOOLEAN":
        return f"'bool:' || CAST(CAST({c} AS INTEGER) AS VARCHAR)"
    if t in _INT:
        return f"'int:' || CAST({c} AS VARCHAR)"
    if t in _FLOAT:
        v = f"replace(printf('%.6f', {c}), '-0.000000', '0.000000')"
        return f"CASE WHEN isnan({c}) THEN NULL ELSE 'float:' || {v} END" if oracle else f"'float:' || {v}"
    if t.startswith("DECIMAL"):
        return f"'decimal:' || CAST({c} AS VARCHAR)"
    if t.startswith("TIMESTAMP WITH TIME ZONE"):
        return f"'ts:' || CAST(CAST({c} AS TIMESTAMP) AS VARCHAR)"
    if t.startswith("TIMESTAMP"):
        return f"'ts:' || CAST({c} AS VARCHAR)"
    if t == "VARCHAR":
        return f"'str:' || {c}"
    return f"'{t.split('(')[0].lower()}:' || CAST({c} AS VARCHAR)"


def fingerprint(con: duckdb.DuckDBPyConnection, relation: str, oracle: bool = False) -> tuple:
    """(sorted column names, rows, sum of row hashes, xor of row hashes) of
    a relation (a view name or a parenthesised query). ``oracle`` marks the
    expected side, where NaN reads as NULL."""
    desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    cols = sorted((d[0], d[1]) for d in desc)
    row = ", ".join(_render(n, t, oracle) for n, t in cols)
    return (tuple(n for n, _ in cols),) + con.execute(
        f"SELECT count(*), coalesce(sum(hash(r)::HUGEINT), 0), coalesce(bit_xor(hash(r)), 0) "
        f"FROM (SELECT list_value({row}) AS r FROM {relation})"
    ).fetchone()


def expect(con: duckdb.DuckDBPyConnection, sql: str, expected_cache: dict) -> None:
    """Run the oracle once and keep its fingerprint."""
    if sql not in expected_cache:
        con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {sql}")
        expected_cache[sql] = fingerprint(con, "_oracle", oracle=True)


def matches_oracle(con: duckdb.DuckDBPyConnection, result: pa.Table, sql: str,
                   expected_cache: dict) -> bool:
    """True when the Spark result equals the oracle's rows as a multiset."""
    expect(con, sql, expected_cache)
    con.register("_result", result)
    try:
        return fingerprint(con, "_result") == expected_cache[sql]
    finally:
        con.unregister("_result")
