from __future__ import annotations

import decimal
import math
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from boletia_kubernetes_kafka_mongodb_spark.session import get_spark

    # as many local cores as the tier-1 command exports (8 without it)
    s = get_spark("boletia-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", 8))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_CORRECT}/{name}.parquet'"
        )
    yield con
    con.close()


def canon(v, duck=False) -> str:
    """Driver-style canonical form of one result cell, the one rule
    `compare_with_oracle` and ``hostile.py`` compare by.

    Values are type-tagged; floats round to 6dp; a Decimal stays apart
    from a float, so a DECIMAL-typed oracle column is caught as a mismatch
    (the driver's hash would differ). NaN→NULL is ASYMMETRIC: only the
    DuckDB side (``duck=True``) maps NaN to NULL — DuckDB surfaces SQL NULL
    aggregates as float('nan') through fetchall in some paths. A Spark-side
    NaN stays a distinct value, so a config-sensitive regression that turns
    a NULL result into NaN (silent-null casts) is a caught mismatch."""
    if v is None or (duck and isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, float):
        return f"float:{round(v, 6)}"
    if isinstance(v, int):
        return f"int:{v}"
    return f"str:{v}"


def compare_with_oracle(spark, duck, query_fn, sql, sf_dir=SF_CORRECT):
    """Mimic the driver: row-count + column names + order-insensitive values
    (cells compared by `canon`).

    DuckDB results come via fetchall (native python values) — fetchdf would
    coerce BIGINT columns to float64 and mask/introduce type mismatches.
    """
    sdf = query_fn(spark, sf_dir)
    spark_rows = sdf.collect()
    rel = duck.execute(sql)
    d_colnames = [d[0] for d in rel.description]
    duck_rows = [dict(zip(d_colnames, t)) for t in rel.fetchall()]
    assert len(spark_rows) == len(duck_rows), (
        f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_cols = sorted(sdf.columns)
    d_cols = sorted(d_colnames)
    assert s_cols == d_cols, f"columns: spark={s_cols} duck={d_cols}"

    s_set = sorted(tuple(canon(r[c]) for c in s_cols) for r in spark_rows)
    d_set = sorted(
        tuple(canon(row[c], duck=True) for c in d_cols) for row in duck_rows
    )
    mismatches = [
        (a, b) for a, b in zip(s_set, d_set) if a != b
    ]
    assert not mismatches, f"value mismatch (first 3): {mismatches[:3]}"
