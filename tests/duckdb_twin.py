"""Compare a Spark operator's output with its DuckDB twin.

Every operator ships one implementation; its reference is the DuckDB
SQL twin (``*_SQL`` / ``*_sql()`` / ``oracle_sql()``), run over the
same input.  :func:`assert_matches_twin` registers that input in DuckDB
under the table names the SQL reads, runs both sides and compares them
with ``tools/local_verify.compare`` (column names, row count, exact
order-insensitive values) — the driver gate's own rule.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

import __spark_entry__ as entrymod
from tools.local_verify import compare


def _connect(tables: str | dict) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit='2GB'")
    if isinstance(tables, str):
        for t in entrymod.TABLES:
            path = f"{tables}/{t}.parquet"
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
    else:
        for name, df in tables.items():
            pdf = df.toPandas() if isinstance(df, DataFrame) else df
            con.register(name, pdf)
    return con


def assert_matches_twin(got: DataFrame, sql: str, tables: str | dict,
                        min_rows: int = 1) -> pd.DataFrame:
    """Assert ``got`` equals the rows of ``sql`` run on DuckDB.

    ``tables`` is a fixture dir (every ``__spark_entry__.TABLES``
    parquet in it becomes a view of that name) or a dict of table name
    → Spark or pandas DataFrame.  A bare ``(SELECT ...)`` subquery, the
    shape of the ``*_SQL`` constants, is wrapped in a SELECT.  Returns
    the Spark rows as pandas for further checks."""
    if sql.strip().startswith("("):
        sql = f"SELECT * FROM {sql} q_twin"
    con = _connect(tables)
    try:
        exp = con.execute(sql).df()
    finally:
        con.close()
    out = got.toPandas()
    errs = compare("twin", out, exp)
    assert not errs, errs
    assert len(out) >= min_rows, f"only {len(out)} rows (< {min_rows})"
    return out
