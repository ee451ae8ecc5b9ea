"""Local mirror of the driver's Spark-vs-DuckDB correctness gate.

For each registered query: run the Spark builder and the oracle SQL on the
same sf dir, normalize (column names sorted, rows sorted, timestamps to
isoformat, Decimal -> str -> canonical), and diff.  Used by
tests/test_queries_vs_duckdb.py and interactively while developing.
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass

import duckdb

from mysql_cdc_rs_spark.sources.testdata import TABLES


def _norm_cell(v):
    # Representation-SENSITIVE on integer types: the driver's hash diverges
    # when DuckDB returns HUGEINT/Decimal where Spark returns BIGINT, so a
    # Decimal here is surfaced as-is (tagged) instead of being coerced to int.
    # Oracles must CAST(sum(...) AS BIGINT) to match Spark's long aggregates.
    if v is None:
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def compare_query(spark, con, name: str, sf_dir: str) -> CompareResult:
    from mysql_cdc_rs_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        return CompareResult(name, True, len(s_rows), -1, "rows-only (no oracle)")

    res = con.sql(ORACLES[name])
    o_cols = res.columns
    o_rows = res.fetchall()

    if sorted(s_cols) != sorted(o_cols):
        return CompareResult(
            name,
            False,
            len(s_rows),
            len(o_rows),
            f"column mismatch: spark={sorted(s_cols)} oracle={sorted(o_cols)}",
        )
    sn = _norm_rows(s_cols, s_rows)
    on = _norm_rows(o_cols, o_rows)
    if sn == on:
        return CompareResult(name, True, len(s_rows), len(o_rows))
    # find first diff for debugging
    detail = f"row count spark={len(sn)} oracle={len(on)}"
    for i, (a, b) in enumerate(zip(sn, on)):
        if a != b:
            detail = f"first diff at sorted row {i}:\n  spark : {a}\n  oracle: {b}"
            break
    return CompareResult(name, False, len(s_rows), len(o_rows), detail)
