"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same sf directory, then compares: row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted,
values normalized to strings). Exact string equality on normalized values
is a STRICTER bar than a tolerant hash, so passing here should imply
passing the driver.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

from dbt_repo_spark.queries import ORACLES, QUERIES

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _dtype_class(dtype) -> str:
    """Canonical dtype class, driver-strict on timezone-awareness.

    The driver's canonicalizer compares pandas schemas before hashing, so
    a tz-aware oracle column vs a naive Spark column (e.g. DuckDB
    ``to_timestamp`` → TIMESTAMPTZ) is a schema FAIL even when the
    instants agree. Width-only differences (int32/int64, float32/float64)
    collapse to one class — the value comparison catches real drift.
    """
    if isinstance(dtype, pd.DatetimeTZDtype):
        return f"datetime-tz[{dtype.tz}]"
    kind = getattr(dtype, "kind", "O")
    return {
        "M": "datetime", "m": "timedelta", "i": "int", "u": "int",
        "f": "float", "b": "bool",
    }.get(kind, "object")


def _norm_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)  # full precision — bit-exact comparison
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (bool,)):
        return str(bool(v))
    if isinstance(v, (int,)):
        return str(int(v))
    return str(v)


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False):
        out.append(tuple(_norm_value(v) for v in row))
    out.sort()
    return out


def run_oracle(name: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for tbl in TPCH_TABLES:
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
            )
        return con.execute(ORACLES[name]).df()
    finally:
        con.close()


# (name, sf_dir) -> the physical plan of the query's frame as built,
# before any action ran it, as ("simple" explain, executedPlan tree
# string). compare() records it at the cost of rendering the strings (the
# frame is planned once either way), so the plan-shape tests that scan
# every registered query read these plans instead of building each query
# again.
_COLD_PLANS: dict[tuple[str, str], tuple[str, str]] = {}


def build(name: str, spark, sf_dir: str):
    """The query's frame, with its cold plan recorded in ``_COLD_PLANS``."""
    df = QUERIES[name](spark, sf_dir)
    qe = df._jdf.queryExecution()
    simple = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    _COLD_PLANS[(name, sf_dir)] = (
        qe.explainString(simple), qe.executedPlan().toString()
    )
    return df


def cold_plans(name: str, spark, sf_dir: str) -> tuple[str, str]:
    """("simple" explain, executedPlan tree string) of the query as built,
    building it only if no earlier ``compare``/``build`` recorded it."""
    if (name, sf_dir) not in _COLD_PLANS:
        build(name, spark, sf_dir)
    return _COLD_PLANS[(name, sf_dir)]


def compare(name: str, spark, sf_dir: str) -> dict:
    spark_df = build(name, spark, sf_dir).toPandas()
    duck_df = run_oracle(name, sf_dir)
    result = {
        "name": name,
        "spark_rows": len(spark_df),
        "duck_rows": len(duck_df),
        "rows_match": len(spark_df) == len(duck_df),
        "cols_match": sorted(spark_df.columns) == sorted(duck_df.columns),
        "spark_cols": sorted(spark_df.columns),
        "duck_cols": sorted(duck_df.columns),
    }
    if result["cols_match"]:
        spark_dtypes = {c: _dtype_class(spark_df[c].dtype) for c in spark_df.columns}
        duck_dtypes = {c: _dtype_class(duck_df[c].dtype) for c in duck_df.columns}
        result["dtypes_match"] = spark_dtypes == duck_dtypes
        if not result["dtypes_match"]:
            result["dtype_diffs"] = {
                c: (spark_dtypes[c], duck_dtypes[c])
                for c in spark_dtypes
                if spark_dtypes[c] != duck_dtypes[c]
            }
    else:
        result["dtypes_match"] = False
    if result["rows_match"] and result["cols_match"]:
        a, b = _normalize(spark_df), _normalize(duck_df)
        result["values_match"] = a == b
        if not result["values_match"]:
            diffs = [(x, y) for x, y in zip(a, b) if x != y]
            result["first_diffs"] = diffs[:3]
            result["n_diffs"] = len(diffs)
    else:
        result["values_match"] = False
    return result
