"""Declarative data tests (SURVEY.md §2.11 D9-D12).

The reference's only automated testing is dbt generic tests
(models/staging/schema.yml:9-110, models_demo/schema.yml:8-41). Each test
here is a violation COUNT, never a collect of violating rows (at 100 TB
you count violations, you don't ship them to the driver). ``run_tests``
computes every row-local count of a relation (``not_null``,
``accepted_values``) in ONE aggregate job; ``unique`` and
``relationships`` need a shuffle and keep a job each.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class TestResult:
    name: str
    passed: bool
    violations: int
    stored_at: str | None = None  # layer.table holding the failing rows
    severity: str = "error"  # dbt test config: error | warn
    warned: bool = False  # warn-severity test exceeded its warn_if threshold

    def __repr__(self) -> str:  # pragma: no cover
        status = "PASS" if self.passed else ("WARN" if self.warned else "FAIL")
        if self.passed and self.warned:
            status = "WARN"
        return f"<{status} {self.name}: {self.violations} violations>"


def _not_accepted(column: str, values: Sequence) -> Column:
    return ~F.col(column).isin(list(values)) | F.col(column).isNull()


def _violations_unique(df: DataFrame, column: str) -> DataFrame:
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count("*").alias("n_duplicates"))
        .filter(F.col("n_duplicates") > 1)
    )


def _violations_accepted_values(
    df: DataFrame, column: str, values: Sequence
) -> DataFrame:
    return (
        df.filter(_not_accepted(column, values))
        .groupBy(column)
        .agg(F.count("*").alias("n_rows"))
    )


def _violations_relationships(
    child: DataFrame, column: str, parent: DataFrame, parent_column: str
) -> DataFrame:
    parent_keys = parent.select(F.col(parent_column).alias(column)).distinct()
    return (
        child.filter(F.col(column).isNotNull())
        .join(parent_keys, column, "left_anti")
        .groupBy(column)
        .agg(F.count("*").alias("n_orphans"))
    )


def _violations(df: DataFrame, column: str, t, kind: str) -> DataFrame:
    if kind == "not_null":
        return df.filter(F.col(column).isNull())
    if kind == "unique":
        return _violations_unique(df, column)
    if kind == "accepted_values":
        return _violations_accepted_values(df, column, t["accepted_values"])
    return _violations_relationships(df, column, *t["relationships"])


def _kind(column: str, t) -> str:
    """The generic test a spec entry names: a bare string or a dict
    keyed by the test (plus an optional ``config``)."""
    for kind in ("not_null", "unique"):
        if t == kind or (isinstance(t, dict) and kind in t):
            return kind
    for kind in ("accepted_values", "relationships"):
        if isinstance(t, dict) and kind in t:
            return kind
    raise ValueError(f"unknown test spec {t!r} for column {column}")


def not_null(df: DataFrame, column: str) -> TestResult:
    """dbt ``not_null`` (models/staging/schema.yml:9-30)."""
    n = df.filter(F.col(column).isNull()).count()
    return TestResult(f"not_null:{column}", n == 0, n)


def unique(df: DataFrame, column: str) -> TestResult:
    """dbt ``unique`` (models_demo/schema.yml:10)."""
    n = (
        df.filter(F.col(column).isNotNull())
        .groupBy(column)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    return TestResult(f"unique:{column}", n == 0, n)


def accepted_values(df: DataFrame, column: str, values: Sequence) -> TestResult:
    """dbt ``accepted_values`` (models_demo/schema.yml:33-35)."""
    n = df.filter(_not_accepted(column, values)).count()
    return TestResult(f"accepted_values:{column}", n == 0, n)


def relationships(child: DataFrame, column: str, parent: DataFrame, parent_column: str) -> TestResult:
    """dbt ``relationships`` FK test (models_demo/schema.yml:38-41).

    Orphan detection is a left-anti join — broadcastable when the parent is
    a dim, shuffle-hash otherwise (Catalyst picks).
    """
    parent_keys = parent.select(F.col(parent_column).alias(column)).distinct()
    n = (
        child.filter(F.col(column).isNotNull())
        .join(parent_keys, column, "left_anti")
        .count()
    )
    return TestResult(f"relationships:{column}->{parent_column}", n == 0, n)


def run_tests(
    df: DataFrame,
    spec: dict,
    catalog=None,
    failures_layer: str = "dbt_test__audit",
    store_cap: int = 100_000,
) -> list[TestResult]:
    """Run a schema.yml-shaped spec: {col: ["not_null", "unique",
    {"accepted_values": [...]}, {"relationships": (parent_df, col)}]}.

    With ``catalog`` set, failing tests STORE their violating rows
    (dbt's ``--store-failures``): each failure writes an audit table
    ``<failures_layer>.<test_name>`` holding the violation summary —
    duplicate keys with counts, orphan keys with counts, invalid values
    with counts, or the raw null rows — capped at ``store_cap`` rows so
    a pathological failure can't mirror the fact table into the audit
    schema. Passing tests write nothing; a re-run overwrites (the audit
    table always reflects the latest run).
    """
    tests = [(c, t, _kind(c, t)) for c, ts in spec.items() for t in ts]
    row_local = [
        F.count_if(
            F.col(c).isNull() if kind == "not_null"
            else _not_accepted(c, t["accepted_values"])
        )
        for c, t, kind in tests
        if kind in ("not_null", "accepted_values")
    ]
    counts = iter(df.agg(*row_local).first() if row_local else ())
    results: list[TestResult] = []
    for column, t, kind in tests:
        if kind == "unique":
            res = unique(df, column)
        elif kind == "relationships":
            res = relationships(df, column, *t["relationships"])
        else:
            n = next(counts)
            res = TestResult(f"{kind}:{column}", n == 0, n)
        # dbt test config: {"<test>": ..., "config": {"severity":
        # "warn", "warn_if": N, "error_if": N}} — thresholds are
        # violation COUNTS ("more than N violations trips it");
        # warn severity never fails the run, it only flags.
        cfg = t.get("config", {}) if isinstance(t, dict) else {}
        res.severity = cfg.get("severity", "error")
        if res.severity == "warn":
            res.warned = res.violations > cfg.get("warn_if", 0)
            res.passed = True
        else:
            res.passed = res.violations <= cfg.get("error_if", 0)
        if catalog is not None and (not res.passed or res.warned):
            table = (
                res.name.replace(":", "__")
                .replace("->", "_to_")
                .replace(".", "_")
            )
            catalog.write(
                _violations(df, column, t, kind).limit(store_cap),
                failures_layer, table, mode="overwrite",
            )
            res.stored_at = f"{failures_layer}.{table}"
        results.append(res)
    return results


def profile_columns(df, cols: list[str]):
    """One-pass column profile: rows / nulls / distincts / min / max.

    The dbt-docs statistics surface as an engine op: ONE aggregate job
    computes every column's stats (Catalyst plans the multi-distinct via
    expand — C passes over each row, still one shuffle), then the single
    wide row is unpivoted driver-free into (column, stat...) rows.
    Numeric min/max surface as doubles, string min/max as strings —
    never cross-rendered (engine-specific float formatting would poison
    cross-engine comparison).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    aggs = []
    numeric = {
        f.name: isinstance(f.dataType, T.NumericType) for f in df.schema.fields
    }
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            (F.min(c).cast("double") if numeric[c] else F.lit(None).cast("double")).alias(f"{c}__min_num"),
            (F.max(c).cast("double") if numeric[c] else F.lit(None).cast("double")).alias(f"{c}__max_num"),
            (F.min(c).cast("string") if not numeric[c] else F.lit(None).cast("string")).alias(f"{c}__min_str"),
            (F.max(c).cast("string") if not numeric[c] else F.lit(None).cast("string")).alias(f"{c}__max_str"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min_num").alias("min_num"),
                F.col(f"{c}__max_num").alias("max_num"),
                F.col(f"{c}__min_str").alias("min_str"),
                F.col(f"{c}__max_str").alias("max_str"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")
