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

    def __repr__(self) -> str:  # pragma: no cover
        status = "PASS" if self.passed else "FAIL"
        return f"<{status} {self.name}: {self.violations} violations>"


def _not_accepted(column: str, values: Sequence) -> Column:
    return ~F.col(column).isin(list(values)) | F.col(column).isNull()


def _kind(column: str, t) -> str:
    """The generic test a spec entry names: a bare ``not_null`` or
    ``unique``, or a dict whose one key is the test."""
    if t in ("not_null", "unique"):
        return t
    if isinstance(t, dict) and len(t) == 1:
        (kind,) = t
        if kind in ("not_null", "unique", "accepted_values", "relationships"):
            return kind
    raise ValueError(f"unknown test spec {t!r} for column {column}")


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


def run_tests(df: DataFrame, spec: dict) -> list[TestResult]:
    """Run a schema.yml-shaped spec: {col: ["not_null", "unique",
    {"accepted_values": [...]}, {"relationships": (parent_df, col)}]}.
    A test passes when it finds no violation; a spec entry that names
    no known test, or carries any key besides its test, raises
    ``ValueError``.
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
            results.append(unique(df, column))
        elif kind == "relationships":
            results.append(relationships(df, column, *t["relationships"]))
        else:
            n = next(counts)
            results.append(TestResult(f"{kind}:{column}", n == 0, n))
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
