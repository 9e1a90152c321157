"""Column masking (plans/governance.py): each strategy, the exempt role,
and loud failures on unknown columns or strategies."""

from __future__ import annotations

import pytest

from dbt_repo_spark.plans.governance import mask_columns


def test_mask_columns_strategies_and_roles(spark):
    df = spark.createDataFrame(
        [(1, "Alice", 4216.50, "4111222233334444")],
        "id bigint, name string, bal double, card string",
    )
    pol = {"id": "hash", "name": "redact", "bal": "null", "card": "partial:4"}
    row = mask_columns(df, pol).collect()[0]
    assert len(row.id) == 32 and row.name == "***" and row.bal is None
    assert row.card == "***4444"
    # schema stable: null strategy keeps the column's own type
    assert dict(mask_columns(df, pol).dtypes)["bal"] == "double"
    # exempt role reads clear
    clear = mask_columns(df, pol, role="admin").collect()[0]
    assert clear.name == "Alice" and clear.bal == 4216.50
    # typo'd column / strategy fail loudly
    with pytest.raises(ValueError, match="unknown columns"):
        mask_columns(df, {"ghost": "hash"})
    with pytest.raises(ValueError, match="unknown mask strategy"):
        mask_columns(df, {"name": "rot13"})
