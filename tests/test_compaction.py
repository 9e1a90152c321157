"""Small-file compaction: many micro-batch appends → few files, same data."""

from __future__ import annotations

import os

import pytest

# r13 (r12 verdict ask #2): many-micro-batch append/compaction file-IO
# stress — the layout/compaction slow class. Deselected by default
# (pytest.ini addopts); run with `-m ""` to include.
pytestmark = pytest.mark.slow

from pyspark.sql import Row

from dbt_repo_spark.sources.catalog import Catalog


def _file_count(path: str) -> int:
    return sum(
        1
        for root, _d, files in os.walk(path)
        for f in files
        if f.startswith("part-")
    )


def _swap_leftovers(cat: Catalog, name: str) -> list[str]:
    """Staging or backup directories a swap left beside the table."""
    layer_dir = os.path.dirname(cat.path("analytics", name))
    return sorted(
        d for d in os.listdir(layer_dir)
        if d.startswith(name + "__")
    )


def test_compact_partitioned_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    # simulate 12 micro-batch appends across 2 date partitions
    for b in range(12):
        rows = [
            Row(d=f"2025-01-0{1 + (b % 2)}", station_id=f"st{i}", v=b * 10 + i)
            for i in range(5)
        ]
        cat.write(
            spark.createDataFrame(rows),
            "analytics",
            "status",
            mode="append",
            partition_by=["d"],
        )
    before = _file_count(cat.path("analytics", "status"))
    assert before >= 12  # at least one file per append
    rows_before = sorted(cat.read("analytics", "status").collect())
    # a crashed earlier run's staging directory is cleared by this one
    os.makedirs(cat.path("analytics", "status") + "__staging/d=junk")

    n_after = cat.compact(
        "analytics", "status", partition_by=["d"], sort_within_partitions=["station_id"]
    )
    assert n_after < before
    assert sorted(cat.read("analytics", "status").collect()) == rows_before
    assert _swap_leftovers(cat, "status") == []
    # partitioned layout survived, one file per partition
    root = cat.path("analytics", "status")
    parts = [p for p in os.listdir(root) if p.startswith("d=")]
    assert len(parts) == 2
    assert [_file_count(os.path.join(root, p)) for p in parts] == [1, 1]


def test_compact_unpartitioned(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    for b in range(6):
        cat.write(
            spark.createDataFrame([Row(x=b)]), "analytics", "tiny", mode="append"
        )
    assert _file_count(cat.path("analytics", "tiny")) >= 6
    n = cat.compact("analytics", "tiny")
    assert n == 1
    assert sorted(r.x for r in cat.read("analytics", "tiny").collect()) == list(range(6))
    assert _swap_leftovers(cat, "tiny") == []
