"""Zone-map file skipping (sources/zonemap.py + Catalog.read_pruned):
planning-time pruning must skip files, never rows the predicate wants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_repo_spark.sources.catalog import Catalog
from dbt_repo_spark.sources.zonemap import (
    load_zone_map,
    prune_files,
)


@pytest.fixture()
def clustered(spark, tmp_path):
    """Orders range-clustered on o_orderkey into 8 files with disjoint
    key ranges — the layout zone maps exist for."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cat.write(
        df.repartitionByRange(8, "o_orderkey"),
        "analytics",
        "orders_clustered",
        sort_within_partitions=["o_orderkey"],
        zone_map_cols=["o_orderkey", "o_totalprice"],
    )
    return cat, df


def test_manifest_written_with_stats(clustered):
    cat, _ = clustered
    mf = load_zone_map(cat.path("analytics", "orders_clustered"))
    assert mf is not None and len(mf["files"]) == 8
    for stats in mf["files"].values():
        assert stats["o_orderkey"]["min"] <= stats["o_orderkey"]["max"]


def test_range_query_skips_files_and_loses_no_rows(clustered):
    cat, df = clustered
    lo, hi = 100, 600
    pruned, report = cat.read_pruned(
        "analytics", "orders_clustered", "o_orderkey", lo, hi
    )
    assert report["files_total"] == 8
    assert 0 < report["files_read"] < 8  # actual skipping happened
    got = pruned.filter(F.col("o_orderkey").between(lo, hi))
    want = df.filter(F.col("o_orderkey").between(lo, hi))
    assert got.count() == want.count()
    assert sorted(r.o_orderkey for r in got.collect()) == sorted(
        r.o_orderkey for r in want.collect()
    )


def test_point_query_reads_one_file(clustered):
    cat, df = clustered
    key = df.select(F.max("o_orderkey")).collect()[0][0]
    pruned, report = cat.read_pruned(
        "analytics", "orders_clustered", "o_orderkey", key, key
    )
    assert report["files_read"] == 1
    assert pruned.filter(F.col("o_orderkey") == key).count() == 1


def test_unbounded_and_unknown_column_keep_everything(clustered):
    cat, _ = clustered
    _, report = cat.read_pruned("analytics", "orders_clustered", "o_orderkey")
    assert report["files_read"] == 8
    # a column absent from the manifest prunes nothing (superset rule)
    _, report2 = cat.read_pruned(
        "analytics", "orders_clustered", "o_orderstatus", "A", "B"
    )
    assert report2["files_read"] == 8


def test_disjoint_range_reads_nothing_but_schema_survives(clustered):
    cat, _ = clustered
    pruned, report = cat.read_pruned(
        "analytics", "orders_clustered", "o_orderkey", 10**12, 10**12 + 1
    )
    assert report["files_read"] == 0
    assert pruned.count() == 0
    assert "o_orderkey" in pruned.columns


def test_no_manifest_falls_back_to_full_listing(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    cat.write(df.repartition(4), "analytics", "plain")
    paths, total = prune_files(cat.path("analytics", "plain"), "id", 0, 10)
    assert len(paths) == total > 0  # no manifest -> keep all (safe)


def test_files_appended_after_manifest_are_kept(clustered, spark):
    """ADVICE r03: a data file landing AFTER the manifest was written
    (append without a zone-map refresh) is unknown to the manifest —
    pruning must KEEP it (superset guarantee)."""
    import os

    cat, df = clustered
    tdir = cat.path("analytics", "orders_clustered")
    # out-of-band append: new rows with keys far outside every range
    extra = df.limit(5).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    extra.coalesce(1).write.mode("append").parquet(tdir)
    n_files = len(
        [f for f in os.listdir(tdir) if f.endswith(".parquet")
         or (f.startswith("part-") and not f.endswith(".crc"))]
    )
    # range probe aimed at ONLY the appended rows
    paths, total = prune_files(tdir, "o_orderkey", 10_000_000, None)
    assert total == n_files
    got = spark.read.parquet(*paths).filter(
        F.col("o_orderkey") >= 10_000_000
    )
    assert got.count() == 5  # unknown file kept -> no lost rows
