"""``sources.readers.read_parquet``: a repeat read of an unchanged parquet
path reuses the schema its first read inferred, so it runs no Spark job,
and anything that can change the inferred schema infers again."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.errors import AnalysisException

from dbt_repo_spark.queries import QUERIES, t
from dbt_repo_spark.sources.catalog import Catalog
from dbt_repo_spark.sources.readers import read_parquet


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _corpus(sf_dir, tmp_path, *names) -> str:
    """A private copy of corpus tables, so no earlier read is recorded."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in names:
        shutil.copy(f"{sf_dir}/{name}.parquet", d)
    return str(d)


def _partitioned(spark, tmp_path) -> Catalog:
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(12)], "k long, v string, p int"
    )
    cat.write(df, "raw", "parted", partition_by=["p"])
    return cat


def test_reused_schema_equals_the_inferred_one(spark, sf_dir, tmp_path):
    """First (inferring) and repeat (schema-passing) reads both equal a
    plain ``spark.read.parquet``: a single file, a hive-partitioned
    catalog table (partition column typed and last) and ``events``
    under ``nanosAsLong``."""
    d = _corpus(sf_dir, tmp_path, "lineitem", "events")
    single = f"{d}/lineitem.parquet"
    for _ in range(2):
        assert read_parquet(spark, single).schema == spark.read.parquet(single).schema

    cat = _partitioned(spark, tmp_path)
    root = cat.path("raw", "parted")
    plain = spark.read.parquet(root)
    assert plain.dtypes[-1] == ("p", "int")
    for _ in range(2):
        got = cat.read("raw", "parted")
        assert got.schema == plain.schema
        assert sorted(got.collect()) == sorted(plain.collect())

    events = f"{d}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for _ in range(2):
        assert read_parquet(spark, events).schema == spark.read.parquet(events).schema
    assert t(spark, d, "events").schema == t(spark, d, "events").schema


def test_repeat_read_runs_no_job_and_changes_infer_again(spark, tmp_path):
    """A repeat read runs 0 jobs; one read after an append, an overwrite,
    a new partition directory or a ``spark.sql.*`` conf flip runs
    exactly 1 (the inference), and the read after it 0 again."""
    cat = _partitioned(spark, tmp_path)
    root = cat.path("raw", "parted")
    more = spark.createDataFrame([(100, "w", 1)], "k long, v string, p int")

    def read_jobs():
        df, n = _jobs(spark, lambda: cat.read("raw", "parted"))
        assert df.schema == spark.read.parquet(root).schema
        return n

    assert read_jobs() == 1
    assert read_jobs() == 0

    changes = {
        "append": lambda: cat.write(more, "raw", "parted", mode="append",
                                    partition_by=["p"]),
        "overwrite": lambda: cat.write(more.union(more), "raw", "parted",
                                       partition_by=["p"]),
        "new partition directory": lambda: more.drop("p").write.parquet(
            f"{root}/p=7"),
    }
    for what, change in changes.items():
        change()
        assert read_jobs() == 1, what
        assert read_jobs() == 0, what
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true" if old == "false" else "false")
    try:
        assert read_jobs() == 1
        assert read_jobs() == 0
    finally:
        spark.conf.set(key, old)
    assert read_jobs() == 1


def test_missing_or_emptied_path_raises_as_the_plain_read(spark, tmp_path):
    """No recorded schema hides a missing or emptied path: the read
    raises the plain read's AnalysisException."""
    cat = _partitioned(spark, tmp_path)
    root = cat.path("raw", "parted")
    cat.read("raw", "parted")
    cat.read("raw", "parted")
    shutil.rmtree(root)
    (tmp_path / "wh" / "raw" / "parted").mkdir()
    for path in (root, str(tmp_path / "missing")):
        with pytest.raises(AnalysisException) as plain:
            spark.read.parquet(path)
        with pytest.raises(AnalysisException) as got:
            read_parquet(spark, path)
        assert got.value.getCondition() == plain.value.getCondition()
        assert str(got.value) == str(plain.value)


def test_second_query_build_reads_its_tables_without_a_job(spark, sf_dir, tmp_path):
    """The registry's table reads (``queries.t``) run their inference job
    only on a table's first read: a second ``pricing_summary`` build runs
    no job before its action, and a second ``heavy_hitters_events`` build
    (``events`` branch) runs one job fewer, the rest being the operator's
    own candidate pass."""
    d = _corpus(sf_dir, tmp_path, "lineitem", "events")
    builds = {
        name: [_jobs(spark, lambda: QUERIES[name](spark, d))[1] for _ in range(2)]
        for name in ("pricing_summary", "heavy_hitters_events")
    }
    assert builds["pricing_summary"] == [1, 0], builds
    first, second = builds["heavy_hitters_events"]
    assert second == first - 1, builds
    assert _jobs(spark, lambda: t(spark, d, "events"))[1] == 0
