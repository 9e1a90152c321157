"""``sources.readers.read_parquet``: a read of an unchanged parquet path
reuses the schema its last read inferred or its last ``Catalog.write``
recorded, so it runs no Spark job, and anything that can change the
inferred schema infers again."""

from __future__ import annotations

import datetime
import decimal
import shutil
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

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
    """First and repeat reads both equal a plain ``spark.read.parquet``:
    a single file (inferring, then schema-passing), a hive-partitioned
    catalog table (schema recorded by its write; partition column typed
    and last) and ``events`` under ``nanosAsLong``."""
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
    """A read after a ``Catalog.write`` (an overwrite or a same-schema
    append) runs 0 jobs, as does a repeat read; one read after a new
    partition directory written outside the catalog or a ``spark.sql.*``
    conf flip runs exactly 1 (the inference), and the read after it 0
    again. Every read's schema is the plain read's."""
    cat = _partitioned(spark, tmp_path)
    root = cat.path("raw", "parted")
    more = spark.createDataFrame([(100, "w", 1)], "k long, v string, p int")

    def read_jobs():
        df, n = _jobs(spark, lambda: cat.read("raw", "parted"))
        assert df.schema == spark.read.parquet(root).schema
        return n

    assert read_jobs() == 0
    assert read_jobs() == 0

    writes = {
        "append": lambda: cat.write(more, "raw", "parted", mode="append",
                                    partition_by=["p"]),
        "overwrite": lambda: cat.write(more.union(more), "raw", "parted",
                                       partition_by=["p"]),
    }
    for what, write in writes.items():
        write()
        assert read_jobs() == 0, what
    more.drop("p").write.parquet(f"{root}/p=7")
    assert read_jobs() == 1
    assert read_jobs() == 0
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    spark.conf.set(key, "true" if old == "false" else "false")
    try:
        assert read_jobs() == 1
        assert read_jobs() == 0
    finally:
        spark.conf.set(key, old)
    assert read_jobs() == 1


ZOO_SCHEMA = (
    "d decimal(12,3), ts timestamp, ntz timestamp_ntz, b binary,"
    " m map<string,int>, a array<struct<x:int,y:string>>,"
    " s struct<n:struct<z:double>>, pi int, pd date, ps string"
)
ZOO_PARTS = ["pi", "pd", "ps"]


def _zoo(spark, first, n):
    rows = [
        (
            decimal.Decimal(f"{i}.125"),
            datetime.datetime(2024, 1, 1, i % 24),
            datetime.datetime(2024, 2, 1, i % 24),
            bytes([i % 256]),
            {"k": i},
            [(i, f"s{i}"), None],
            ((i / 4,),),
            i % 2,
            datetime.date(2024, 1, 1 + i % 3),
            f"p{i % 2}",
        )
        for i in range(first, first + n)
    ]
    return spark.createDataFrame(rows, ZOO_SCHEMA)


def test_recorded_schema_equals_the_plain_read_over_a_type_zoo(spark, tmp_path):
    """After each kind of catalog write of decimal, timestamp,
    timestamp_ntz, binary, map, array<struct> and nested struct columns,
    partitioned by int, date and string columns, the read's schema and
    rows equal ``spark.read.parquet``'s. Writes whose files determine
    the schema read with 0 jobs; the wider-schema writes, whose do not,
    infer (1 job). The dynamic partition overwrites, and the reads after
    them, run under the session's ``partitionOverwriteMode=dynamic``."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    root = cat.path("raw", "zoo")
    writes = [
        ("overwrite", _zoo(spark, 0, 6), "overwrite", False, 0),
        ("append", _zoo(spark, 6, 4), "append", False, 0),
        ("dynamic partition overwrite", _zoo(spark, 10, 2), "overwrite", True, 0),
        ("wider-schema dynamic partition overwrite",
         _zoo(spark, 12, 2).withColumn("extra", F.col("pi") * 2), "overwrite", True, 1),
        ("wider-schema append",
         _zoo(spark, 14, 3).withColumn("extra", F.col("pi") * 2), "append", False, 1),
    ]
    key = "spark.sql.sources.partitionOverwriteMode"
    for what, df, mode, dynamic, jobs in writes:
        if dynamic:
            old = spark.conf.get(key)
            spark.conf.set(key, "dynamic")
            # the conf is part of the read key: read once under it, so
            # the write starts from a current entry
            cat.read("raw", "zoo")
        try:
            cat.write(df, "raw", "zoo", mode=mode, partition_by=ZOO_PARTS)
            got, n = _jobs(spark, lambda: cat.read("raw", "zoo"))
        finally:
            if dynamic:
                spark.conf.set(key, old)
        plain = spark.read.parquet(root)
        assert got.schema == plain.schema, what
        assert sorted(map(str, got.collect())) == sorted(map(str, plain.collect())), what
        assert n == jobs, what


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
