"""The streaming ticks' ``batch=<id>`` tables (sources/tick_log.py) and
the work directories of the registry twins that run them."""

from __future__ import annotations

import importlib
import os
import tempfile

import pytest

from dbt_repo_spark.sources.tick_log import publish, read_published
from tests.test_read_parquet import _jobs

SCHEMA = "k long, v string"
DTYPES = [("k", "bigint"), ("v", "string"), ("batch", "bigint")]


def _rows(df):
    return sorted((r.k, r.v, r.batch) for r in df.collect())


def _files(path):
    return sorted(
        (os.path.relpath(p, path), os.stat(p).st_mtime_ns)
        for d, _dirs, files in os.walk(path)
        for p in (os.path.join(d, f) for f in files)
    )


def _log(spark, path):
    publish(spark.createDataFrame([(1, "seed")], SCHEMA), path, -1)
    publish(spark.createDataFrame([(2, "b2")], SCHEMA), path, 2)
    publish(spark.createDataFrame([(3, "b3"), (4, "b3")], SCHEMA), path, 3)


def test_republishing_a_batch_replaces_only_that_batch(spark, tmp_path):
    path = str(tmp_path / "log")
    _log(spark, path)
    others = [f for f in _files(path) if not f[0].startswith("batch=3")]
    publish(spark.createDataFrame([(3, "b3"), (4, "b3")], SCHEMA), path, 3)
    assert _rows(spark.read.parquet(path)) == [
        (1, "seed", -1), (2, "b2", 2), (3, "b3", 3), (4, "b3", 3),
    ]
    assert [f for f in _files(path) if not f[0].startswith("batch=3")] == others


def test_read_published_hides_the_excluded_batch(spark, tmp_path):
    path = str(tmp_path / "log")
    _log(spark, path)
    got = read_published(spark, path, SCHEMA, exclude_batch=3)
    assert _rows(got) == [(1, "seed", -1), (2, "b2", 2)]


def test_read_published_of_a_missing_path_is_empty(spark, tmp_path):
    got = read_published(
        spark, str(tmp_path / "none"), SCHEMA, exclude_batch=0
    )
    assert got.dtypes == DTYPES
    assert got.count() == 0


def test_read_published_after_an_empty_tick_is_empty(spark, tmp_path):
    """A tick that published zero rows leaves a directory without a data
    file: it reads as empty, and later ticks read past it. A present
    table types ``batch`` as a missing one does, and the read runs no
    schema-inference job."""
    path = str(tmp_path / "log")
    publish(spark.createDataFrame([], SCHEMA), path, 0)
    got, jobs = _jobs(spark, lambda: read_published(spark, path, SCHEMA, 1))
    assert jobs == 0
    assert got.dtypes == DTYPES
    assert got.count() == 0
    _log(spark, path)
    got = read_published(spark, path, SCHEMA, exclude_batch=3)
    assert got.dtypes == DTYPES
    assert _rows(got) == [(1, "seed", -1), (2, "b2", 2)]


def test_read_published_of_a_corrupt_table_raises(spark, tmp_path):
    part = tmp_path / "log" / "batch=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_published(
            spark, str(tmp_path / "log"), SCHEMA, exclude_batch=1
        ).collect()


@pytest.mark.parametrize(
    "query, module, attr",
    [
        ("streaming_paragraph_dedup", "streaming.dedup_stream",
         "start_paragraph_dedup_stream"),
        ("dedup_index_compaction", "streaming.dedup_stream",
         "compact_index_batches"),
        ("streaming_crawl_tick", "streaming.crawl_stream",
         "start_crawl_stream"),
        ("streaming_ann_index", "streaming.ann_stream",
         "start_ann_index_stream"),
        ("ann_ivf_upsert_tick", "operators.similarity", "ivf_index_upsert"),
    ],
)
def test_failed_twin_removes_its_work_dir(
    spark, sf_dir, tmp_path, monkeypatch, query, module, attr
):
    from dbt_repo_spark.queries import QUERIES
    from dbt_repo_spark.session import ship_package

    ship_package(spark)  # its package zip belongs in the real temp dir

    def fail(*args, **kwargs):
        raise RuntimeError("injected failure")

    target = importlib.import_module(f"dbt_repo_spark.{module}")
    monkeypatch.setattr(target, attr, fail)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError, match="injected failure"):
        QUERIES[query](spark, sf_dir)
    assert os.listdir(tmp_path) == []
