"""Batch sources (SURVEY.md §2.1, S1-S5).

The reference reads GCS; here paths are plain filesystem/URI strings — the
same `spark.read` calls work unchanged against s3a://, gs://, hdfs:// on a
real cluster, so these helpers ARE the scale path (Spark's DataSource V2
handles split planning, predicate pushdown, and column pruning).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

def read_json_dir(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """Recursive multi-line JSON directory scan.

    Mirrors src/pyspark_gbfs_raw_load.py:94-99 (S1). Schema inference is a
    separate job; pass an explicit schema on hot paths.
    """
    reader = (
        spark.read.option("multiLine", "true")
        .option("recursiveFileLookup", "true")
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_json_file(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """Single multiline JSON file (station metadata enrichment side).

    Mirrors src/realtime_pubsub_to_spark.py:164-177 (S3).
    """
    reader = spark.read.option("multiline", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv_glob(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    infer: bool = True,
) -> DataFrame:
    """CSV glob scan with header; inferred or explicit schema.

    Mirrors src/historical_bucket_to_bq.py:57-62 (S2).
    """
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def file_stamps(root: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted ``(path, size, mtime_ns)`` of the file ``root``, or of every
    file under the directory ``root``; empty when nothing is there. Any
    append, overwrite or in-place rewrite below ``root`` changes it.
    Raises OSError when a file vanishes between listing and stat."""
    if os.path.isfile(root):
        paths = [root]
    else:
        paths = [os.path.join(d, f) for d, _dirs, files in os.walk(root) for f in files]
    return tuple(
        (p, st.st_size, st.st_mtime_ns) for p in sorted(paths) for st in [os.stat(p)]
    )


# path -> ((file stamps, session conf), schema a read passes): one entry
# per path, from its last inferring read or its last recorded write. A
# read stamps the files before its inference, so files that change
# during it never match them again. Model-runner threads may miss on one
# path at once; each stores a valid entry and the last stays.
_schemas: dict[str, tuple] = {}


def _read_key(spark: SparkSession, path: str) -> tuple | None:
    """``(file_stamps, session conf)`` of a local ``path``; None for a URI
    other than ``file:`` and for a missing or empty path."""
    u = urlparse(path)
    if u.scheme not in ("", "file"):
        return None
    try:
        stamps = file_stamps(unquote(u.path) if u.scheme else path)
    except OSError:
        return None
    if not stamps:
        return None
    # one py4j call; ``spark.conf.getAll`` makes one per entry (~25 ms).
    # An immutable Scala map prints equal contents alike, and a false
    # mismatch only costs an inference.
    return stamps, spark._jsparkSession.conf().getAll().toString()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema at most once
    per unchanged file set.

    Spark infers a Parquet schema with a one-task job that reads a
    footer. A read of ``path`` whose ``file_stamps`` and session conf
    (every ``spark.sql.*`` setting among it) equal those of the path's
    entry passes the entry's schema (``spark.read.schema(s).parquet``)
    and runs no job. The entry comes from the last read that inferred
    or from the last ``recording_write`` (every parquet
    ``Catalog.write``), and it holds the schema the plain read infers,
    so the frame, its plan and its rows are the plain read's. Any other
    change under the path (a write outside the catalog, a new partition
    directory) changes the stamps, and any ``spark.sql.*`` conf change
    (``parquet.binaryAsString``, ``legacy.parquet.nanosAsLong``, ...)
    the conf: either read infers again and replaces the path's entry. A
    URI other than ``file:``, a glob, and a missing or empty path take
    the plain read (and raise as it does).
    """
    key = _read_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    last = _schemas.get(path)
    if last is not None and last[0] == key:
        return spark.read.schema(last[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (key, df.schema)
    return df


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable, as Spark
    reads a file source's data columns (``StructType.asNullable``)."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _data_columns(schema: StructType, partition_by) -> StructType:
    return StructType([f for f in schema.fields if f.name not in partition_by])


@contextmanager
def recording_write(
    spark: SparkSession,
    path: str,
    schema: StructType,
    partition_by: list[str] | None,
    replaces: bool,
) -> Iterator[None]:
    """Wrap a parquet write of a frame of ``schema`` into ``path``
    (hive-partitioned by ``partition_by``) so that the next
    ``read_parquet`` of the written files runs no inference job.

    After the body, the path's entry holds the written data columns,
    made nullable all the way down. The partition columns stay out, so
    the read types them from the directory names as the plain read
    does. Only when the written files determine the schema: the write
    ``replaces`` every file under the path, or the path held no file,
    or its entry was current before the write and held the same data
    columns (an append or a dynamic partition overwrite that keeps the
    schema). Otherwise, when the path ends with no data file, and when
    the body raises, the path has no entry.
    """
    parts = set(partition_by or ())
    data = _nullable(_data_columns(schema, parts))
    before = _read_key(spark, path)
    last = _schemas.pop(path, None)
    determined = replaces or before is None or (
        last is not None and last[0] == before
        and _data_columns(last[1], parts) == data
    )
    yield
    after = _read_key(spark, path) if determined else None
    # Spark skips files named _* and .* (markers, manifests, checksums)
    if after is not None and any(
        not os.path.basename(p).startswith(("_", ".")) for p, _, _ in after[0]
    ):
        _schemas[path] = (after, data)

