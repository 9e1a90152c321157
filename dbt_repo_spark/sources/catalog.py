"""Layered catalog: raw | stg | analytics namespaces (SURVEY.md §2.11 D7-D8).

The reference declares three BigQuery datasets (dbt_project.yml:41-77,
models/src/sources.yml:5-23). Here a layer is a directory of Parquet
tables; a table handle is ``layer.name``. On a cluster the root would be an
object-store prefix and the physical layout policy (date partitioning +
within-partition sort, SURVEY.md §4) is what makes 100 TB scans prunable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from dbt_repo_spark.sources.readers import read_parquet, recording_write


class Catalog:
    """Filesystem-backed table catalog with layered namespaces.

    Replaces dbt's ``source()``/``ref()``/``{{ this }}`` resolution
    (models/src/sources.yml:8-9, models/facts/fact_station_status.sql:31):
    ``source`` = read from a layer, ``this`` = the target path of the model
    currently materializing.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, layer: str, name: str) -> str:
        return os.path.join(self.root, layer, name)

    def exists(self, layer: str, name: str) -> bool:
        p = self.path(layer, name)
        if not os.path.isdir(p):
            return False
        # an empty dir or a dir with only _SUCCESS markers is not a table
        return any(f.endswith(".parquet") or f.startswith("part-")
                   for f in os.listdir(p)) or any(
            os.path.isdir(os.path.join(p, f)) for f in os.listdir(p))

    def read(self, layer: str, name: str) -> DataFrame:
        """Read a table through ``readers.read_parquet``: a table whose
        files and session conf are unchanged since its last read, or
        since a ``write`` that recorded the schema it wrote, reuses that
        schema and runs no schema-inference job. A change outside this
        catalog (a new partition directory, a rewritten file), a write
        that may change the schema, or a ``spark.sql.*`` conf change
        infers again.
        """
        return read_parquet(self.spark, self.path(layer, name))

    def write(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        *,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
    ) -> None:
        """Partitioned + clustered parquet sink (S9).

        Mirrors the reference's DAY-partition + cluster-by-station layout
        (src/realtime_pubsub_to_spark.py:199-207): ``partition_by`` maps to
        hive-style directory partitioning (→ partition pruning at scan) and
        ``sort_within_partitions`` to a per-file sort (→ parquet row-group
        min/max skipping on the clustered key).

        A write records the schema it wrote for the next ``read``
        (``readers.recording_write``) when the written files determine it:
        an overwrite, or an append or dynamic partition overwrite (the
        session's ``partitionOverwriteMode``) that keeps the table's data
        columns. That read then runs no job.
        """
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        path = self.path(layer, name)
        dynamic = partition_by and self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode"
        ).lower() == "dynamic"
        with recording_write(self.spark, path, df.schema, partition_by,
                             replaces=mode == "overwrite" and not dynamic):
            writer.parquet(path)

    def compact(
        self,
        layer: str,
        name: str,
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
        target_files_per_partition: int = 1,
    ) -> int:
        """Rewrite a table to coalesce micro-batch small files.

        Streaming foreachBatch sinks append one file set per trigger; a
        day of 1-minute batches leaves ~1440 tiny files per partition and
        scan throughput collapses (open/footer overhead dominates).
        Compaction reads the table, re-sorts within partitions, and
        rewrites with ``target_files_per_partition`` files through
        ``overwrite_staged`` (crash before the swap leaves the original
        intact). Returns the number of files after compaction.

        On a real deployment this runs as a scheduled job per closed
        (past-watermark) date partition; table formats with transactional
        rewrite (Delta/Iceberg OPTIMIZE) replace the directory swap.
        """
        df = self.spark.read.parquet(self.path(layer, name))
        if partition_by:
            out = df.repartition(target_files_per_partition, *partition_by)
        else:
            out = df.coalesce(target_files_per_partition)
        self.overwrite_staged(out, layer, name, partition_by=partition_by,
                              sort_within_partitions=sort_within_partitions)
        return sum(
            1
            for _root, _d, files in os.walk(self.path(layer, name))
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        )

    def overwrite_staged(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        *,
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
    ) -> None:
        """Overwrite a table whose CURRENT CONTENTS feed the plan.

        Spark refuses ``mode("overwrite")`` into a path the query also
        reads (and would corrupt it if it didn't); the safe shape is a
        staged write + directory swap: materialize to ``<path>__staging``
        first — the read of the old data completes during this job — then
        swap. Crash before the swap leaves the original table intact, and
        the next call clears the crashed run's staging directory.
        """
        final = self.path(layer, name)
        staging = final + "__staging"
        old = final + "__old"
        for p in (staging, old):
            if os.path.isdir(p):
                shutil.rmtree(p)
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staging)
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(staging, final)
        if os.path.isdir(old):
            shutil.rmtree(old)

    def drop(self, layer: str, name: str) -> None:
        p = self.path(layer, name)
        if os.path.isdir(p):
            shutil.rmtree(p)
