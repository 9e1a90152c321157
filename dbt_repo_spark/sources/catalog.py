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
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession

from dbt_repo_spark.sources.readers import read_parquet, recording_write

LAYERS = ("raw", "stg", "analytics")


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
        return any(f.endswith(".parquet") or f.startswith("part-") or f == "_delta_log"
                   for f in os.listdir(p)) or any(
            os.path.isdir(os.path.join(p, f)) for f in os.listdir(p))

    def read(
        self, layer: str, name: str, fmt: str = "parquet", merge_schema: bool = False
    ) -> DataFrame:
        """Read a table; ``merge_schema=True`` reconciles files written
        under evolved schemas (a column added by a later append reads as
        NULL in older files). Schema merge lists every file footer — at
        100 TB that is a real planning cost, so it is opt-in here and the
        steady state should promote the union schema into the writer, not
        pay the merge on every read.

        A parquet read without ``merge_schema`` goes through
        ``readers.read_parquet``: a table whose files and session conf
        are unchanged since its last read, or since a ``write`` that
        recorded the schema it wrote, reuses that schema and runs no
        schema-inference job. A change outside this catalog (a new
        partition directory, a rewritten file), a write that may change
        the schema, or a ``spark.sql.*`` conf change infers again.
        """
        if fmt == "parquet" and not merge_schema:
            return read_parquet(self.spark, self.path(layer, name))
        reader = self.spark.read.format(fmt)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.load(self.path(layer, name))

    def write(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
        fmt: str = "parquet",
        dynamic_partition_overwrite: bool = False,
        compression: str | None = None,
        max_records_per_file: int | None = None,
        zone_map_cols: list[str] | None = None,
    ) -> None:
        """Partitioned + clustered sink (S9).

        ``compression`` picks the parquet codec per write (e.g. "zstd" —
        denser than the snappy default for cold data; at 100 TB the
        codec choice is tens of TB). ``max_records_per_file`` bounds
        file size so a skewed partition can't produce a single giant
        file that one task must scan.

        Mirrors the reference's DAY-partition + cluster-by-station layout
        (src/realtime_pubsub_to_spark.py:199-207): ``partition_by`` maps to
        hive-style directory partitioning (→ partition pruning at scan) and
        ``sort_within_partitions`` to a per-file sort (→ parquet row-group
        min/max skipping on the clustered key). ``fmt`` may be any Spark
        batch sink (parquet default; orc keeps the columnar/stats story,
        csv/json are interchange-only — no pruning, no types on read).

        A parquet write records the schema it wrote for the next ``read``
        (``readers.recording_write``) when the written files determine it:
        an overwrite, or an append or dynamic partition overwrite that
        keeps the table's data columns. That read then runs no job.
        """
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if dynamic_partition_overwrite:
            # per-writer option (not the session conf): thread-safe under
            # a parallel model runner, and scoped to exactly this write
            writer = writer.option("partitionOverwriteMode", "dynamic")
        if compression:
            writer = writer.option("compression", compression)
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        path = self.path(layer, name)
        dynamic = partition_by and (
            dynamic_partition_overwrite
            or self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
            .lower() == "dynamic"
        )
        with (
            recording_write(self.spark, path, df.schema, partition_by,
                            replaces=mode == "overwrite" and not dynamic)
            if fmt == "parquet" else nullcontext()
        ):
            writer.format(fmt).save(path)
            if zone_map_cols:
                # file-level min/max manifest for planning-time skipping
                # (sources/zonemap.py) — footer metadata only, no data read
                from dbt_repo_spark.sources.zonemap import write_zone_map

                write_zone_map(path, zone_map_cols)

    def read_pruned(
        self, layer: str, name: str, col: str, lo=None, hi=None
    ) -> tuple[DataFrame, dict]:
        """Range-scan through the zone-map manifest: plan ONLY the files
        whose [min,max] for ``col`` intersects [lo,hi]. Returns the
        frame plus {'files_read', 'files_total'} so callers (and tests)
        can assert the skip rate. The caller still applies its own
        filter — pruning is a superset guarantee, never a substitute
        for the predicate."""
        from dbt_repo_spark.sources.zonemap import prune_files

        paths, total = prune_files(self.path(layer, name), col, lo, hi)
        report = {"files_read": len(paths), "files_total": total}
        if not paths:
            empty = self.read(layer, name).limit(0)
            return empty, report
        return self.spark.read.parquet(*paths), report

    def write_bucketed(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        bucket_by: str,
        n_buckets: int = 32,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed managed table: pre-shuffled storage for co-located joins.

        Bucketing hash-partitions rows into ``n_buckets`` files by
        ``bucket_by`` AT WRITE TIME and records that layout in the table
        catalog; two tables bucketed the same way join with NO exchange on
        either side — the shuffle is paid once at write, then every
        fact-fact join on the bucket key is map-side. This is the
        fact-to-fact answer where broadcasting doesn't apply (both sides
        big). The reference's clustered BigQuery sink
        (src/realtime_pubsub_to_spark.py:205) solves scan locality; bucket
        layout additionally solves JOIN locality.

        Uses ``saveAsTable`` (bucket metadata needs a table catalog, not a
        bare path); the table lives in the session catalog under
        ``layer_name``.
        """
        (
            df.write.mode(mode)
            .bucketBy(n_buckets, bucket_by)
            .sortBy(bucket_by)
            .option("path", self.path(layer, name))
            .format("parquet")
            .saveAsTable(f"{layer}_{name}")
        )

    def read_table(self, layer: str, name: str) -> DataFrame:
        """Read a table registered in the session catalog (bucket-aware)."""
        return self.spark.table(f"{layer}_{name}")

    def analyze(
        self, layer: str, name: str, columns: list[str] | None = None
    ) -> dict[str, int | None]:
        """Compute table + column statistics for the cost-based optimizer.

        Runs ``ANALYZE TABLE`` on the session-catalog table registered by
        ``write_bucketed`` (path-only tables carry no stats slot — their
        estimates come from file sizes). Row count and per-column
        min/max/NDV/null-count feed CBO join reordering and build-side
        selection (``spark.sql.cbo.enabled``); post-filter cardinality
        estimates are what file-size-based estimation cannot see. At
        100 TB the difference is broadcast-vs-shuffle picked from the
        FILTERED cardinality rather than the raw scan size. Returns the
        recorded {rowCount, sizeInBytes}.
        """
        tbl = f"{layer}_{name}"
        self.spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        if columns:
            cols = ", ".join(columns)
            self.spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS {cols}")
        stats: dict[str, int | None] = {"rowCount": None, "sizeInBytes": None}
        for row in self.spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect():
            if row.col_name == "Statistics":
                # e.g. "12345 bytes, 678 rows"
                for part in row.data_type.split(","):
                    part = part.strip()
                    if part.endswith("rows"):
                        stats["rowCount"] = int(part.split()[0])
                    elif part.endswith("bytes"):
                        stats["sizeInBytes"] = int(part.split()[0])
        return stats

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
        rewrites with ``target_files_per_partition`` files, swapping
        directories at the end (crash before the swap leaves the original
        intact). Returns the number of files after compaction.

        On a real deployment this runs as a scheduled job per closed
        (past-watermark) date partition; table formats with transactional
        rewrite (Delta/Iceberg OPTIMIZE) replace the directory swap.
        """
        src = self.path(layer, name)
        tmp = src + "__compacting"
        old = src + "__old"
        df = self.spark.read.parquet(src)
        if partition_by:
            out = df.repartition(target_files_per_partition, *partition_by)
        else:
            out = df.coalesce(target_files_per_partition)
        if sort_within_partitions:
            out = out.sortWithinPartitions(*sort_within_partitions)
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old)
        n_files = sum(
            1
            for root, _d, files in os.walk(src)
            for f in files
            if f.endswith(".parquet") or f.startswith("part-")
        )
        return n_files

    def overwrite_staged(
        self,
        df: DataFrame,
        layer: str,
        name: str,
        partition_by: list[str] | None = None,
        sort_within_partitions: list[str] | None = None,
        replace_partitions_only: bool = False,
        fmt: str = "parquet",
    ) -> None:
        """Overwrite a table whose CURRENT CONTENTS feed the plan.

        Spark refuses ``mode("overwrite")`` into a path the query also
        reads (and would corrupt it if it didn't); the safe shape is the
        same staged write + directory swap ``compact`` uses: materialize
        to ``<path>__staging`` first — the read of the old data completes
        during this job — then swap. Crash before the swap leaves the
        original table intact.

        ``replace_partitions_only=True`` swaps only the hive partition
        directories present in the staged output (the merge-into-
        partitions scale path: a batch touching 1 day of a year-
        partitioned table moves one directory, the other 364 are never
        read, written, or moved).
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
        writer.format(fmt).save(staging)
        if replace_partitions_only and partition_by and os.path.isdir(final):
            depth = len(partition_by)
            leaves = []
            for root, dirs, _files in os.walk(staging):
                rel = os.path.relpath(root, staging)
                parts = [] if rel == "." else rel.split(os.sep)
                if len(parts) == depth and all("=" in c for c in parts):
                    leaves.append(rel)
                    dirs[:] = []
            for rel in leaves:
                dst = os.path.join(final, rel)
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(os.path.join(staging, rel), dst)
            shutil.rmtree(staging)
        else:
            if os.path.isdir(final):
                os.rename(final, old)
            os.rename(staging, final)
            if os.path.isdir(old):
                shutil.rmtree(old)

    def delete_where(
        self,
        layer: str,
        name: str,
        predicate,
        partition_by: list[str] | None = None,
    ) -> int:
        """Row-level DELETE on an immutable-parquet table (GDPR shape).

        Deleting rows from parquet is a rewrite BY DEFINITION; the scale
        lever is scoping it. With ``partition_by``, only the hive
        partitions that actually CONTAIN matching rows are rewritten (one
        scan finds the affected partition values, the rewrite reads and
        swaps just those directories — untouched partitions keep their
        files, inode-checked in tests). Unpartitioned tables pay the full
        rewrite. Returns the number of rows deleted.
        """
        df = self.read(layer, name)
        n_match = df.filter(predicate).count()
        if n_match == 0:
            return 0
        if partition_by:
            affected = (
                df.filter(predicate).select(*partition_by).distinct().collect()
            )
            import functools
            import operator

            from pyspark.sql import functions as F

            cond = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
                    )
                    for r in affected
                ],
            )
            kept = df.filter(cond).filter(~predicate)
            self.overwrite_staged(
                kept,
                layer,
                name,
                partition_by=partition_by,
                replace_partitions_only=True,
            )
        else:
            self.overwrite_staged(df.filter(~predicate), layer, name)
        return n_match

    def update_where(
        self,
        layer: str,
        name: str,
        predicate,
        assignments: dict,
        partition_by: list[str] | None = None,
    ) -> int:
        """Row-level UPDATE: same partition-scoped rewrite as
        ``delete_where``, with matching rows rewritten under
        ``assignments`` (column -> Column expression) instead of dropped.
        Updates MUST NOT move rows across partitions (asserted: assigning
        to a partition column raises). Returns rows updated.
        """
        from pyspark.sql import functions as F

        if partition_by and set(assignments) & set(partition_by):
            raise ValueError(
                "update_where cannot assign to partition columns "
                f"({set(assignments) & set(partition_by)}) — rows would "
                "move between partitions; delete + append instead."
            )
        df = self.read(layer, name)
        n_match = df.filter(predicate).count()
        if n_match == 0:
            return 0
        def apply_assignments(d):
            for col, expr in assignments.items():
                d = d.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
            return d

        if partition_by:
            import functools
            import operator

            affected = (
                df.filter(predicate).select(*partition_by).distinct().collect()
            )
            cond = functools.reduce(
                operator.or_,
                [
                    functools.reduce(
                        operator.and_,
                        [F.col(c).eqNullSafe(F.lit(r[c])) for c in partition_by],
                    )
                    for r in affected
                ],
            )
            rewritten = apply_assignments(df.filter(cond))
            self.overwrite_staged(
                rewritten,
                layer,
                name,
                partition_by=partition_by,
                replace_partitions_only=True,
            )
        else:
            self.overwrite_staged(apply_assignments(df), layer, name)
        return n_match

    def register_views(self, layer: str | None = None) -> None:
        """Expose catalog tables as ``layer_name`` temp views for spark.sql."""
        layers = [layer] if layer else LAYERS
        for lyr in layers:
            base = os.path.join(self.root, lyr)
            if not os.path.isdir(base):
                continue
            for name in os.listdir(base):
                if self.exists(lyr, name):
                    self.read(lyr, name).createOrReplaceTempView(f"{lyr}_{name}")

    def drop(self, layer: str, name: str) -> None:
        p = self.path(layer, name)
        if os.path.isdir(p):
            shutil.rmtree(p)

    def clone_table(
        self, layer: str, name: str, dst: "Catalog", dst_name: str | None = None
    ) -> str:
        """Zero-copy clone (dbt clone / Snowflake CLONE analog): hardlink
        every data file into the destination catalog instead of copying
        bytes. Parquet files are immutable in this engine (every writer
        goes through staged-replace, never in-place mutation), so a
        clone is safe: overwriting either side REPLACES files, breaking
        the link rather than mutating shared bytes. Falls back to a real
        copy across filesystems. At 100 TB a dev environment materializes
        in seconds of metadata work instead of a second copy of the lake.
        """
        import shutil

        src_dir = self.path(layer, name)
        dst_dir = dst.path(layer, dst_name or name)
        os.makedirs(dst_dir, exist_ok=True)
        for root, _dirs, files in os.walk(src_dir):
            rel = os.path.relpath(root, src_dir)
            tgt_root = os.path.join(dst_dir, rel) if rel != "." else dst_dir
            os.makedirs(tgt_root, exist_ok=True)
            for f in files:
                s = os.path.join(root, f)
                d = os.path.join(tgt_root, f)
                if os.path.exists(d):
                    os.remove(d)
                # Metadata JSON (zone-map/bloom manifests, commit logs)
                # is COPIED, not hardlinked: manifests are refreshed per
                # table, and even though writers now go through
                # tmp+os.replace (new inode), sharing an inode between
                # two tables' metadata buys nothing and leaves a trap
                # for any future writer that opens in place.
                if f.endswith(".json"):
                    shutil.copy2(s, d)
                    continue
                try:
                    os.link(s, d)
                except OSError:
                    shutil.copy2(s, d)
        return dst_dir
