"""File-level zone maps (min/max manifests) for planning-time file
skipping — the data-skipping index Delta/Iceberg keep in their metadata
layers, for plain-parquet tables.

Parquet already carries row-group min/max in each file FOOTER, and Spark
prunes row groups once a scan task has opened the file. What it cannot
do on a bare directory is skip the file BEFORE planning: every query
lists and schedules every file. At 100 TB a clustered table is
10⁴-10⁶ files; a point/range query on the cluster key touches a
handful. The zone-map manifest is one small JSON written at load time
(footer metadata only — no data read), and ``read_pruned`` turns a
range predicate into an explicit file list, so the scan plans exactly
the intersecting files. Pruning is a SUPERSET guarantee: files without
stats for the column are always kept, and the caller's filter is still
applied — a wrong manifest can cost time, never correctness.

Composes with ``Catalog.write(sort_within_partitions=...)`` /
``layout.zorder_layout``: clustering is what makes per-file ranges
disjoint and the skip rate high.
"""

from __future__ import annotations

import json
import os

MANIFEST = "_zonemap.json"


def _file_stats(path: str, columns: list[str]) -> dict:
    """Per-column (min, max, null_count) across a parquet file's row
    groups, from footer metadata only."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for col in columns:
        i = names.get(col)
        if i is None:
            continue
        lo = hi = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
            nulls += st.null_count or 0
        if ok and lo is not None:
            out[col] = {"min": _plain(lo), "max": _plain(hi), "nulls": nulls}
    return out


def _plain(v):
    """JSON-serializable form preserving comparison order."""
    import datetime as dt
    import decimal

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _data_files(table_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet") or (
                f.startswith("part-") and not f.endswith(".crc")
            ):
                out.append(os.path.join(root, f))
    return sorted(out)


def write_zone_map(table_dir: str, columns: list[str]) -> dict:
    """Collect footer stats for every data file and persist the
    manifest next to the data. Idempotent; call after each load."""
    manifest = {
        "columns": columns,
        "files": {
            os.path.relpath(p, table_dir): _file_stats(p, columns)
            for p in _data_files(table_dir)
        },
    }
    # tmp file + os.replace: a reader never sees a torn manifest
    path = os.path.join(table_dir, MANIFEST)
    with open(path + ".tmp", "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True, default=str)
    os.replace(path + ".tmp", path)
    return manifest


def load_zone_map(table_dir: str) -> dict | None:
    p = os.path.join(table_dir, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def prune_files(
    table_dir: str, col: str, lo=None, hi=None
) -> tuple[list[str], int]:
    """Files whose [min,max] for ``col`` intersects [lo,hi] (None =
    unbounded). Returns (absolute paths to read, total file count).
    Files lacking stats for ``col`` are KEPT (superset guarantee)."""
    mf = load_zone_map(table_dir)
    if mf is None:
        paths = _data_files(table_dir)
        return paths, len(paths)
    keep = []
    total = 0
    lo_n, hi_n = _plain(lo), _plain(hi)
    for rel, stats in mf["files"].items():
        total += 1
        st = stats.get(col)
        if st is None:
            keep.append(os.path.join(table_dir, rel))
            continue
        if (hi_n is not None and st["min"] > hi_n) or (
            lo_n is not None and st["max"] < lo_n
        ):
            continue
        keep.append(os.path.join(table_dir, rel))
    # Files on disk but absent from the manifest (appended after the
    # manifest was written, e.g. a load without a zone-map refresh) are
    # UNKNOWN -> kept, same rule as missing per-column stats. A stale
    # manifest may cost scan time, never rows.
    for p in _data_files(table_dir):
        if os.path.relpath(p, table_dir) not in mf["files"]:
            keep.append(p)
            total += 1
    return keep, total
