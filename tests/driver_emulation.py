"""Standalone driver-emulation sweep (not collected by pytest): run every
registry query under a BARE Spark session — the driver's t2 conditions
(Spark 4 defaults: ANSI ON, JVM timezone, none of dbt_repo_spark.session's
conf) — and compare oracle queries against DuckDB with the dtype-strict
harness. Usage:

    python tests/driver_emulation.py [sf_dir]        # default sf0.01

Prints one line per query and a FAIL summary; exit code 1 on any failure.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from dbt_repo_spark.queries_scale import release_viterbi_broadcasts
    from tests.oracle_harness import compare

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    fails: list[str] = []
    for name in qs:
        try:
            if name in osql:
                r = compare(name, spark, sf_dir)
                ok = bool(
                    r["rows_match"]
                    and r["cols_match"]
                    and r["dtypes_match"]
                    and r["values_match"]
                )
                print(
                    f"{'OK  ' if ok else 'FAIL'} {name} "
                    f"rows={r['spark_rows']}/{r['duck_rows']} "
                    f"dtypes={r['dtypes_match']} values={r['values_match']}",
                    flush=True,
                )
                if not ok:
                    fails.append(name)
                    print("  detail:", {k: v for k, v in r.items()
                                        if k not in ("name",)}, flush=True)
            else:
                n = len(qs[name](spark, sf_dir).collect())
                print(f"OK   {name} rows-only rows={n}", flush=True)
        except Exception as exc:  # noqa: BLE001 — sweep must not stop
            fails.append(name)
            print(f"FAIL {name} exception: {exc}", flush=True)
        release_viterbi_broadcasts()
    print(f"SWEEP DONE: {len(qs) - len(fails)}/{len(qs)} ok; fails={fails}",
          flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
