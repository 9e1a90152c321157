"""CLI end-to-end: ingest-trips → run (partial DAG w/ skips) → test."""

from __future__ import annotations

from dbt_repo_spark.__main__ import main

HEADER = (
    "started_at,ended_at,duration,start_station_id,start_station_name,"
    "start_station_description,start_station_latitude,start_station_longitude,"
    "end_station_id,end_station_name,end_station_description,"
    "end_station_latitude,end_station_longitude"
)


def _row(i: int) -> str:
    mm = 1 + (i % 28)
    return (
        f"2025-01-{mm:02d} 04:{i % 60:02d}:00.000000+00:00,"
        f"2025-01-{mm:02d} 04:{i % 60:02d}:{30 + i % 30:02d}.000000+00:00,"
        f"{30 + i % 30},{100 + i % 3},Station {i % 3},desc,59.9,10.7,"
        f"{200 + i % 4},End {i % 4},desc,59.95,10.75"
    )


def test_cli_ingest_run_test(spark, tmp_path, capsys):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "01_2025.csv").write_text(
        "\n".join([HEADER, *[_row(i) for i in range(25)]])
    )
    wh = str(tmp_path / "wh")

    rc = main(["ingest-trips", "--csv", str(csv_dir / "*.csv"), "--warehouse", wh])
    assert rc == 0
    assert "raw.historic_trips: 25 rows" in capsys.readouterr().out

    rc = main(["run", "--warehouse", wh])
    captured = capsys.readouterr()
    assert rc == 0
    assert "OK table        fact_trips" in captured.out
    assert "OK table        mart_trip_metrics" in captured.out
    # GBFS status feeds were never ingested → those models skip, not crash
    assert "fact_station_status" in captured.err

    rc = main(["run", "--warehouse", wh, "--select", "fact_trips"])
    assert rc == 0

    # each run writes the manifest a later --state compares against:
    # nothing changed since, so state:modified selects nothing
    capsys.readouterr()
    rc = main(["run", "--warehouse", wh, "--state", f"{wh}/manifest.json",
               "--select", "state:modified"])
    assert rc == 0
    assert "OK " not in capsys.readouterr().out

    rc = main(["test", "--warehouse", wh])
    assert rc == 0  # no FAILing declared tests on the trips subtree


def test_cli_full_warehouse_e2e(spark, tmp_path, capsys):
    """The reference's whole surface through the CLI: ingest status feed
    (nested JSON), info feed (JSON-string fallback), trip CSVs → run the
    full 15-model GBFS DAG → declared data tests pass."""
    import json

    def status_payload(epoch):
        return {
            "last_updated": epoch,
            "ttl": 60,
            "version": "2.3",
            "data": {
                "stations": [
                    {
                        "station_id": f"st{i:03d}",
                        "last_reported": epoch - 10,
                        "num_bikes_available": (i + epoch) % 15,
                        "num_docks_available": 15 - (i + epoch) % 15,
                        "is_installed": True,
                        "is_renting": True,
                        "is_returning": i % 2 == 0,
                    }
                    for i in range(4)
                ]
            },
        }

    info_payload = {
        "last_updated": 1735700000,
        "ttl": 60,
        "version": "2.3",
        "data": {
            "stations": [
                {
                    "station_id": f"st{i:03d}",
                    "name": f"Station {i}",
                    "lat": 59.9 + i * 0.01,
                    "lon": 10.7,
                    "address": f"Street {i}",
                    "cross_street": None,
                    "capacity": 20,
                    "is_virtual_station": "false",
                    "rental_uris": {"android": "a", "ios": "i", "web": "w"},
                }
                for i in range(4)
            ],
            "tariffs": [
                {
                    "tariff_id": "day",
                    "name": "Day",
                    "cost_per_hour": "15.0",
                    "currency": "NOK",
                    "duration_minutes": "60",
                }
            ],
        },
    }

    status_dir = tmp_path / "drops" / "status"
    info_dir = tmp_path / "drops" / "info"
    status_dir.mkdir(parents=True)
    info_dir.mkdir(parents=True)
    for k in range(3):
        (status_dir / f"s{k}.json").write_text(
            json.dumps(status_payload(1735700000 + 60 * k))
        )
    (info_dir / "info.json").write_text(json.dumps(info_payload))
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "01_2025.csv").write_text(
        "\n".join([HEADER, *[_row(i) for i in range(30)]])
    )
    wh = str(tmp_path / "wh")

    assert main(["ingest-gbfs", "--landing", str(status_dir), "--warehouse", wh,
                 "--table", "station_status"]) == 0
    assert main(["ingest-gbfs", "--landing", str(info_dir), "--warehouse", wh,
                 "--table", "station_information", "--serialize-data"]) == 0
    assert main(["ingest-trips", "--csv", str(csv_dir / "*.csv"),
                 "--warehouse", wh]) == 0

    assert main(["run", "--warehouse", wh]) == 0
    out = capsys.readouterr()
    for m in ("stg_station_status", "dim_stations", "dim_date", "dim_tariff",
              "fact_station_status", "fact_station_status_latest", "fact_trips",
              "fact_station_uptime", "mart_station_availability",
              "mart_station_uptime", "mart_trip_metrics"):
        assert f" {m}" in out.out, f"{m} missing from run output"
    assert "skipping" not in out.err or "customers" in out.err  # only demo models may skip

    assert main(["test", "--warehouse", wh]) == 0
    out = capsys.readouterr()
    assert "FAIL" not in out.out and "PASS" in out.out

    # the materialized star is queryable through plain SQL
    from dbt_repo_spark.sources.catalog import Catalog

    cat = Catalog(spark, wh)
    avail = cat.read("analytics", "mart_station_availability")
    assert avail.count() == 12  # 3 snapshots x 4 stations
    assert cat.read("analytics", "fact_station_status_history").count() == 12


def test_cli_stream_available_now(spark, tmp_path):
    import json

    payload = {
        "last_updated": 1735700000,
        "ttl": 60,
        "version": "2.3",
        "data": {
            "stations": [
                {
                    "station_id": "st000",
                    "last_reported": 1735699990,
                    "num_bikes_available": 3,
                    "num_docks_available": 17,
                    "is_installed": True,
                    "is_renting": True,
                    "is_returning": True,
                }
            ]
        },
    }
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.json").write_text(json.dumps(payload))
    rc = main(
        [
            "stream",
            "--landing",
            str(landing),
            "--out",
            str(tmp_path / "out"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 1 and out.first().station_id == "st000"


def test_cli_snapshot_and_docs(spark, tmp_path, capsys):
    from dbt_repo_spark.sources.catalog import Catalog

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    cat.write(
        spark.createDataFrame([(1, "a"), (2, "b")], ["station_id", "status"]),
        "raw", "station_state",
    )
    rc = main(["snapshot", "--warehouse", wh, "--table", "station_state",
               "--key", "station_id", "--check", "status",
               "--loaded-at", "2024-01-01 00:00:00"])
    assert rc == 0
    # second tick: one change
    cat.write(
        spark.createDataFrame([(1, "a"), (2, "B")], ["station_id", "status"]),
        "raw", "station_state",
    )
    rc = main(["snapshot", "--warehouse", wh, "--table", "station_state",
               "--key", "station_id", "--check", "status",
               "--loaded-at", "2024-01-02 00:00:00"])
    assert rc == 0
    snap = cat.read("analytics", "station_state_snapshot")
    assert snap.count() == 3  # 2 opens + 1 closed version of station 2
    assert snap.filter("dbt_valid_to IS NULL").count() == 2
    out = capsys.readouterr().out
    assert "station_state_snapshot: 3 versions, 2 open" in out

    rc = main(["docs"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "fact_trips" in out and "incremental" in out


def test_cli_seed(spark, tmp_path, capsys):
    csv = tmp_path / "ref.csv"
    csv.write_text("code,label\n1,a\n2,b\n")
    wh = str(tmp_path / "wh")
    assert main(["seed", "--csv", str(csv), "--warehouse", wh, "--table", "codes"]) == 0
    from dbt_repo_spark.sources.catalog import Catalog
    back = Catalog(spark, wh).read("raw", "codes")
    assert back.count() == 2 and set(back.columns) == {"code", "label"}


def test_cli_explain(capsys):
    from dbt_repo_spark.__main__ import main

    assert main(["explain", "pricing_summary"]) == 0
    out = capsys.readouterr().out
    assert "PushedFilters" in out and "HashAggregate" in out
    assert main(["explain", "no_such_query"]) == 2


def test_cli_optimize_compact_and_zorder(spark, tmp_path, capsys):
    """`optimize` verb: many small files -> compacted count; z-order
    rewrite preserves rows and schema through a staged swap that leaves
    no staging directory and writes no manifest."""
    import os

    from dbt_repo_spark.__main__ import main
    from dbt_repo_spark.sources.catalog import Catalog

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    df = spark.range(1000).selectExpr(
        "id", "id % 7 AS a", "CAST(id % 11 AS DOUBLE) AS b"
    )
    # write fragmented: 16 files
    cat.write(df.repartition(16), "analytics", "frag")
    frag_dir = cat.path("analytics", "frag")
    n_before = sum(f.endswith(".parquet") for f in os.listdir(frag_dir))
    assert n_before >= 16

    assert main(["optimize", "--warehouse", wh, "--table", "frag",
                 "--target-files", "2"]) == 0
    n_after = sum(f.endswith(".parquet") for f in os.listdir(frag_dir))
    assert n_after == 2
    assert cat.read("analytics", "frag").count() == 1000

    assert main(["optimize", "--warehouse", wh, "--table", "frag",
                 "--target-files", "4", "--zorder", "a", "b"]) == 0
    out = cat.read("analytics", "frag")
    assert out.dtypes == df.dtypes
    assert sorted(out.collect()) == sorted(df.collect())
    assert "_zonemap.json" not in os.listdir(frag_dir)
    assert sorted(os.listdir(cat.path("analytics", ""))) == ["frag"]


def test_cli_export_verify(spark, tmp_path, capsys):
    from dbt_repo_spark.__main__ import main
    from dbt_repo_spark.sources.catalog import Catalog

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    cat.write(
        spark.range(100).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text"),
        "analytics", "docs_t",
    )
    out = str(tmp_path / "ds")
    rc = main(["export", "--warehouse", wh, "--table", "docs_t",
               "--out", out, "--id-col", "doc_id", "--shards", "2",
               "--verify"])
    assert rc == 0
    assert "verify: OK" in capsys.readouterr().out


def test_cli_crawl_available_now(spark, tmp_path):
    """`python -m dbt_repo_spark crawl` runs the streaming crawl tick end
    to end on a broker fixture: URL-dedup + C4 gates + paragraph rewrite,
    publishing output and both index relations."""
    import json

    broker = tmp_path / "broker"
    pdir = broker / "documents" / "p0"
    pdir.mkdir(parents=True)
    text = (
        "this is a good first sentence here.\n"
        "and a second clean sentence follows it.\n"
        "finally a third one closes the doc."
    )

    def rec(doc_id, body):
        return json.dumps(
            {
                "key": str(doc_id),
                "value": json.dumps(
                    {"doc_id": doc_id, "source": "srcA", "text": body}
                ),
                "timestamp_ms": 1700000000000 + doc_id,
                "headers": {},
            }
        )

    # doc 2 duplicates doc 1's source-derived URL? No — URLs derive from
    # doc_id, so they differ; doc 2 instead repeats doc 1's paragraphs
    # and must rewrite to empty blocks beyond the shared ones
    (pdir / "segment-000.jsonl").write_text(
        rec(1, text) + "\n" + rec(2, text) + "\n"
    )
    rc = main(
        [
            "crawl",
            "--broker",
            str(broker),
            "--url-index",
            str(tmp_path / "uidx"),
            "--block-index",
            str(tmp_path / "bidx"),
            "--out",
            str(tmp_path / "out"),
            "--checkpoint",
            str(tmp_path / "ckpt"),
            "--available-now",
        ]
    )
    assert rc == 0
    out = {
        r.doc_id: (r.n_blocks, r.n_kept)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # both docs pass URL + C4; doc 1 owns every block (min doc_id), doc 2
    # is cut to zero kept blocks by the within-batch paragraph owner fold
    assert out[1][0] == out[2][0] and out[1][1] > 0 and out[2][1] == 0
    keys = spark.read.parquet(str(tmp_path / "uidx"))
    assert keys.count() == 2  # one canonical key admitted per doc
