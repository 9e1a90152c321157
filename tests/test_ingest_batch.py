"""Batch-ingestion tests (SURVEY.md §3.2): JSON raw load with schema-drift
drop + serialization fallback, and the CSV trips load."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from dbt_repo_spark.sources.catalog import Catalog
from dbt_repo_spark.sources.ingest_batch import (
    drop_nested_station_field,
    gbfs_raw_load,
    historic_trips_load,
)

FEED = {
    "last_updated": 1735700000,
    "ttl": 60,
    "version": "2.3",
    "data": {
        "stations": [
            {
                "station_id": "st000",
                "num_bikes_available": 4,
                "station_area": {"type": "Polygon"},  # the drifted field
            },
            {
                "station_id": "st001",
                "num_bikes_available": 7,
                "station_area": None,
            },
        ]
    },
}


def _landing(tmp_path, payload: dict) -> str:
    d = tmp_path / "landing" / "2025" / "01"  # nested: recursive lookup
    d.mkdir(parents=True)
    (d / "feed.json").write_text(json.dumps(payload))
    return str(tmp_path / "landing")


def test_gbfs_raw_load_drops_drifted_field(spark, tmp_path):
    landing = _landing(tmp_path, FEED)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    out = gbfs_raw_load(spark, landing, catalog, "station_status")
    station_fields = (
        out.select(F.explode("data.stations").alias("s")).select("s.*").columns
    )
    assert "station_area" not in station_fields
    assert "station_id" in station_fields
    assert out.count() == 1
    assert "ingest_datetime" in out.columns
    # append semantics (S7): loading again doubles the rows
    gbfs_raw_load(spark, landing, catalog, "station_status")
    assert catalog.read("raw", "station_status").count() == 2


def test_drop_nested_field_noop_without_drift(spark, tmp_path):
    clean = json.loads(json.dumps(FEED))
    for s in clean["data"]["stations"]:
        del s["station_area"]
    landing = _landing(tmp_path, clean)
    df = spark.read.option("multiLine", "true").option(
        "recursiveFileLookup", "true"
    ).json(landing)
    assert drop_nested_station_field(df, "station_area") is df


def test_gbfs_raw_load_serialize_fallback(spark, tmp_path):
    landing = _landing(tmp_path, FEED)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    out = gbfs_raw_load(
        spark, landing, catalog, "station_information", serialize_data=True
    )
    assert "data" not in out.columns and "data_json" in out.columns
    sid = out.select(
        F.get_json_object("data_json", "$.stations[0].station_id").alias("s")
    ).first()
    assert sid.s == "st000"


def test_historic_trips_load(spark, tmp_path):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    header = "started_at,ended_at,duration,start_station_id,end_station_id"
    rows = [
        "2025-01-01 04:37:39.287000+00:00,2025-01-01 04:47:39.287000+00:00,600,101,202",
        "2025-01-02 10:00:00.000000+00:00,2025-01-02 10:05:30.000000+00:00,330,103,204",
        ",2025-01-03 00:00:00.000000+00:00,60,105,206",  # NULL started_at → dropped
    ]
    (csv_dir / "01_2025.csv").write_text("\n".join([header, *rows]))
    catalog = Catalog(spark, str(tmp_path / "wh"))
    out = historic_trips_load(spark, str(csv_dir / "*.csv"), catalog)
    assert out.count() == 2
    row = out.orderBy("started_at").first()
    assert row.start_station_id == "101" and isinstance(row.start_station_id, str)
    assert row.duration == 600
    assert F.unix_timestamp  # noqa: B018 - keep import visible
    epoch = out.select(F.unix_timestamp(F.col("started_at")).alias("e")).orderBy("e").first().e
    assert epoch == 1735706259  # 2025-01-01T04:37:39Z
    # overwrite semantics (S8): re-load keeps count
    out = historic_trips_load(spark, str(csv_dir / "*.csv"), catalog)
    assert out.count() == 2


def test_read_json_file_station_information_enriches_status(spark, tmp_path):
    """S3 (src/realtime_pubsub_to_spark.py:164-184): the multiline
    station_information file is read whole, its ``data.stations`` array
    exploded into the station dimension, and a status batch enriched by
    the stream's broadcast left join; a status row for a station the
    file lacks keeps NULL metadata."""
    from dbt_repo_spark.sources.readers import read_json_file
    from dbt_repo_spark.streaming.ingest import enrich_with_stations

    info = {
        "last_updated": 1735700000,
        "ttl": 60,
        "data": {
            "stations": [
                {"station_id": "st000", "name": "Torget", "lat": 59.91,
                 "lon": 10.75, "capacity": 20},
                {"station_id": "st001", "name": "Kaia", "lat": 59.92,
                 "lon": 10.73, "capacity": 12},
            ]
        },
    }
    path = tmp_path / "station_information.json"
    path.write_text(json.dumps(info, indent=2))  # one record over many lines

    raw = read_json_file(spark, str(path))
    assert raw.count() == 1
    stations = raw.select(F.explode("data.stations").alias("s")).select(
        "s.station_id", "s.name", "s.capacity"
    )
    status = spark.createDataFrame(
        [("st000", 4), ("st001", 7), ("st009", 1)],
        "station_id string, num_bikes_available int",
    )
    got = {
        r.station_id: (r.num_bikes_available, r.name, r.capacity)
        for r in enrich_with_stations(status, stations).collect()
    }
    assert got == {
        "st000": (4, "Torget", 20),
        "st001": (7, "Kaia", 12),
        "st009": (1, None, None),
    }


def test_archive_loaded_sources_moves_then_deletes(spark, tmp_path):
    """S11 (src/pyspark_gbfs_raw_load.py:117-121): after a successful
    load, landing files retire — archived with relative layout preserved,
    or deleted outright when no archive dir is given. The loaded table is
    unaffected either way."""
    from dbt_repo_spark.sources.ingest_batch import archive_loaded_sources

    landing = _landing(tmp_path, FEED)
    catalog = Catalog(spark, str(tmp_path / "wh"))
    archive = tmp_path / "archive"
    out = gbfs_raw_load(
        spark, landing, catalog, "station_status",
        archive_dir=str(archive), retire_sources=True,
    )
    assert out.count() == 1
    # file moved, landing empty, relative layout kept
    assert (archive / "2025" / "01" / "feed.json").is_file()
    import pathlib
    assert not any(p.is_file() for p in pathlib.Path(landing).rglob("*"))
    # table still reads after the sources are gone
    assert catalog.read("raw", "station_status").count() == 1

    # delete mode (the reference's exact semantics)
    landing2 = _landing(tmp_path / "second", FEED)
    retired = None
    gbfs_raw_load(spark, landing2, catalog, "station_status", retire_sources=True)
    assert not any(p.is_file() for p in pathlib.Path(landing2).rglob("*"))
    assert catalog.read("raw", "station_status").count() == 2

    # best-effort helper returns the retired paths
    landing3 = _landing(tmp_path / "third", FEED)
    retired = archive_loaded_sources(landing3)
    assert len(retired) == 1 and retired[0].endswith("feed.json")


def test_gbfs_raw_load_failure_keeps_sources(spark, tmp_path, monkeypatch):
    """If the write raises, retirement never runs — the landing dir is
    intact for the retry (the reference only deletes after a successful
    BigQuery write)."""
    import pathlib

    import pytest

    landing = _landing(tmp_path, FEED)
    catalog = Catalog(spark, str(tmp_path / "wh"))

    def boom(*a, **k):
        raise RuntimeError("simulated sink failure")

    monkeypatch.setattr(catalog, "write", boom)
    with pytest.raises(RuntimeError, match="simulated sink failure"):
        gbfs_raw_load(spark, landing, catalog, "station_status", retire_sources=True)
    assert any(p.is_file() for p in pathlib.Path(landing).rglob("*"))
