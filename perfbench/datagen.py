"""Seeded input generators for the benchmark.

Two corpora, both a pure function of the seed:

- ``write_corpus``: the registry's ten-table corpus (TPC-H-style star
  schema plus ``events``, ``documents`` and ``embeddings``) with the same
  schema, physical types and value domains as the reference test data the
  registry's DuckDB oracles were written against.
- ``GbfsFeed``: an Oslo-scale bike-share feed (one ``station_status``
  snapshot per minute, one ``station_information`` feed with tariffs, and
  a month of trip CSV rows), each file a pure function of the seed and the
  minute, so the ``gbfs_ticks`` workload can derive its expected row counts.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIM = 64


def _days(rng, n: int, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(path: str, cols: dict, types: dict) -> None:
    table = pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})
    pq.write_table(table, path)


def write_corpus(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten registry tables for scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def path(name):
        return os.path.join(out_dir, f"{name}.parquet")

    _write(path("region"), {"r_regionkey": range(5), "r_name": [
        "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s})
    _write(path("nation"), {
        "n_nationkey": range(25),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(path("customer"), {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }, {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
        "c_mktsegment": s})
    _write(path("supplier"), {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }, {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    keys = np.arange(n_part)
    _write(path("part"), {
        "p_partkey": keys,
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    }, {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
        "p_retailprice": f64})
    _write(path("orders"), {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2399),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }, {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
        "o_orderdate": ts, "o_orderpriority": s})
    _write(path("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    }, {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
        "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
        "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts})
    month_us = 30 * 86_400 * 1_000_000
    _write(path("events"), {
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
        "props": s})
    # 5% of documents are an earlier-drawn document plus a " dup" suffix:
    # the near-duplicate structure the dedup/entity-resolution family finds
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101))) for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(path("documents"), {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }, {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(path("embeddings"), {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb),
    }, {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})


TRIP_COLUMNS = (
    "started_at,ended_at,duration,start_station_id,start_station_name,"
    "start_station_description,start_station_latitude,start_station_longitude,"
    "end_station_id,end_station_name,end_station_description,"
    "end_station_latitude,end_station_longitude"
)


class GbfsFeed:
    """A seeded GBFS feed: station snapshots per minute, info, trips.

    ``station_status`` for minute ``m`` is a pure function of ``(seed, m)``.
    Every station's ``last_reported`` is a fixed per-station offset before
    the feed time, so each (station, feed time) pair is also one distinct
    (station, report time) pair: the batch path's snapshot key and the
    stream's dedup key count the same rows.
    """

    BASE_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z

    def __init__(self, seed: int, n_stations: int = 270):
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        self.n = n_stations
        self.ids = [str(300 + 7 * i) for i in range(n_stations)]
        self.capacity = rng.integers(12, 40, n_stations)
        self.lat = np.round(59.90 + rng.uniform(0, 0.06, n_stations), 6)
        self.lon = np.round(10.70 + rng.uniform(0, 0.12, n_stations), 6)
        self.offset = rng.integers(1, 59, n_stations)
        self.virtual = rng.random(n_stations) < 0.05

    def epoch(self, minute: int) -> int:
        return self.BASE_EPOCH + 60 * minute

    def status(self, minute: int, drift: bool) -> dict:
        """One ``station_status`` payload; ``drift`` adds ``station_area``."""
        rng = np.random.default_rng([self.seed, 1, minute])
        epoch = self.epoch(minute)
        bikes = rng.integers(0, self.capacity + 1)
        disabled = rng.integers(0, 2, self.n)
        up = rng.random((3, self.n)) > np.array([[0.01], [0.04], [0.04]])
        stations = []
        for i in range(self.n):
            st = {
                "station_id": self.ids[i],
                "is_installed": bool(up[0, i]),
                "is_renting": bool(up[1, i]),
                "is_returning": bool(up[2, i]),
                "last_reported": int(epoch - self.offset[i]),
                "num_bikes_available": int(bikes[i]),
                "num_docks_available": int(max(0, self.capacity[i] - bikes[i] - disabled[i])),
            }
            if drift:
                st["station_area"] = (
                    {"type": "Polygon", "coordinates": [[float(self.lon[i]), float(self.lat[i])]]}
                    if i % 3 == 0 else None
                )
            stations.append(st)
        return {"last_updated": epoch, "ttl": 60, "version": "2.3",
                "data": {"stations": stations}}

    def write_status(self, directory: str, minute: int, drift: bool, tag: str = "") -> None:
        os.makedirs(directory, exist_ok=True)
        name = os.path.join(directory, f"station_status_{minute:06d}{tag}.json")
        with open(name, "w") as fh:
            json.dump(self.status(minute, drift), fh)

    def write_info(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        stations = [
            {
                "station_id": sid,
                "name": f"Stasjon {sid}",
                "address": f"Gate {i}",
                "cross_street": None if i % 4 else f"Hjorne {i}",
                "lat": float(self.lat[i]),
                "lon": float(self.lon[i]),
                "capacity": int(self.capacity[i]),
                "is_virtual_station": "true" if self.virtual[i] else "false",
                "rental_uris": {"android": f"oslobysykkel://stations/{sid}",
                                "ios": f"oslobysykkel://stations/{sid}",
                                "web": f"https://oslobysykkel.no/stations/{sid}"},
            }
            for i, sid in enumerate(self.ids)
        ]
        tariffs = [
            {"tariff_id": "day", "name": "Dagspass", "cost_per_hour": "49.0",
             "currency": "NOK", "duration_minutes": "60"},
            {"tariff_id": "season", "name": "Sesongkort", "cost_per_hour": "n/a",
             "currency": "NOK", "duration_minutes": "45"},
        ]
        payload = {"last_updated": self.BASE_EPOCH, "ttl": 60, "version": "2.3",
                   "data": {"stations": stations, "tariffs": tariffs}}
        with open(os.path.join(directory, "station_information.json"), "w") as fh:
            json.dump(payload, fh)

    def write_trips(self, directory: str, n_trips: int) -> None:
        """``n_trips`` rows of the reference's monthly trip CSV."""
        rng = np.random.default_rng([self.seed, 2])
        os.makedirs(directory, exist_ok=True)
        start = rng.integers(0, 31 * 86_400, n_trips) + self.BASE_EPOCH
        dur = rng.integers(120, 3_600, n_trips)
        mismatch = rng.random(n_trips) < 0.05
        a = rng.integers(0, self.n, n_trips)
        b = rng.integers(0, self.n, n_trips)
        frac = rng.integers(0, 1_000_000, n_trips)

        def stamp(epoch, us):
            t = dt.datetime.fromtimestamp(int(epoch), dt.timezone.utc)
            return f"{t:%Y-%m-%d %H:%M:%S}.{int(us):06d}+00:00"

        lines = [TRIP_COLUMNS]
        for k in range(n_trips):
            i, j = a[k], b[k]
            lines.append(",".join((
                stamp(start[k], frac[k]),
                stamp(start[k] + dur[k], frac[k]),
                str(int(dur[k]) + int(mismatch[k])),
                self.ids[i], f"Stasjon {self.ids[i]}", f"ved Gate {i}",
                str(self.lat[i]), str(self.lon[i]),
                self.ids[j], f"Stasjon {self.ids[j]}", f"ved Gate {j}",
                str(self.lat[j]), str(self.lon[j]),
            )))
        with open(os.path.join(directory, "01_2025.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
