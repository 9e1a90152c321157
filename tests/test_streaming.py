"""Streaming-slice tests (SURVEY.md §2.9 ST1-ST7).

Drives the file-source substitute for Pub/Sub end-to-end with an
availableNow trigger: duplicate payload delivery must be deduplicated by
the watermarked state (ST1-ST2), enrichment must broadcast-join the static
dim (ST3), and the sink must produce DAY-partitioned parquet (S9).
"""

from __future__ import annotations

import json

import pytest

# r13 (r12 verdict ask #2): streaming multi-tick machinery (availableNow runs, state store spin-up) — the r12 verdict's named slow-tail class.
# Deselected by default (pytest.ini addopts) so the driver's bounded
# pytest gate finishes; run with `-m ""` (or `-m slow`) to include.
pytestmark = pytest.mark.slow
from pyspark.sql import Row
from pyspark.sql import functions as F

from dbt_repo_spark.streaming import parse_status_stream, start_status_ingest

BASE_EPOCH = 1735700000


def _payload(feed_epoch: int, n_stations: int = 3) -> str:
    return json.dumps(
        {
            "last_updated": feed_epoch,
            "ttl": 60,
            "version": "2.3",
            "data": {
                "stations": [
                    {
                        "station_id": f"st{i:03d}",
                        "last_reported": feed_epoch - 10,
                        "num_bikes_available": i + feed_epoch % 7,
                        "num_docks_available": 20 - i,
                        "is_installed": True,
                        "is_renting": True,
                        "is_returning": i % 2 == 0,
                    }
                    for i in range(n_stations)
                ]
            },
        }
    )


def test_parse_semantics_batch(spark):
    """Parser is pure: same function validated on a batch frame."""
    payloads = spark.createDataFrame([Row(payload=_payload(BASE_EPOCH))])
    out = parse_status_stream(payloads)
    rows = (
        out.withColumn("report_epoch", F.unix_timestamp("report_time"))
        .orderBy("station_id")
        .collect()
    )
    assert len(rows) == 3
    assert rows[0].station_id == "st000"
    assert rows[0].report_epoch == BASE_EPOCH - 10
    assert rows[0].bikes_available == BASE_EPOCH % 7
    assert {r.version for r in rows} == {"2.3"}


def test_stream_dedup_enrich_partitioned_sink(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (tmp_path / "landing").mkdir()
    # two distinct snapshots + one EXACT duplicate delivery (at-least-once bus)
    (tmp_path / "landing" / "a.json").write_text(_payload(BASE_EPOCH))
    (tmp_path / "landing" / "b.json").write_text(_payload(BASE_EPOCH + 60))
    (tmp_path / "landing" / "a_redelivered.json").write_text(_payload(BASE_EPOCH))

    dim = spark.createDataFrame(
        [Row(station_id=f"st{i:03d}", station_name=f"Station {i}") for i in range(3)]
    )
    q = start_status_ingest(
        spark, landing, out, ckpt, station_dim=dim, trigger={"availableNow": True}
    )
    q.awaitTermination(120)

    result = spark.read.parquet(out)
    # 2 unique snapshots × 3 stations; the redelivered payload is dropped
    assert result.count() == 6
    assert result.select("station_id", "report_time").distinct().count() == 6
    # enrichment happened
    named = result.filter(F.col("station_name").isNull()).count()
    assert named == 0
    # DAY-partitioned layout on disk
    import os

    parts = [d for d in os.listdir(out) if d.startswith("report_date=")]
    assert parts, "sink must be hive-partitioned by report_date"


def test_streaming_tumbling_window_agg(spark, tmp_path):
    """Windowed agg under a watermark on a genuine stream (append mode):
    closed windows emit exactly the batch-computed counts."""
    import datetime as dt

    from pyspark.sql import types as T

    from dbt_repo_spark.streaming import tumbling_counts

    src = tmp_path / "events"
    src.mkdir()
    rows = []
    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    for i in range(120):
        ts = base + dt.timedelta(minutes=i)
        rows.append(json.dumps({"ts": ts.isoformat(), "etype": f"t{i % 2}"}))
    (src / "a.jsonl").write_text("\n".join(rows))

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("etype", T.StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    agg = tumbling_counts(
        stream.withWatermark("ts", "10 minutes"), "ts", ["etype"], "1 hour"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.etype, r.window_start.hour): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    # 120 events over 2 hours, alternating types → 30 per (type, hour);
    # append mode only emits windows the watermark has closed → hour 0
    assert got[("t0", 0)] == 30 and got[("t1", 0)] == 30


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Checkpoint (ST5): restarting over the same landing dir adds nothing;
    new files are picked up incrementally."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (tmp_path / "landing").mkdir()
    (tmp_path / "landing" / "a.json").write_text(_payload(BASE_EPOCH))

    q = start_status_ingest(spark, landing, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == 3

    # restart with no new data → no duplicates
    q = start_status_ingest(spark, landing, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3

    # restart with one new snapshot → only its rows appended
    (tmp_path / "landing" / "b.json").write_text(_payload(BASE_EPOCH + 120))
    q = start_status_ingest(spark, landing, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 6


NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_status_ingest_runs_only_data_batches(spark, tmp_path):
    """An ``availableNow`` run over new files makes one micro-batch (no
    trailing no-data batch), and ``start()`` leaves the session's
    no-data-batch conf as it found it: unset, then set."""
    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    (tmp_path / "landing").mkdir()
    spark.conf.unset(NO_DATA_BATCHES)
    try:
        for i, conf in enumerate((None, "true")):
            if conf is not None:
                spark.conf.set(NO_DATA_BATCHES, conf)
            (tmp_path / "landing" / f"{i}.json").write_text(
                _payload(BASE_EPOCH + 600 * i)
            )
            q = start_status_ingest(
                spark, landing, out, ckpt, trigger={"availableNow": True}
            )
            assert spark.conf.get(NO_DATA_BATCHES, None) == conf
            q.awaitTermination(120)
            assert len(q.recentProgress) == 1
            assert q.recentProgress[0]["numInputRows"] == 1  # one file
    finally:
        spark.conf.unset(NO_DATA_BATCHES)
    assert spark.read.parquet(out).count() == 6


def test_status_ingest_ticks_with_refetched_snapshots(spark, tmp_path):
    """Three ``availableNow`` ticks, the later two re-serving the
    previous tick's last snapshot and the last one also the first tick's
    first (older than the watermark by then): after each tick the sink
    holds exactly the batch parse of every payload landed so far (each
    station's report once)."""
    landing, out, ckpt = (str(tmp_path / d) for d in ("landing", "out", "ckpt"))
    (tmp_path / "landing").mkdir()
    ticks = [[0, 60], [60, 120, 180], [180, 240, 0]]
    payloads = []
    for k, offsets in enumerate(ticks):
        for off in offsets:
            payloads.append(_payload(BASE_EPOCH + off))
            (tmp_path / "landing" / f"t{k}-{off}.json").write_text(payloads[-1])
        q = start_status_ingest(
            spark, landing, out, ckpt, trigger={"availableNow": True}
        )
        q.awaitTermination(120)
        assert q.exception() is None
        cols = ["station_id", "report_time", "bikes_available", "docks_available"]
        want = parse_status_stream(
            spark.createDataFrame([Row(payload=p) for p in payloads])
        ).select(cols)
        got = spark.read.parquet(out).select(cols)
        assert sorted(got.collect()) == sorted(want.collect()), k
    assert spark.read.parquet(out).count() == 3 * 5


def test_sessionize_event_time_timer(spark, tmp_path):
    """A session closes only when the WATERMARK passes last_event + gap
    (event-time timer), the open session survives a checkpointed
    restart, and within-batch gaps split sessions immediately."""
    import datetime as dt

    from pyspark.sql import types as T

    from dbt_repo_spark.streaming.stateful import sessionize

    src = tmp_path / "events"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2025, 1, 1, 0, 0, 0)

    def rows(specs):
        return "\n".join(
            json.dumps(
                {
                    "user_id": u,
                    "ts": (base + dt.timedelta(minutes=m)).isoformat(),
                    "value": float(v),
                }
            )
            for u, m, v in specs
        )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run_once():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            sessionize(stream, gap_minutes=10, delay="2 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # u1: events at 0,5 then a 20-min in-batch gap -> session [0,5] closes
    # in-batch; [25] stays open (watermark only reaches 25-2=23).
    (src / "a.jsonl").write_text(rows([(1, 0, 1.0), (1, 5, 2.0), (1, 25, 4.0)]))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 1
    r = got.collect()[0]
    assert (r.user_id, r.n_events, r.total_value) == (1, 2, 3.0)
    assert r.session_end == base + dt.timedelta(minutes=5)

    # restart: u2 event at minute 60 pushes the watermark to 58, far past
    # u1's open-session timer (25+10=35) -> the timer fires and emits the
    # checkpoint-restored open session; u2's own session stays open.
    (src / "b.jsonl").write_text(rows([(2, 60, 9.0)]))
    run_once()
    got = {(r.user_id, r.n_events): r for r in spark.read.parquet(out).collect()}
    assert set(got) == {(1, 2), (1, 1)}
    assert got[(1, 1)].total_value == 4.0
    assert got[(1, 1)].session_start == base + dt.timedelta(minutes=25)


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """maxFilesPerTrigger bounds each micro-batch: a 4-file backlog with a
    2-file cap drains in >= 2 batches under availableNow."""
    from dbt_repo_spark.streaming.ingest import file_payload_source

    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(4):
        (landing / f"p{i}.json").write_text(json.dumps({"n": i}))

    batches = []
    stream = file_payload_source(spark, str(landing), max_files_per_trigger=2)
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: batches.append(df.count())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(batches) == 4
    assert len([b for b in batches if b > 0]) >= 2
    assert max(batches) <= 2


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates are suppressed only
    within the watermark horizon — the SAME key recurring after the
    watermark passes is a NEW row (bounded state without permanent
    suppression; plain dropDuplicates would suppress it forever)."""
    import datetime as dt

    from pyspark.sql import types as T

    base = dt.datetime(2025, 1, 1, 0, 0, 0)
    src = tmp_path / "src"; src.mkdir()

    def row(m, key):
        return json.dumps({"k": key, "ts": (base + dt.timedelta(minutes=m)).isoformat()})

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    out = str(tmp_path / "out"); ckpt = str(tmp_path / "ckpt")

    def drain(fname, lines):
        (src / fname).write_text("\n".join(lines))
        stream = spark.readStream.schema(schema).json(str(src))
        q = (stream.withWatermark("ts", "5 minutes")
             .dropDuplicatesWithinWatermark(["k"])
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: key 7 twice within horizon -> one row survives
    drain("a.jsonl", [row(0, 7), row(1, 7), row(2, 8)])
    # batch 2: another key advances the watermark to ~115 (eviction
    # happens at batch END, so the recurrence must arrive in a LATER
    # batch than the one that moved the watermark)
    drain("b.jsonl", [row(120, 9)])
    # batch 3: key 7 recurs past the horizon -> NEW row
    drain("c.jsonl", [row(125, 7)])
    got = spark.read.parquet(out).groupBy("k").count().collect()
    counts = {r.k: r["count"] for r in got}
    assert counts[8] == 1
    assert counts[7] == 2  # once per horizon, NOT permanently suppressed


def test_streaming_geofence_windowed_counts(spark, tmp_path):
    """Geo composes with Structured Streaming: point_in_polygon is a
    pure projection, so fence assignment + watermarked tumbling counts
    run unchanged on a stream — the live 'rides inside the service
    area per minute' shape."""
    import json as _json

    from pyspark.sql import functions as F

    from dbt_repo_spark.operators.geo import point_in_polygon

    fence = [(0.01, 0.02), (0.43, 9.97), (9.96, 5.03)]  # triangle
    pings_dir = tmp_path / "pings"
    pings_dir.mkdir()
    rows = [
        {"ts": "2024-01-01 10:00:05", "lat": 3.0, "lon": 5.0},   # inside
        {"ts": "2024-01-01 10:00:20", "lat": 3.5, "lon": 5.0},   # inside
        {"ts": "2024-01-01 10:00:40", "lat": 50.0, "lon": 50.0}, # outside
        {"ts": "2024-01-01 10:01:10", "lat": 3.0, "lon": 5.2},   # inside, next min
    ]
    (pings_dir / "p.json").write_text("\n".join(_json.dumps(r) for r in rows))
    pings = spark.readStream.schema("ts TIMESTAMP, lat DOUBLE, lon DOUBLE").json(
        str(pings_dir)
    )
    fenced = pings.withColumn(
        "inside", point_in_polygon(F.col("lat"), F.col("lon"), fence)
    )
    counts = (
        fenced.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "inside")
        .agg(F.count("*").alias("n"))
    )
    q = (
        counts.writeStream.format("memory").queryName("geo_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["w"]["start"]), r["inside"]): r["n"]
        for r in spark.sql("SELECT * FROM geo_stream").collect()
    }
    assert got == {
        ("2024-01-01 10:00:00", True): 2,
        ("2024-01-01 10:00:00", False): 1,
        ("2024-01-01 10:01:00", True): 1,
    }


def test_progress_listener_records_batches(spark, tmp_path):
    """ops observability: the StreamingQueryListener captures per-batch
    progress (rows, rate, state size) and lands it as a warehouse table."""
    import json as _json
    import time as _time

    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.streaming.monitor import ProgressRecorder

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        src = tmp_path / "in"
        src.mkdir()
        for i in range(3):
            (src / f"f{i}.json").write_text(
                _json.dumps({"k": i, "v": i * 10}) + "\n"
            )
        q = (
            spark.readStream.schema("k long, v long")
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener events are delivered asynchronously after termination
        deadline = _time.time() + 30
        while _time.time() < deadline and not rec.rows:
            _time.sleep(0.5)
        assert rec.rows, "no progress events captured"
        total_in = sum(r[3] for r in rec.rows)
        assert total_in == 3
        cat = Catalog(spark, str(tmp_path / "wh"))
        n = rec.flush_to_catalog(spark, cat)
        assert n > 0
        got = cat.read("ops", "stream_progress")
        assert got.count() == n and "rows_per_sec" in got.columns
        assert rec.rows == []  # buffer cleared after flush
    finally:
        spark.streams.removeListener(rec)


def test_flush_keeps_rows_appended_during_write(spark, tmp_path):
    """ADVICE r03: rows the listener thread appends BETWEEN the flush
    snapshot and the buffer clear must survive to the next flush, and
    the returned count is the snapshot length, not the clear-time
    length."""
    from dbt_repo_spark.sources.catalog import Catalog
    from dbt_repo_spark.streaming.monitor import ProgressRecorder

    rec = ProgressRecorder()
    mk = lambda i: ("q", i, "t", 1, 1.0, 1, 0)
    rec.rows.extend([mk(0), mk(1)])
    cat = Catalog(spark, str(tmp_path / "wh"))

    real_write = cat.write
    def racing_write(df, *a, **kw):
        # listener fires mid-flush, after the snapshot was taken
        with rec._lock:
            rec.rows.append(mk(2))
        return real_write(df, *a, **kw)
    cat.write = racing_write

    n = rec.flush_to_catalog(spark, cat)
    assert n == 2                      # what was actually written
    assert rec.rows == [mk(2)]         # late row retained, not dropped
    cat.write = real_write
    n2 = rec.flush_to_catalog(spark, cat)
    assert n2 == 1 and rec.rows == []
    assert cat.read("ops", "stream_progress").count() == 3


def test_paragraph_dedup_stream_multi_tick_and_replay(spark, tmp_path):
    """Live foreachBatch paragraph dedup (streaming/dedup_stream.py):

    - tick 1 delivers two docs (one paragraph already corpus-owned),
      tick 2 delivers a doc repeating a TICK-1 paragraph — the index
      upsert must carry state across ticks;
    - at-least-once delivery (duplicate lines) collapses;
    - a crash-replay of a tick (same batch id, rerun by hand) is
      idempotent: the batch=<id> partitions overwrite, never append.
    """
    import json

    from dbt_repo_spark.operators import dedup
    from dbt_repo_spark.streaming.dedup_stream import (
        paragraph_dedup_tick,
        start_paragraph_dedup_stream,
    )
    from pyspark.sql import functions as F

    p_corpus = "a b c d e f g h i j"
    p_t1 = "k l m n o p q r s t"
    p_fresh = "u v w x y z aa bb cc dd"

    broker = tmp_path / "broker"
    pdir = broker / "documents" / "p0"
    pdir.mkdir(parents=True)
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # seed index: corpus doc 1 owns p_corpus
    corpus = spark.createDataFrame([(1, p_corpus)], "doc_id long, text string")
    (
        dedup.paragraph_block_index(corpus, "doc_id", "text", 10)
        .withColumn("batch", F.lit(-1).cast("long"))
        .write.partitionBy("batch")
        .parquet(index_dir)
    )

    def rec(doc_id, text):
        return json.dumps(
            {
                "key": str(doc_id),
                "value": json.dumps({"doc_id": doc_id, "source": "s", "text": text}),
                "timestamp_ms": 1700000000000 + doc_id,
                "headers": {},
            }
        )

    # tick 1: doc 10 = corpus dup + p_t1; doc 10 delivered twice
    (pdir / "segment-000.jsonl").write_text(
        "\n".join([rec(10, p_corpus + " " + p_t1), rec(10, p_corpus + " " + p_t1)])
        + "\n"
    )
    q = start_paragraph_dedup_stream(spark, str(broker), index_dir, out_dir, ckpt)
    q.awaitTermination()

    out1 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out1 == {10: (2, 1, p_t1)}  # corpus block cut, new block kept

    # tick 2 (resume from checkpoint): doc 20 repeats p_t1 (now owned by
    # doc 10 via the tick-1 index upsert) + fresh text
    (pdir / "segment-001.jsonl").write_text(rec(20, p_t1 + " " + p_fresh) + "\n")
    q = start_paragraph_dedup_stream(spark, str(broker), index_dir, out_dir, ckpt)
    q.awaitTermination()

    out2 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out2 == {10: (2, 1, p_t1), 20: (2, 1, p_fresh)}

    # crash-replay of tick 2 by hand: same batch id, same rows — the
    # batch partitions must overwrite (idempotent), not append
    batch_ids = sorted(
        r.batch for r in spark.read.parquet(out_dir).select("batch").distinct().collect()
    )
    replay_docs = spark.createDataFrame(
        [(20, "s", p_t1 + " " + p_fresh)], "doc_id long, source string, text string"
    )
    paragraph_dedup_tick(
        spark, replay_docs, int(batch_ids[-1]), index_dir, out_dir, 10
    )
    out3 = {
        r.doc_id: (r.n_blocks, r.n_kept, r.text_rewritten)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert out3 == out2  # no duplicates, same values
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.select("h").distinct().count()  # one owner per hash


def test_paragraph_dedup_stream_cross_tick_redelivery(spark, tmp_path):
    """A document redelivered in a LATER tick (producer retry at new
    offsets, different batch id) must NOT be republished: without the
    cross-tick anti-join it would be cut to empty against its own tick-1
    index rows and land as a second, conflicting row under the new
    batch= partition."""
    import json

    from dbt_repo_spark.streaming.dedup_stream import (
        start_paragraph_dedup_stream,
    )

    broker = tmp_path / "broker"
    pdir = broker / "documents" / "p0"
    pdir.mkdir(parents=True)
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def rec(doc_id, text):
        return json.dumps(
            {
                "key": str(doc_id),
                "value": json.dumps(
                    {"doc_id": doc_id, "source": "s", "text": text}
                ),
                "timestamp_ms": 1700000000000 + doc_id,
                "headers": {},
            }
        )

    text10 = "a b c d e f g h i j"
    # tick 1: doc 10 arrives (empty prior index/output)
    (pdir / "segment-000.jsonl").write_text(rec(10, text10) + "\n")
    q = start_paragraph_dedup_stream(spark, str(broker), index_dir, out_dir, ckpt)
    q.awaitTermination()
    rows1 = spark.read.parquet(out_dir).collect()
    assert {(r.doc_id, r.n_kept) for r in rows1} == {(10, 1)}

    # tick 2: the SAME doc redelivered at new offsets + one fresh doc
    (pdir / "segment-001.jsonl").write_text(
        rec(10, text10) + "\n" + rec(20, "k l m n o p q r s t") + "\n"
    )
    q = start_paragraph_dedup_stream(spark, str(broker), index_dir, out_dir, ckpt)
    q.awaitTermination()

    rows2 = spark.read.parquet(out_dir).collect()
    per_doc = {}
    for r in rows2:
        per_doc.setdefault(r.doc_id, []).append((r.n_kept, r.text_rewritten))
    # exactly ONE output row per doc_id; doc 10's tick-1 row unchanged
    assert {k: len(v) for k, v in per_doc.items()} == {10: 1, 20: 1}
    assert per_doc[10] == [(1, text10)]
    assert per_doc[20] == [(1, "k l m n o p q r s t")]
