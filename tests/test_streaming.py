"""Streaming semantics tests (SURVEY §5 test plan #3): overlapping-poll
duplicates and late updates through the silver dedup, bronze archival,
windowed counts, and the foreachBatch ES sink — all driven by the file
source + memory sink so a batch of parquet rows runs a real streaming query
to completion synchronously."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark.schemas import (
    EARTHQUAKE_TYPED,
    EVENTS,
    KAFKA_ENVELOPE,
)
from egal_yet_another_earthquake_project_spark.sinks.elasticsearch import write_to_es
from egal_yet_another_earthquake_project_spark.sources.files import stream_parquet_dir
from egal_yet_another_earthquake_project_spark.streaming.bronze import archive_stream
from egal_yet_another_earthquake_project_spark.streaming.silver import (
    dedup_stream,
    parsed_stream,
    session_windows,
    windowed_counts,
)


def _event_json(event_id: str, date: str, update: bool = False, mag: str = "5.0") -> str:
    return json.dumps(
        {
            "date": date,
            "rms": "0.5",
            "eventID": event_id,
            "location": "x",
            "latitude": "38.0",
            "longitude": "38.0",
            "depth": "7.0",
            "type": "EQ",
            "magnitude": mag,
            "country": "Türkiye",
            "province": "Malatya",
            "district": "d",
            "neighborhood": None,
            "isEventUpdate": "true" if update else "false",
            "lastUpdateDate": date if update else None,
        },
        ensure_ascii=False,
    )


def _envelope_rows(spark, payloads: list[str]):
    rows = [
        (None, bytearray(p.encode("utf-8")), "earthquakeRaw", 0, i, None, 0)
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, KAFKA_ENVELOPE)


def _run_stream_to_memory(df, name: str, ckpt: str, output_mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_silver_dedup_overlapping_polls(spark, tmp_path: Path):
    """ST2/ST5: duplicate eventIDs from overlapping polls + a late update →
    exactly one row per eventID downstream."""
    payloads = [
        _event_json("100", "2023-02-06 04:17:00"),
        _event_json("100", "2023-02-06 04:17:00"),  # overlap duplicate
        _event_json("101", "2023-02-06 04:20:00"),
        _event_json("100", "2023-02-06 04:17:00", update=True, mag="7.8"),
    ]
    src = tmp_path / "bronze"
    _envelope_rows(spark, payloads).write.parquet(str(src))

    stream = stream_parquet_dir(spark, str(src), KAFKA_ENVELOPE)
    silver = dedup_stream(parsed_stream(stream))
    # the stream emits the same declared record as the batch pipeline
    assert [(f.name, f.dataType) for f in silver.schema] == [
        (f.name, f.dataType) for f in EARTHQUAKE_TYPED
    ]
    _run_stream_to_memory(silver, "silver_out", str(tmp_path / "ckpt"))

    rows = spark.sql("SELECT * FROM silver_out").collect()
    ids = sorted(r.eventID for r in rows)
    assert ids == [100, 101], f"expected one row per event, got {ids}"
    assert {r.fault_line for r in rows} == {"Doğu Anadolu"}  # Malatya


def test_bronze_archive_roundtrip(spark, tmp_path: Path):
    """S1/S2/ST1: envelope stream → partitioned parquet archive, verbatim."""
    payloads = [_event_json(str(i), "2023-02-06 04:00:00") for i in range(5)]
    src = tmp_path / "in"
    _envelope_rows(spark, payloads).write.parquet(str(src))

    stream = stream_parquet_dir(spark, str(src), KAFKA_ENVELOPE)
    q = archive_stream(stream, str(tmp_path / "archive"), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    archived = spark.read.parquet(str(tmp_path / "archive"))
    assert archived.count() == 5
    assert "ingest_date" in archived.columns
    payload_set = {bytes(r.value).decode("utf-8") for r in archived.collect()}
    assert payload_set == set(payloads)


def test_windowed_counts_with_watermark(spark, tmp_path: Path):
    """ST2 streaming flagship: sliding-window counts accept in-watermark
    events; the aggregate state is bounded by the watermark."""
    rows = [
        (1, "2024-01-01 00:01:00", 1, "click", 5.0, None),
        (2, "2024-01-01 00:02:00", 2, "click", 6.0, None),
        (3, "2024-01-01 00:30:00", 3, "view", 7.0, None),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string, value double, props string")
    src = tmp_path / "in"
    df.withColumn("ts", F.to_timestamp("ts")).write.parquet(str(src))

    stream = stream_parquet_dir(spark, str(src), EVENTS)
    agg = windowed_counts(stream, "ts", "event_type", "10 minutes", "10 minutes")
    # update mode: append would hold results until the watermark passes the
    # window end, which a finite test feed never reaches.
    _run_stream_to_memory(agg, "win_out", str(tmp_path / "ckpt"), "update")

    got = {
        (r.window.start.strftime("%H:%M"), r.event_type): r.n
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got[("00:00", "click")] == 2
    assert got[("00:30", "view")] == 1


def test_trailing_view_keeps_recent_only(spark):
    """ST3 as a filter view: only rows within the trailing horizon of
    now() survive (partition-pruning predicate shape)."""
    from datetime import datetime, timedelta

    from egal_yet_another_earthquake_project_spark.streaming.silver import (
        trailing_view,
    )

    now = datetime.utcnow()
    rows = [
        (1, now - timedelta(minutes=5)),
        (2, now - timedelta(days=2)),
        (3, now - timedelta(days=10)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {r.id for r in trailing_view(df, "ts", "7 DAYS").collect()}
    assert got == {1, 2}


def test_es_sink_bulk_lines_match_row_rendering(spark, monkeypatch):
    """S5: every row becomes one index action (_id=eventID) plus its
    document, rendered in the JVM exactly as ``json.dumps`` of the row
    dict renders it (timestamps, nulls, booleans, non-ASCII names), in
    one Spark job; the driver posts them in requests of BULK_DOCS docs."""
    import math

    from egal_yet_another_earthquake_project_spark import pipeline
    from egal_yet_another_earthquake_project_spark.sinks import elasticsearch
    from egal_yet_another_earthquake_project_spark.testing import fixtures

    posts: list[str] = []

    def capture(url: str, payload: str) -> None:
        assert url == "http://localhost:9200/_bulk"
        posts.append(payload)

    def posted_lines() -> list[dict]:
        return [json.loads(line) for p in posts for line in p.splitlines() if line]

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 6.0), (3, "c", 7.0)],
        "eventID long, province string, magnitude double",
    ).repartition(2)
    write_to_es(df, "earthquake-all", id_col="eventID", transport=capture)

    lines = posted_lines()
    metas = [line for line in lines if "index" in line and "_index" in line.get("index", {})]
    docs = [line for line in lines if "eventID" in line]
    assert {m["index"]["_id"] for m in metas} == {"1", "2", "3"}
    assert {m["index"]["_index"] for m in metas} == {"earthquake-all"}
    assert {d["province"] for d in docs} == {"a", "b", "c"}

    env = spark.createDataFrame(
        fixtures.kafka_envelopes(fixtures.earthquake_events(n=300)), KAFKA_ENVELOPE
    )
    silver = pipeline.bronze_to_silver(env).cache()
    want = {
        str(row.eventID): json.loads(json.dumps(row.asDict(recursive=True), default=str))
        for row in silver.collect()
    }
    assert any(d["neighborhood"] is None for d in want.values())
    assert any(d["isEventUpdate"] is True for d in want.values())
    assert any(d["lastUpdateDate"] is not None for d in want.values())
    assert all(not d["country"].isascii() for d in want.values())
    posts.clear()
    monkeypatch.setattr(elasticsearch, "BULK_DOCS", 100)
    sc = spark.sparkContext
    sc.setJobGroup("es-sink-contract", "write_to_es")
    try:
        write_to_es(silver, "earthquake-all", transport=capture)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    silver.unpersist()

    assert len(sc.statusTracker().getJobIdsForGroup("es-sink-contract")) == 1
    assert len(posts) == math.ceil(len(want) / 100)
    lines = posted_lines()
    actions, got = lines[0::2], lines[1::2]
    assert [a["index"]["_id"] for a in actions] == [str(d["eventID"]) for d in got]
    assert {a["index"]["_index"] for a in actions} == {"earthquake-all"}
    assert {str(d["eventID"]): d for d in got} == want
    assert len(got) == len(want)


def test_es_sink_idempotent_replay(spark, tmp_path: Path):
    """Replaying the same micro-batch produces the same _ids — the upsert
    key makes replays collapse server-side (exactly-once effect)."""
    seen: list[str] = []
    out = tmp_path / "replay"
    out.mkdir()

    def file_transport(url: str, payload: str) -> None:
        import uuid

        (out / f"{uuid.uuid4().hex}.ndjson").write_text(payload)

    df = spark.createDataFrame([(7, 1.0)], "eventID long, magnitude double")
    write_to_es(df, "idx", id_col="eventID", transport=file_transport)
    write_to_es(df, "idx", id_col="eventID", transport=file_transport)
    ids = []
    for f in out.glob("*.ndjson"):
        for line in f.read_text().splitlines():
            rec = json.loads(line)
            if "index" in rec:
                ids.append(rec["index"]["_id"])
    assert ids == ["7", "7"]  # same _id both replays → server-side upsert
    del seen


def test_session_windows_close_on_watermark(spark, tmp_path: Path):
    """Streaming sessionization (session_window state merge): sessions
    split at >gap inactivity, close once the watermark passes their end,
    and still-open sessions are NOT emitted in append mode."""
    from datetime import datetime

    from egal_yet_another_earthquake_project_spark.schemas import EVENTS

    def ev(eid, hh, mm, uid):
        return (eid, datetime(2023, 2, 6, hh, mm), uid, "click", 1.0, None)

    rows = [
        ev(1, 10, 0, 1), ev(2, 10, 10, 1),   # u1 session A (2 events)
        ev(3, 11, 30, 1),                     # u1 session B (gap 80 min)
        ev(4, 10, 5, 2), ev(5, 10, 20, 2), ev(6, 10, 45, 2),  # u2, one session
        ev(7, 14, 0, 3),                      # watermark pusher; own session open
    ]
    src = tmp_path / "events"
    spark.createDataFrame(rows, EVENTS).write.parquet(str(src))

    stream = stream_parquet_dir(spark, str(src), EVENTS)
    sessions = session_windows(stream, "ts", "user_id", gap="30 minutes",
                               watermark="1 hour")
    _run_stream_to_memory(sessions, "sessions_out", str(tmp_path / "ckpt"))

    got = {
        (r.user_id, r.n_events, r.first_event.minute, r.last_event.minute)
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got == {
        (1, 2, 0, 10),   # u1 session A: 10:00-10:10
        (1, 1, 30, 30),  # u1 session B: 11:30
        (2, 3, 5, 45),   # u2: 10:05-10:45 (gaps < 30 min merge)
    }


def test_stream_static_enrichment_broadcasts_dim(spark, tmp_path: Path):
    """J2 streaming form: a micro-batch stream left-joins a static dim via
    enrich_stream; matched keys carry dim attributes, unmatched keys
    survive with nulls (no dropped events), and the stream side is never
    shuffled (broadcast join)."""
    from egal_yet_another_earthquake_project_spark.streaming.joins import enrich_stream

    events = spark.createDataFrame(
        [(1, 0, 10.0), (2, 24, 20.0), (3, 99, 30.0)],
        "event_id long, n_nationkey int, value double",
    )
    src = tmp_path / "ev"
    events.write.parquet(str(src))
    dim = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

    stream = stream_parquet_dir(
        spark, str(src), "event_id long, n_nationkey int, value double"
    )
    enriched = enrich_stream(stream, dim, on="n_nationkey")
    _run_stream_to_memory(enriched, "enrich_out", str(tmp_path / "ckpt"))

    rows = {r.event_id: r for r in spark.sql("SELECT * FROM enrich_out").collect()}
    assert len(rows) == 3
    assert rows[1].n_name is not None and rows[2].n_name is not None
    assert rows[3].n_name is None  # unmatched key kept, null-extended


def test_silver_with_quarantine_splits_batches(spark, tmp_path):
    """A micro-batch mixing valid envelopes and garbage payloads must
    land valid rows in silver and garbage (payload + reason) in the
    dead-letter path — one source read, one checkpoint, both sinks."""
    import json as _json

    from egal_yet_another_earthquake_project_spark.schemas import KAFKA_ENVELOPE
    from egal_yet_another_earthquake_project_spark.sources.files import (
        stream_parquet_dir,
    )
    from egal_yet_another_earthquake_project_spark.streaming.silver import (
        silver_with_quarantine,
    )
    from egal_yet_another_earthquake_project_spark.testing import fixtures

    good = fixtures.kafka_envelopes(
        fixtures.earthquake_events(
            n=5, seed=3, dup_rate=0.0, update_rate=0.0, bad_date_rate=0.0
        )
    )
    # envelope rows are (key, value, topic, partition, offset, ts, tsType)
    garbage = [
        (None, bytearray(b"{broken json"), "earthquakeRaw", 0, 100, None, 0),
        (None, bytearray(b""), "earthquakeRaw", 0, 101, None, 0),
    ]
    src = tmp_path / "in"
    spark.createDataFrame(good + garbage, KAFKA_ENVELOPE).coalesce(1).write.parquet(
        str(src / "b1")
    )
    q = silver_with_quarantine(
        stream_parquet_dir(spark, str(src) + "/*", KAFKA_ENVELOPE),
        str(tmp_path / "silver"),
        str(tmp_path / "dead"),
        str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    silver = spark.read.parquet(str(tmp_path / "silver"))
    assert silver.count() == 5
    assert "fault_line" in silver.columns
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    got = {(r.payload, r.reason) for r in dead}
    assert got == {
        ("{broken json", "unparseable_json"),
        ("", "null_payload"),
    }


def test_silver_with_quarantine_replay_is_idempotent(spark, tmp_path):
    """A crash between the silver write and the checkpoint commit makes
    foreachBatch REPLAY the batch — the dynamic _batch_id-partition
    overwrite must absorb the replay instead of appending duplicates in
    either sink. Simulated by invoking the sink function twice with the
    same batch_id, exactly what recovery does."""
    from egal_yet_another_earthquake_project_spark.schemas import KAFKA_ENVELOPE
    from egal_yet_another_earthquake_project_spark.sources.files import (
        stream_parquet_dir,
    )
    from egal_yet_another_earthquake_project_spark.streaming.silver import (
        silver_with_quarantine,
    )
    from egal_yet_another_earthquake_project_spark.testing import fixtures

    good = fixtures.kafka_envelopes(
        fixtures.earthquake_events(
            n=4, seed=7, dup_rate=0.0, update_rate=0.0, bad_date_rate=0.0
        )
    )
    garbage = [(None, bytearray(b"not json"), "earthquakeRaw", 0, 9, None, 0)]
    src = tmp_path / "in"
    spark.createDataFrame(good + garbage, KAFKA_ENVELOPE).coalesce(1).write.parquet(
        str(src / "b1")
    )
    q = silver_with_quarantine(
        stream_parquet_dir(spark, str(src) + "/*", KAFKA_ENVELOPE),
        str(tmp_path / "silver"),
        str(tmp_path / "dead"),
        str(tmp_path / "ck"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    silver_once = spark.read.parquet(str(tmp_path / "silver")).count()
    dead_once = spark.read.parquet(str(tmp_path / "dead")).count()
    assert silver_once == 4 and dead_once == 1

    # replay batch 0: a second stream over the same input with a FRESH
    # checkpoint re-delivers batch 0 into the same sink paths — the
    # at-least-once retry shape recovery performs
    q2 = silver_with_quarantine(
        stream_parquet_dir(spark, str(src) + "/*", KAFKA_ENVELOPE),
        str(tmp_path / "silver"),
        str(tmp_path / "dead"),
        str(tmp_path / "ck2"),  # fresh checkpoint => batch 0 replays
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    assert spark.read.parquet(str(tmp_path / "silver")).count() == silver_once
    assert spark.read.parquet(str(tmp_path / "dead")).count() == dead_once
