"""E1+E2 fused, streaming: envelope stream → silver parse/dedup →
foreachBatch ES bulk upsert — the reference's whole job graph as one
long-running query, with the publish-frame round-trip (S12) on top."""

from __future__ import annotations

import json
from pathlib import Path

from egal_yet_another_earthquake_project_spark.schemas import KAFKA_ENVELOPE
from egal_yet_another_earthquake_project_spark.sinks.elasticsearch import (
    streaming_es_sink,
)
from egal_yet_another_earthquake_project_spark.sources.files import stream_parquet_dir
from egal_yet_another_earthquake_project_spark.sources.kafka import to_publish_frame
from egal_yet_another_earthquake_project_spark.streaming.silver import (
    dedup_stream,
    parsed_stream,
)
from egal_yet_another_earthquake_project_spark.testing import fixtures


def test_streaming_silver_to_es(spark, tmp_path: Path):
    events = fixtures.earthquake_events(n=40, bad_date_rate=0.0)
    # an unparseable envelope has no eventID and must never be indexed
    garbage = (None, bytearray(b"{broken json"), "earthquakeRaw", 0, 999, None, 0)
    src = tmp_path / "bronze"
    spark.createDataFrame(
        fixtures.kafka_envelopes(events) + [garbage], KAFKA_ENVELOPE
    ).write.parquet(str(src))

    out_dir = tmp_path / "bulk"
    out_dir.mkdir()

    def file_transport(url: str, payload: str) -> None:
        import uuid

        (out_dir / f"{uuid.uuid4().hex}.ndjson").write_text(payload)

    stream = stream_parquet_dir(spark, str(src), KAFKA_ENVELOPE)
    silver = dedup_stream(parsed_stream(stream))
    q = (
        silver.writeStream.foreachBatch(
            streaming_es_sink("earthquake-all", transport=file_transport)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    ids, docs = set(), []
    for f in out_dir.glob("*.ndjson"):
        for line in f.read_text().splitlines():
            rec = json.loads(line)
            if "index" in rec:
                ids.add(rec["index"]["_id"])
            else:
                docs.append(rec)
    expected_ids = {e["eventID"] for e in events}
    assert ids == expected_ids  # every event indexed once, no "None" id
    assert all(d["fault_line"] is not None for d in docs)
    assert {d["country"] for d in docs} == {"Türkiye"}


def test_publish_frame_roundtrip(spark):
    events = fixtures.earthquake_events(n=10, bad_date_rate=0.0, dup_rate=0.0, update_rate=0.0)
    df = spark.createDataFrame(
        [(e["eventID"], e["province"], e["magnitude"]) for e in events],
        "eventID string, province string, magnitude string",
    )
    pub = to_publish_frame(df, key_col="eventID")
    assert pub.columns == ["key", "value"]
    row = pub.collect()[0]
    body = json.loads(row.value)
    assert body["eventID"] == row.key
    assert set(body) == {"eventID", "province", "magnitude"}
