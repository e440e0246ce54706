"""Unit tests for reference-parity operators on tiny in-memory frames
(SURVEY §5 test plan #1)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from egal_yet_another_earthquake_project_spark.dims import (
    BATI_ANADOLU,
    DOGU_ANADOLU,
    KUZEY_ANADOLU,
    province_region_rows,
)
from egal_yet_another_earthquake_project_spark.operators import (
    dedup,
    enrich,
    joins,
    parse,
    stats,
)


def _raw_event(**overrides) -> str:
    base = {
        "date": "2023-02-06 04:17:00",
        "rms": "0.7",
        "eventID": "541823",
        "location": "Pazarcık (Kahramanmaraş)",
        "latitude": "37.288",
        "longitude": "37.043",
        "depth": "8.6",
        "type": "EQ",
        "magnitude": "7.7",
        "country": "Türkiye",
        "province": "Kahramanmaraş",
        "district": "Pazarcık",
        "neighborhood": None,
        "isEventUpdate": "false",
        "lastUpdateDate": None,
    }
    base.update(overrides)
    return json.dumps(base, ensure_ascii=False)


def test_parse_and_type_events(spark):
    raw = spark.createDataFrame(
        [(bytearray(_raw_event().encode("utf-8")),)], "value binary"
    )
    typed = parse.typed_events(
        parse.parse_events_raw(parse.decode_envelope(raw))
    )
    row = typed.collect()[0]
    assert row.magnitude == 7.7
    assert row.depth == 8.6
    assert row.eventID == 541823
    assert row.pointLocation == "37.288,37.043"
    assert row.isEventUpdate is False
    assert row.date.isoformat().startswith("2023-02-06T04:17")


def test_parse_bad_date_defaults(spark):
    raw = spark.createDataFrame(
        [(bytearray(_raw_event(date="not-a-date").encode("utf-8")),)], "value binary"
    )
    typed = parse.typed_events(parse.parse_events_raw(parse.decode_envelope(raw)))
    assert typed.collect()[0].date.year == 2010  # F11 default


def test_fault_line_matches_province_region_rows(spark):
    listed = province_region_rows()
    provinces = [p for p, _ in listed] + ["Rize", "Kilis", None]
    df = spark.createDataFrame([(p,) for p in provinces], "province string")
    got = {r.province: r.fault_line for r in enrich.with_fault_line(df).collect()}
    # unlisted and null provinces → empty bucket (reference :69-70)
    assert got == {**dict(listed), "Rize": "", "Kilis": "", None: ""}
    assert got["Kahramanmaraş"] == DOGU_ANADOLU
    assert got["İstanbul"] == KUZEY_ANADOLU
    assert got["İzmir"] == BATI_ANADOLU


def test_reference_view_all_string(spark):
    raw = spark.createDataFrame(
        [(bytearray(_raw_event().encode("utf-8")),)], "value binary"
    )
    typed = parse.typed_events(parse.parse_events_raw(parse.decode_envelope(raw)))
    view = parse.to_reference_view(typed)
    assert all(f.dataType.simpleString() == "string" for f in view.schema.fields)
    assert view.collect()[0].date == "2023-02-06T04:17"


def test_latest_by_key_last_update_wins(spark):
    df = spark.createDataFrame(
        [(1, "2023-01-01 00:00:00", "old"), (1, "2023-01-02 00:00:00", "new"),
         (2, "2023-01-01 00:00:00", "only")],
        "id long, ts string, payload string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.id: r.payload for r in dedup.latest_by_key(df, ["id"], "ts").collect()}
    assert out == {1: "new", 2: "only"}


def test_describe_numeric_sample_variance(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    got = {
        (r.column, r.statistic): r.value
        for r in stats.describe_numeric(df, ["x"]).collect()
    }
    assert got[("x", "count")] == 4.0
    assert got[("x", "mean")] == 2.5
    assert got[("x", "variance")] == pytest.approx(5.0 / 3.0)  # unbiased
    assert got[("x", "sum")] == 10.0


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2023-01-01 10:00:30"), (2, "2023-01-01 10:05:00"),
         (3, "2023-01-01 09:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [("2023-01-01 10:00:00", 1.5), ("2023-01-01 10:05:00", 2.5)],
        "time string, v double",
    ).withColumn("time", F.to_timestamp("time"))
    out = {
        r.id: r.v
        for r in joins.asof_join(
            left, right, "ts", "time", ["v"], tolerance_minutes=60
        ).collect()
    }
    assert out[1] == 1.5  # most recent at-or-before
    assert out[2] == 2.5  # exactly coincident sample is visible
    assert out[3] is None  # nothing before 09:00


def test_range_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, "2023-01-01 10:00:00"), (2, "2023-01-01 12:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    times = [(f"2023-01-01 {h:02d}:{m:02d}:00",) for h in (9, 10, 11, 12) for m in (0, 4, 6)]
    right = spark.createDataFrame(times, "time string").withColumn(
        "time", F.to_timestamp("time")
    )
    out = joins.range_join(left, right, tolerance_minutes=5)
    got = sorted((r.id, r.time.strftime("%H:%M")) for r in out.collect())
    # ±5 min around 10:00 → {10:00, 10:04}; 10:06 is outside; same at 12:00.
    assert got == [
        (1, "10:00"), (1, "10:04"),
        (2, "12:00"), (2, "12:04"),
    ]


def test_quarantine_split_routes_malformed_payloads(spark):
    """Valid docs parse; garbage, empty and id-less payloads land in
    quarantine with the original payload intact (replayable) and a typed
    reason."""
    from egal_yet_another_earthquake_project_spark.operators.parse import (
        quarantine_split,
    )

    rows = [
        ('{"eventID": "1", "province": "Izmir"}',),
        ("not json at all {",),
        ("",),
        (None,),
        ('{"eventID": "2"}',),
        ('{"province": "Izmir"}',),
    ]
    df = spark.createDataFrame(rows, "ascii_value string")
    ok, bad = quarantine_split(df)
    for side in (ok, bad):  # each side parses every payload once
        plan = side._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json") == 1, plan
    assert sorted(r.eventID for r in ok.collect()) == ["1", "2"]
    got = {(r.payload, r.reason) for r in bad.collect()}
    assert got == {
        ("not json at all {", "unparseable_json"),
        ("", "null_payload"),
        (None, "null_payload"),
        ('{"province": "Izmir"}', "missing_event_id"),
    }


def test_interval_overlap_join_semantics(spark):
    """Binned interval join: overlapping pairs found exactly once (even
    when they share many buckets), touching endpoints are NOT overlaps
    (strict inequalities), containment counts, and an interval spanning
    more than max_buckets fails loudly instead of exploding a stage."""
    from egal_yet_another_earthquake_project_spark.operators.joins import (
        interval_overlap_join,
    )

    def iv(rows, pfx):
        return spark.createDataFrame(
            [(i, f"2024-01-01 {s}", f"2024-01-01 {e}") for i, s, e in rows],
            f"{pfx}_id long, start string, end string",
        ).selectExpr(
            f"{pfx}_id",
            f"CAST(start AS TIMESTAMP) AS {pfx}_start",
            f"CAST(end AS TIMESTAMP) AS {pfx}_end",
        )

    a = iv(
        [
            (1, "00:00:00", "02:00:00"),   # long: 24 five-min buckets
            (2, "03:00:00", "03:10:00"),
            (3, "05:00:00", "05:01:00"),
        ],
        "a",
    )
    b = iv(
        [
            (10, "00:30:00", "01:40:00"),  # contained in a1, many shared buckets
            (11, "03:10:00", "03:20:00"),  # touches a2 endpoint: NOT overlap
            (12, "04:59:00", "05:30:00"),  # overlaps a3
            (13, "23:00:00", "23:30:00"),  # overlaps nothing
        ],
        "b",
    )
    pairs = {
        (r.a_id, r.b_id)
        for r in interval_overlap_join(a, b).select("a_id", "b_id").collect()
    }
    assert pairs == {(1, 10), (3, 12)}

    # the long pair (1, 10) shares 14+ buckets — exactly-once asserted
    rows = interval_overlap_join(a, b).filter("a_id = 1 AND b_id = 10").count()
    assert rows == 1

    with pytest.raises(Exception, match="more than"):
        interval_overlap_join(a, b, bucket_minutes=5, max_buckets=10).filter(
            "a_id = 1"
        ).count()

    # INVERTED interval (end before start): |span| is negative, so the
    # old span-only guard passed it and F.sequence generated a huge
    # DESCENDING fan-out — the exact skew cliff the guard exists for.
    # Must fail loudly, same as the over-span case.
    bad = iv([(99, "12:00:00", "00:05:00")], "a")  # end 11h55m BEFORE start
    with pytest.raises(Exception, match="inverted|more than"):
        interval_overlap_join(bad, b).count()
