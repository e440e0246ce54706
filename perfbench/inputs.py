"""Seeded input generators. The seed is a benchmark argument; the engine
only ever sees the files written here.

* Kafka-envelope parquet built from the engine's own AFAD fixture generator
  (overlap duplicates, update re-sends, malformed dates).
* Per-tick envelope batches for the open-loop stream, each with a contiguous
  eventID range, event times that advance with the tick, overlap re-sends of
  the previous tick and a share of deliberately late events.
* The dashboard star: an ``events`` fact table plus ``nation``/``region``
  dimensions in the shape the declared queries read.
* A ``documents`` table for the corpus-curation job.
"""

from __future__ import annotations

import json
import math
import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from egal_yet_another_earthquake_project_spark.testing.fixtures import earthquake_events

ENVELOPE_ARROW = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def envelope_table(payloads: list[dict], first_offset: int = 0) -> pa.Table:
    """AFAD payload dicts → Kafka source envelope rows (engine schema)."""
    n = len(payloads)
    return pa.table(
        {
            "key": pa.nulls(n, pa.binary()),
            "value": [json.dumps(p, ensure_ascii=False).encode() for p in payloads],
            "topic": ["earthquakeRaw"] * n,
            "partition": pa.array([0] * n, pa.int32()),
            "offset": pa.array(range(first_offset, first_offset + n), pa.int64()),
            "timestamp": pa.nulls(n, pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * n, pa.int32()),
        },
        schema=ENVELOPE_ARROW,
    )


def write_bronze(events: list[dict], path: str, files: int) -> None:
    """Write the envelopes as ``files`` parquet parts under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = math.ceil(len(events) / files)
    for i in range(files):
        part = events[i * step : (i + 1) * step]
        pq.write_table(envelope_table(part, i * step), os.path.join(path, f"part-{i:04d}.parquet"))


def batch_events(n_base: int, seed: int) -> list[dict]:
    """~1.25·n_base raw events: base events, verbatim duplicates, update
    re-sends and malformed dates, as the engine fixture defines them."""
    return earthquake_events(n=n_base, seed=seed)


# ---------------------------------------------------------------------------
# Open-loop stream ticks
# ---------------------------------------------------------------------------

STREAM_EPOCH = datetime(2024, 3, 1)
LATE_SHARE = 0.02
RESEND_SHARE = 0.05
#: The fixture numbers base event i as 500000 + i.
FIXTURE_FIRST_ID = 500000


def stream_tick(
    seed: int, tick: int, first_id: int, n_base: int, tick_s: float, prev: list[dict], late: bool
) -> tuple[list[dict], set[str]]:
    """One generator tick: ``(payloads, late_ids)``.

    Base event ``i`` gets eventID ``first_id + i`` and an event time that
    advances ``tick_s`` per tick; its duplicates and update re-sends keep
    that id. When ``late`` is set, a share of the base events is dated a
    month back, behind the engine's 7-day dedup watermark, and malformed
    dates appear (the engine maps them to its 2010 default, so they are late
    too). A share of ``prev``, the previous tick's payloads, is re-sent
    verbatim, like the reference's overlapping polls.
    """
    rng = random.Random(seed * 1_000_003 + tick)
    when = STREAM_EPOCH + timedelta(seconds=tick * tick_s)
    raw = earthquake_events(
        n=n_base, seed=rng.randrange(2**31), start=when, bad_date_rate=0.02 if late else 0.0
    )
    back = set(rng.sample(range(n_base), round(n_base * LATE_SHARE))) if late else set()
    late_ids: set[str] = set()
    out = []
    for ev in raw:
        i = int(ev["eventID"]) - FIXTURE_FIRST_ID
        ev = dict(ev, eventID=str(first_id + i))
        if ev["date"] == "not a timestamp" or i in back:
            late_ids.add(ev["eventID"])
        if ev["date"] != "not a timestamp":
            stamp = when - timedelta(days=30) if i in back else when
            ev["date"] = stamp.strftime("%Y-%m-%d %H:%M:%S")
        out.append(ev)
    out += [dict(p) for p in rng.sample(prev, round(len(prev) * RESEND_SHARE))]
    return out, late_ids


# ---------------------------------------------------------------------------
# Dashboard star
# ---------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
EVENT_WEIGHTS = (40, 30, 15, 10, 5)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def write_dashboard_tables(sf_dir: str, n_events: int, seed: int) -> None:
    """``events``/``nation``/``region`` parquet under ``sf_dir`` in the
    layout ``sources.files.read_table`` reads: a week of second-grain
    timestamps (so the minute series has gaps), ~20 events per user (so the
    trailing z-score has history) and a long-tailed value."""
    rng = random.Random(seed)
    start = datetime(2024, 1, 1)
    week_s = 7 * 24 * 3600
    n_users = max(1, n_events // 20)
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(
                [start + timedelta(seconds=rng.randrange(week_s)) for _ in range(n_events)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
            "event_type": rng.choices(EVENT_TYPES, EVENT_WEIGHTS, k=n_events),
            "value": [round(rng.lognormvariate(3.0, 1.2), 2) for _ in range(n_events)],
            "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in (("events", events), ("nation", nation), ("region", region)):
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Documents for corpus curation
# ---------------------------------------------------------------------------

DOC_WORDS = (
    "quake fault shear depth focal strain crust plate slip rupture "
    "station sensor signal wave phase pulse swarm shock tremor uplift "
    "basin ridge trench mantle magma stress energy field region valley"
).split()
DOC_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "with", "that", "for")


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """A ``documents`` table in the layout of the engine's test data
    (``doc_id``, ``text``, ``lang``, ``source``, ``n_chars``): English-like
    word soups over 8 sources, with a share of short or stopword-free docs
    the quality/language gates drop, exact duplicates that differ only in
    case and spacing, and near-duplicates with one word changed."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.1:
            texts.append("  " + rng.choice(texts).upper())
        elif texts and r < 0.2:
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
            texts.append(" ".join(words))
        elif r < 0.25:
            texts.append(" ".join(rng.choices(DOC_WORDS, k=rng.randrange(5, 15))))
        else:
            n = rng.randrange(40, 160)
            texts.append(
                " ".join(rng.choice(DOC_STOPWORDS if rng.random() < 0.3 else DOC_WORDS) for _ in range(n))
            )
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{rng.randrange(8)}" for _ in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
