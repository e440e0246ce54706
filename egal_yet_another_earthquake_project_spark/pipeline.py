"""End-to-end pipelines: the reference's job graph, Spark-first.

Batch (E2+E3, /root/reference/sparktoELKstream.py): bronze Kafka-envelope
archive → silver typed/deduped/enriched events → gold analytics + ES sink.
One Catalyst plan per output; the silver frame is cached once instead of
re-parsed per action (the reference re-executes the full parse for every
count/collect — SURVEY §3 E3).

Streaming (E1): the same silver record — ``operators.parse.silver_events``
is the only definition, and streaming/silver.py ``parsed_stream`` calls it
on the stream exactly as :func:`bronze_to_silver` does here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from egal_yet_another_earthquake_project_spark.operators.analytics import (
    distinct_group_keys,
    threshold_counts_by_group,
)
from egal_yet_another_earthquake_project_spark.operators.dedup import latest_by_key
from egal_yet_another_earthquake_project_spark.operators.parse import (
    decode_envelope,
    parse_events_raw,
    silver_events,
)
from egal_yet_another_earthquake_project_spark.operators.stats import (
    describe_numeric,
    global_extrema,
)

#: The reference's numeric analytic columns (sparktoELKstream.py:188-197).
NUMERIC_COLS = ("depth", "magnitude", "longitude", "latitude", "rms")


def bronze_to_silver(envelopes: DataFrame) -> DataFrame:
    """Kafka envelope rows → typed, enriched, exactly-one-row-per-event
    silver frame. Last-update-wins on (eventID): the AFAD re-send carries
    isEventUpdate/lastUpdateDate (ST5) — the reference's full-row distinct
    kept both versions; here the newest wins deterministically. Payloads
    without a usable eventID are dropped by ``silver_events``."""
    return latest_by_key(
        silver_events(parse_events_raw(decode_envelope(envelopes))),
        keys=["eventID"],
        order_col="lastUpdateDate",
        tiebreak=["date"],
    )


@dataclass
class GoldOutputs:
    """The gold-layer analytic set (E3's print blocks as DataFrames)."""

    column_stats: DataFrame
    region_counts: DataFrame
    provinces_with_m4: DataFrame
    magnitude_extrema: DataFrame
    es_documents: DataFrame = field(repr=False)


def silver_to_gold(silver: DataFrame, min_magnitude: float = 4.0) -> GoldOutputs:
    """All reference analytics from one cached silver frame: descriptive
    stats (A3), region threshold counts (the flagship), distinct provinces
    above threshold (A8), global extrema (A7), and the ES document set."""
    cached = silver.cache()
    return GoldOutputs(
        column_stats=describe_numeric(cached, list(NUMERIC_COLS)),
        region_counts=threshold_counts_by_group(
            cached, "fault_line", "magnitude", min_magnitude
        ),
        provinces_with_m4=distinct_group_keys(
            cached, "province", "magnitude", min_magnitude
        ),
        magnitude_extrema=global_extrema(cached, "magnitude"),
        es_documents=cached,
    )


def run_batch(envelopes: DataFrame, es_writer=None, min_magnitude: float = 4.0) -> GoldOutputs:
    """The full batch pipeline; pass ``es_writer(df)`` (e.g. a closure over
    sinks.elasticsearch.write_to_es) to ship documents."""
    gold = silver_to_gold(bronze_to_silver(envelopes), min_magnitude)
    if es_writer is not None:
        es_writer(gold.es_documents)
    return gold
